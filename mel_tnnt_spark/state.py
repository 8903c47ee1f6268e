"""Crash-safe on-disk state for the maintained operators.

Every maintained operator keeps its state as named entries under a
root directory (`seg-<n>`, `v=<n>`, `batch=<tag>`, ...) plus small
JSON files. This is the only module that knows how either becomes
visible. The crash windows, stated once for all of them:

- `publish` writes `__staging-<name>`, then renames it to `<name>`.
  Before the rename the entry is invisible (`entries` and `numbered`
  never list staging) and a retry overwrites the staging; after the
  rename it is committed. Replacing an entry deletes the old one just
  before the rename, so a kill there leaves the name absent until the
  retry publishes it again. `sweep` drops staging that no retry will
  overwrite because it publishes under another name.
- `write_json` writes a temp file and renames it over the target, so
  readers see the old content or the new, never a prefix. `pin`
  stores a definition once and returns the stored copy.
"""

from __future__ import annotations

import json
import os
import shutil

_STAGING = "__staging-"


def publish(df, root: str, name: str, partition_by: str | None = None) -> str:
    """Write `df` as parquet to the entry `root/name`, replacing an
    entry of that name. Returns the entry's path."""
    staging = os.path.join(root, _STAGING + name)
    final = os.path.join(root, name)
    shutil.rmtree(staging, ignore_errors=True)
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(staging)
    if os.path.isdir(final):
        shutil.rmtree(final)
    os.rename(staging, final)
    return final


def entries(root: str, prefix: str) -> list[str]:
    """Sorted names of the committed entries under `root` with `prefix`."""
    if not os.path.isdir(root):
        return []
    return sorted(
        d for d in os.listdir(root)
        if d.startswith(prefix) and not d.startswith(_STAGING)
    )


def numbered(root: str, prefix: str) -> list[int]:
    """Sorted numbers n of the committed entries named `<prefix><n>`."""
    tails = (d[len(prefix):] for d in entries(root, prefix))
    return sorted(int(t) for t in tails if t.isdecimal())


def sweep(root: str) -> None:
    """Delete every staging entry under `root`."""
    if os.path.isdir(root):
        for d in os.listdir(root):
            if d.startswith(_STAGING):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def read_json(path: str, default=None):
    """The JSON stored at `path`, or `default` when there is none."""
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def write_json(path: str, obj) -> None:
    """Replace the file at `path` with `obj` as JSON (os.rename
    replaces an existing file atomically on POSIX)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.rename(path + ".tmp", path)


def pin(path: str, meta: dict) -> dict:
    """The definition stored at `path`; stores `meta` there first
    when there is none."""
    if not os.path.exists(path):
        write_json(path, meta)
    return read_json(path)
