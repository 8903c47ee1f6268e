"""S6 — keyed insert/update/delete sink (MERGE semantics), O(touched).

The reference mutates per-document records in CouchDB (insert/update/
delete by doc key, code/MEL/__init__.py:2365-2423 and the CouchDB
Dataset plumbing). The lakehouse-native equivalent is Iceberg
`MERGE INTO target USING changes ON keys`; this module implements those
semantics over parquet with Iceberg's commit design and cost model
(https://iceberg.apache.org/spec/):

- the table is laid out in key-hash buckets
  (`kb=pmod(xxhash64(bucket_keys), n_buckets)`);
- DATA FILES ARE IMMUTABLE. Merge N reads only the buckets its change
  keys hash into, anti-joins the touched keys out, unions the upserts
  back and writes those buckets' new versions under `data/v<N>/kb=<b>/`.
  I/O is O(|touched buckets|), not O(|table|);
- a MANIFEST per snapshot (`snaps/s<N>.json`) records the keys,
  bucket_keys, n_buckets, the schema and the bucket -> version map,
  copied forward from the parent except the buckets this merge touched;
- THE COMMIT IS ONE POINTER SWAP: `_current` is replaced by
  `state.write_json`. A kill before the swap leaves orphan data and
  manifest files that readers never see and the replay overwrites; a
  kill after it is the commit. Replaying a merge is idempotent.
- a merge may carry `txn=(app_id, version)`, Delta Lake's `txn`
  action (https://github.com/delta-io/delta/blob/master/PROTOCOL.md):
  the manifest records `txn: {app_id: last_version}`, copied forward
  from the parent, so the applied version commits in the same swap as
  the data. A merge whose version is <= the recorded one for its app
  id is a no-op, which makes a replayed additive merge (a streaming
  micro-batch re-run after a kill past the swap) exactly-once.

On top of that: time travel (`read_merged(..., as_of=N)`), schema
evolution (a merge may add columns; older rows read NULL) and
`expire_snapshots`, which drops old manifests and every bucket version
no retained manifest references.

Scale notes: no driver collect beyond the <= n_buckets touched-bucket
ids. On a real deployment, swap `merge_upsert` for
`spark.sql("MERGE INTO ...")` against an Iceberg table partitioned by
`bucket(n, keys)` and `as_of` for `VERSION AS OF`; call sites are
agnostic.

Change-row contract: `op` column in {'upsert','delete'} (absent op
column = all upserts), remaining columns = target schema.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from mel_tnnt_spark.state import numbered, read_json, write_json

_BUCKET_COL = "kb"
_CURRENT = "_current"
_SNAPS = "snaps"
_DATA = "data"
# everything the sink itself writes at a table root (".tmp": a kill
# inside the pointer's write_json)
_OWN = {_CURRENT, _CURRENT + ".tmp", _SNAPS, _DATA}
DEFAULT_N_BUCKETS = 16  # sandbox scale; hundreds on a real cluster


def _bucket_expr(keys: tuple[str, ...], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def _manifest_path(table: str, sid: int) -> str:
    return os.path.join(table, _SNAPS, f"s{sid}.json")


def current_snapshot(table: str) -> int | None:
    """Snapshot id the commit pointer names; None while nothing is
    committed (no directory, or only the orphans of a killed first
    merge). Raises on a root the sink did not write, so a foreign or
    pre-manifest layout is never merged or read as an empty table."""
    if os.path.exists(table):
        foreign = sorted(set(os.listdir(table)) - _OWN) if os.path.isdir(table) else [table]
        if foreign:
            raise ValueError(
                f"merge sink: {table} is not a merge-sink table (it holds "
                f"{foreign[:5]}); refusing to treat it as empty. Rebuild it "
                "or point the sink at a new path."
            )
    return read_json(os.path.join(table, _CURRENT))


def snapshots(table: str) -> list[dict]:
    """The retained committed manifests, oldest first: the history."""
    out, sid = [], current_snapshot(table)
    while sid is not None and os.path.exists(_manifest_path(table, sid)):
        out.append(read_json(_manifest_path(table, sid)))
        sid = out[-1]["parent_id"]
    return out[::-1]


def _manifest(table: str, as_of: int | None = None) -> dict:
    """The committed manifest of snapshot `as_of` (default: current)."""
    cur = current_snapshot(table)
    if cur is None:
        raise ValueError(f"merge sink: {table} has no committed snapshot")
    sid = cur if as_of is None else as_of
    if sid > cur or not os.path.exists(_manifest_path(table, sid)):
        have = [m["snapshot_id"] for m in snapshots(table)]
        raise ValueError(
            f"merge sink: snapshot {sid} of {table} does not exist or was "
            f"expired; retained: {have}"
        )
    return read_json(_manifest_path(table, sid))


def _read(spark: SparkSession, table: str, buckets: dict, schema: StructType) -> DataFrame:
    """The given bucket versions read with `schema` (columns a file
    lacks read NULL). Each path is a bucket dir, so no partition column
    is inferred and no footer is read for schema inference."""
    if not buckets:
        return spark.createDataFrame([], schema)
    paths = [
        os.path.join(table, _DATA, d, f"{_BUCKET_COL}={b}")
        for b, d in sorted(buckets.items(), key=lambda kv: int(kv[0]))
    ]
    return spark.read.schema(schema).parquet(*paths)


def read_merged(
    spark: SparkSession, target_path: str, as_of: int | None = None
) -> DataFrame:
    """The table as of snapshot `as_of` (default: current), with that
    snapshot's schema. Raises when nothing is committed, or the snapshot
    was never committed or has been expired."""
    man = _manifest(target_path, as_of)
    return _read(spark, target_path, man["buckets"], StructType.fromJson(man["schema"]))


def read_merged_pruned(
    spark: SparkSession,
    target_path: str,
    probe: DataFrame,
    touched_buckets: set | None = None,
) -> DataFrame:
    """Read ONLY the buckets of a merge-maintained table that `probe`'s
    bucket-key values hash into — the point of a bucket_keys layout: a
    join/anti-join against a small probe touches O(|probe buckets|)
    partitions, not O(|table|). Superset semantics: the result contains
    every table row whose bucket-key tuple occurs in the probe (plus
    bucket-mates); the caller's join does the exact filtering.

    The probe must contain the table's bucket_keys columns. Bounded
    driver collect: at most n_buckets distinct bucket ids.

    touched_buckets: pre-computed bucket-id set for the probe — MUST
    come from the same bucket function/count this table's manifest
    records (a caller folding one batch into base + log layouts
    computes it once instead of running the probe collect per layout)."""
    man = _manifest(target_path)
    if touched_buckets is None:
        kb = _bucket_expr(tuple(man["bucket_keys"]), int(man["n_buckets"]))
        touched_buckets = {r[0] for r in probe.select(kb.alias("_b")).distinct().collect()}
    live = {b: d for b, d in man["buckets"].items() if int(b) in touched_buckets}
    return _read(spark, target_path, live, StructType.fromJson(man["schema"]))


def _align(df: DataFrame, schema: StructType) -> DataFrame:
    return df.select(*[
        (F.col(f.name) if f.name in df.columns else F.lit(None))
        .cast(f.dataType).alias(f.name)
        for f in schema.fields
    ])


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    keys: tuple[str, ...],
    op_col: str | None = "op",
    n_buckets: int = DEFAULT_N_BUCKETS,
    bucket_keys: tuple[str, ...] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """MERGE changes into the bucketed parquet table at target_path and
    commit a new snapshot; returns its id. Matched + upsert -> replaced
    by the change row; matched + delete -> removed; unmatched upsert ->
    inserted. Reads and writes ONLY the key-hash buckets the change
    batch touches. New non-key columns extend the schema (older rows
    read NULL); previously known columns missing from `changes` are
    NULL-filled, never dropped.

    bucket_keys: optional PREFIX dimension to lay the table out on — a
    subset of `keys` (default: all of them). An index keyed
    (fingerprint, id) but bucketed on (fingerprint,) lets a reader
    prune to the buckets a probe's fingerprints hash into
    (read_merged_pruned) — the Iceberg `bucket(n, fingerprint)` layout.
    Merge cost is unchanged: a change row's bucket is still a pure
    function of its key columns. The layout is fixed by the first
    merge.

    txn: (app_id, version) of the writer's batch. When the current
    manifest already records a version >= `version` for `app_id`, the
    merge is skipped without running a Spark job and the current
    snapshot id is returned."""
    op_col = op_col or "op"
    if op_col not in changes.columns:
        changes = changes.withColumn(op_col, F.lit("upsert"))
    bucket_keys = tuple(bucket_keys) if bucket_keys is not None else tuple(keys)
    if not set(bucket_keys) <= set(keys):
        raise ValueError(
            f"merge_upsert: bucket_keys {list(bucket_keys)} must be a subset "
            f"of keys {list(keys)} — otherwise a key does not determine its "
            "bucket and the touched-bucket rewrite would lose rows"
        )

    parent_sid = current_snapshot(target_path)
    parent = _manifest(target_path) if parent_sid is not None else None
    applied = dict(parent.get("txn", {})) if parent is not None else {}
    if txn is not None:
        app_id, txn_version = txn
        if app_id in applied and txn_version <= applied[app_id]:
            return parent_sid
        applied[app_id] = txn_version
    change_schema = StructType([
        StructField(f.name, f.dataType) for f in changes.schema.fields if f.name != op_col
    ])
    if parent is None:
        schema = change_schema
    else:
        n_buckets = int(parent["n_buckets"])
        if parent["keys"] != list(keys):
            raise ValueError(
                f"merge_upsert: table at {target_path} is bucketed by keys "
                f"{parent['keys']}, merge called with {list(keys)} — bucket "
                "pruning would read the wrong partitions"
            )
        if parent["bucket_keys"] != list(bucket_keys):
            raise ValueError(
                f"merge_upsert: table at {target_path} is laid out on "
                f"bucket_keys {parent['bucket_keys']}, merge called with "
                f"{list(bucket_keys)}"
            )
        # schema evolution: the parent's columns and types win
        schema = StructType.fromJson(parent["schema"])
        for f in change_schema.fields:
            if f.name not in schema.fieldNames():
                schema = schema.add(f)
    if not set(keys) <= set(change_schema.fieldNames()):
        raise ValueError(f"merge_upsert: changes lack key columns {list(keys)}")
    if _BUCKET_COL in schema.fieldNames():
        raise ValueError(
            f"merge_upsert: column name {_BUCKET_COL!r} is reserved for the "
            "bucket layout"
        )

    # Iceberg MERGE rejects a source row matching multiple times; the
    # mirror condition here is multiple change rows for one key, which
    # would otherwise leave duplicate keys in the keyed target
    dup = changes.groupBy(*keys).count().where(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(
            f"merge_upsert: multiple change rows for key {tuple(dup[0][k] for k in keys)}; "
            "dedupe the batch to one operation per key first"
        )

    # Pin the changes plan: it feeds the touched-bucket collect AND the
    # write, two actions that must see ONE consistent snapshot (a
    # non-deterministic/mutable-source plan could otherwise write
    # buckets the manifest never picks up).
    changes = changes.persist()
    try:
        kb = _bucket_expr(bucket_keys, n_buckets)
        # bounded collect: at most n_buckets distinct bucket ids
        touched = {r[0] for r in changes.select(kb.alias("_b")).distinct().collect()}
        live = dict(parent["buckets"]) if parent is not None else {}
        upserts = _align(changes.where(F.col(op_col) == "upsert"), schema)
        live_touched = {b: d for b, d in live.items() if int(b) in touched}
        merged = upserts
        if live_touched:
            merged = (
                _read(spark, target_path, live_touched, schema)
                .join(changes.select(*keys).distinct(), list(keys), "left_anti")
                .unionByName(upserts)
            )

        sid = 0 if parent_sid is None else parent_sid + 1
        version = f"v{sid}"
        out = os.path.join(target_path, _DATA, version)
        shutil.rmtree(out, ignore_errors=True)  # a killed attempt's orphan
        (
            merged.withColumn(_BUCKET_COL, kb)
            # repartition ON the bucket column before partitionBy:
            # without it the write inherits the scan partitioning of
            # everything the merge read, so every task holding rows of
            # a bucket emits a file into it — file count COMPOUNDS
            # across merges (measured: 512 -> 3255 files in 14 batches
            # on a 64-bucket table). One shuffle of the touched rows
            # buys exactly one file per touched bucket, forever.
            .repartition(F.col(_BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(_BUCKET_COL)
            .parquet(out)
        )
        # a touched bucket that wrote no rows had every key deleted
        buckets = {b: d for b, d in live.items() if int(b) not in touched}
        buckets.update({str(b): version for b in numbered(out, f"{_BUCKET_COL}=")})
        write_json(_manifest_path(target_path, sid), {
            "snapshot_id": sid,
            "parent_id": parent_sid,
            "keys": list(keys),
            "bucket_keys": list(bucket_keys),
            "n_buckets": n_buckets,
            "schema": schema.jsonValue(),
            "buckets": buckets,
            "txn": applied,
        })
        write_json(os.path.join(target_path, _CURRENT), sid)  # THE commit
        return sid
    finally:
        changes.unpersist()


def expire_snapshots(table: str, keep_last: int = 2) -> list[int]:
    """Keep the newest `keep_last` committed manifests (the current one
    always), delete the rest and every bucket version no kept manifest
    references — Iceberg's expire_snapshots plus orphan-file cleanup.
    Returns the expired snapshot ids. A kill part-way leaves only
    unreferenced files behind, which the next call deletes."""
    hist = snapshots(table)
    keep = hist[-max(keep_last, 1):]
    names = {os.path.basename(_manifest_path(table, m["snapshot_id"])) for m in keep}
    sdir = os.path.join(table, _SNAPS)
    for name in os.listdir(sdir) if os.path.isdir(sdir) else []:
        if name not in names:
            os.remove(os.path.join(sdir, name))  # expired, orphan or temp
    refs: dict[str, set[int]] = {}
    for m in keep:
        for b, d in m["buckets"].items():
            refs.setdefault(d, set()).add(int(b))
    ddir = os.path.join(table, _DATA)
    for d in os.listdir(ddir) if os.path.isdir(ddir) else []:
        if d not in refs:
            shutil.rmtree(os.path.join(ddir, d), ignore_errors=True)
            continue
        for b in set(numbered(os.path.join(ddir, d), f"{_BUCKET_COL}=")) - refs[d]:
            shutil.rmtree(os.path.join(ddir, d, f"{_BUCKET_COL}={b}"), ignore_errors=True)
    return [m["snapshot_id"] for m in hist[:len(hist) - len(keep)]]
