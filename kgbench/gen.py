"""Seeded input generators for the KG benchmark.

Everything here is a pure function of (seed, size). Nothing imports the
package under test, so a change to the package cannot change the load.
Shares are drawn as exact counts over shuffled indices rather than as
per-row coin flips: two seeds then differ in which rows carry a property,
not in how many do, which keeps run-to-run work steady across seeds.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CODE_SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
        ("content_sha", pa.string()),
        ("committed_at", pa.int64()),
    ]
)

# Input properties of the code_files table (recorded in README.md).
HOT_REPO_SHARE = 0.40  # rows in the single hot repo (skew)
TWO_COMMIT_SHARE = 0.10  # paths with an older second commit (latest-wins dedup)
EMPTY_SHARE = 0.01  # empty files (filtered as unprocessable)
PROTECTED_SHARE = 0.01  # "~$" temp files (filtered as unprocessable)
SHA_MISMATCH_SHARE = 0.002  # rows whose content_sha lies (quarantined)
LARGE_SHARE = 0.01  # heavy tail: Pareto-sized large files
LARGE_MAX_CHARS = 58_000  # stays under the mention stage's 64 Ki-char chunk size
# Resume delta.
DELTA_COMMIT_SHARE = 0.05  # paths that get a new commit
DELTA_NEW_SHARE = 0.005  # brand-new files
# Query graph.
MAX_FOLDER_DEPTH = 11  # doc -> 11 folders -> repo: partOf chains of 12 edges

_EXTS = {"py": "python", "java": "java", "md": "markdown", "txt": "text", "json": "json"}
_PEOPLE = ["Grace Hopper", "Alan Turing", "Ada Lovelace", "Margaret Hamilton"]
_ORGS = ["Apache Software Foundation", "Mozilla", "CSIRO"]
# "Zürich" folds to "Zurich" under NFKD + ASCII, exercising the fold.
_PLACES = ["Canberra", "Sydney", "Zurich", "Zürich"]
_LICENSES = ["Apache License", "MIT License"]
_EMAILS = ["dev.team@example.org", "grace@navy.mil", "info@csiro.au", "ops@mozilla.com"]
_URLS = ["https://spark.apache.org/docs", "https://example.org/kb/page", "http://csiro.au/data"]
_DATES = ["2021-03-15", "2019-11-02", "2023-07-30", "1998-01-20"]
_MONEY = ["$1,234.56", "$99", "$10,000.00", "$3,500"]
_TERMS = ["Python", "Java", "Unicode", "Apache"]
_SURFACES = _PEOPLE + _ORGS + _PLACES + _LICENSES + _EMAILS + _URLS + _DATES + _MONEY + _TERMS
_WORDS = (
    "def class return import from for while if else try except raise lambda "
    "yield with open read write parse build run main args config value result "
    "index token buffer stream schema column row table partition shuffle "
    "broadcast join aggregate filter select window graph node edge batch"
).split()
# Entities of the query graph, as the build canonicalizes them.
_QUERY_ENTITIES = [
    ("ent:grace_hopper", "tnnt:Person", "Grace Hopper"),
    ("ent:alan_turing", "tnnt:Person", "Alan Turing"),
    ("ent:ada_lovelace", "tnnt:Person", "Ada Lovelace"),
    ("ent:margaret_hamilton", "tnnt:Person", "Margaret Hamilton"),
    ("ent:asf", "tnnt:Organisation", "Apache Software Foundation"),
    ("ent:mozilla", "tnnt:Organisation", "Mozilla Foundation"),
    ("ent:csiro", "tnnt:Organisation", "CSIRO"),
    ("ent:canberra", "tnnt:GPE", "Canberra"),
    ("ent:sydney", "tnnt:GPE", "Sydney"),
    ("ent:zurich", "tnnt:GPE", "Zurich"),
    ("ent:apache_license", "tnnt:Law", "Apache License 2.0"),
    ("ent:mit_license", "tnnt:Law", "MIT License"),
    ("ent:python_lang", "tnnt:Language", "Python (programming language)"),
    ("ent:java_lang", "tnnt:Language", "Java (programming language)"),
    ("ent:unicode", "tnnt:Misc", "Unicode"),
]


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _pick(rng: random.Random, n: int, share: float, exclude: set[int] = frozenset()) -> set[int]:
    pool = [i for i in range(n) if i not in exclude]
    return set(rng.sample(pool, round(n * share)))


def _comment(lang: str) -> str:
    return {"python": "#", "java": "//", "json": "//"}.get(lang, ">")


def _line(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _content(rng: random.Random, lang: str, target_chars: int) -> str:
    c = _comment(lang)
    lines = [
        f"{c} Copyright {rng.choice(_ORGS)}. Licensed under the {rng.choice(_LICENSES)}.",
        f"{c} Author: {rng.choice(_PEOPLE)} <{rng.choice(_EMAILS)}>",
        f"{c} Office: {rng.choice(_PLACES)}. Updated {rng.choice(_DATES)}.",
    ]
    size = sum(len(x) for x in lines)
    while size < target_chars:
        body = _line(rng, rng.randint(5, 30))
        if rng.random() < 0.3:
            body += f" see {rng.choice(_SURFACES)} and {rng.choice(_SURFACES)}"
        if lang == "python":
            body = f'def f(x):\n    """{body}."""\n    return x'
        elif lang == "java":
            body = f"int f(int x) {{ /* {body}. */ return x; }}"
        else:
            body = f"{body}."
        lines.append(body)
        size += len(body) + 1
    return "\n".join(lines)


def _large_sizes(n: int) -> list[int]:
    """Sizes of the n large files: the Pareto(1.1) quantiles above 4k
    chars, capped. A fixed set, so every seed has the same byte tail."""
    return [min(LARGE_MAX_CHARS, int(4_000 * (1 - (k + 0.5) / n) ** (-1 / 1.1))) for k in range(n)]


def code_files(seed: int, n_files: int) -> tuple[list[tuple], list[tuple]]:
    """(base rows, delta rows) of a code_files table with the
    mel_tnnt_spark source schema. The delta is what a later snapshot
    adds: a new commit for DELTA_COMMIT_SHARE of the paths and
    DELTA_NEW_SHARE new files."""
    rng = random.Random(seed)
    n_repos = max(4, n_files // 40)
    hot = _pick(rng, n_files, HOT_REPO_SHARE)
    empty = _pick(rng, n_files, EMPTY_SHARE)
    protected = _pick(rng, n_files, PROTECTED_SHARE, empty)
    large = dict(zip(sorted(_pick(rng, n_files, LARGE_SHARE, empty)), _large_sizes(round(n_files * LARGE_SHARE))))
    two = _pick(rng, n_files, TWO_COMMIT_SHARE)
    base: list[tuple] = []
    files: list[tuple] = []  # (repo, path, lang, latest content, latest version)

    def file_meta(i: int) -> tuple[str, str, str]:
        repo = "r000" if i in hot else f"r{rng.randint(1, n_repos - 1):03d}"
        ext = rng.choice(list(_EXTS))
        dirs = "/".join(f"d{rng.randint(0, 9)}" for _ in range(rng.randint(1, 5)))
        name = f"{'~$' if i in protected else ''}m{i:06d}.{ext}"
        return repo, f"src/{dirs}/{name}", _EXTS[ext]

    def row(repo, path, lang, content, version, i):
        commit = hashlib.sha1(f"{seed}|{repo}|{path}|v{version}".encode()).hexdigest()
        ts = 1_600_000_000 + i * 7 + version * 86_400
        return (repo, path, commit, lang, content, _sha256(content), ts)

    for i in range(n_files):
        repo, path, lang = file_meta(i)
        content = "" if i in empty else _content(rng, lang, large.get(i) or rng.randint(150, 1_500))
        if i in two:
            old = content + f"\n{_comment(lang)} stale {_line(rng, 4)}"
            base.append(row(repo, path, lang, old, 1, i))
        version = 2 if i in two else 1
        base.append(row(repo, path, lang, content, version, i))
        files.append((repo, path, lang, content, version))

    for j in rng.sample(range(len(base)), round(len(base) * SHA_MISMATCH_SHARE)):
        r = base[j]
        base[j] = r[:5] + (_sha256(r[4] + " "),) + r[6:]

    delta: list[tuple] = []
    for i in sorted(rng.sample(range(n_files), round(n_files * DELTA_COMMIT_SHARE))):
        repo, path, lang, content, version = files[i]
        extra = f"{_comment(lang)} changed by {rng.choice(_PEOPLE)} in {rng.choice(_PLACES)}"
        delta.append(row(repo, path, lang, (content + "\n" + extra).lstrip("\n"), version + 1, i))
    for k in range(round(n_files * DELTA_NEW_SHARE)):
        i = n_files + k
        repo, path, lang = file_meta(i)
        delta.append(row(repo, path, lang, _content(rng, lang, rng.randint(150, 1_500)), 1, i))
    return base, delta


def write_parquet(rows: list[tuple], schema: pa.Schema, out_dir: str, n_files: int) -> None:
    """Write rows as n_files parquet files of one row group each, the
    shape of a table's data files (the scan parallelism unit)."""
    os.makedirs(out_dir, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        pq.write_table(part, os.path.join(out_dir, f"part-{k:05d}.parquet"), row_group_size=max(1, part.num_rows))


def query_graph(seed: int, n_docs: int) -> tuple[list[tuple], list[tuple]]:
    """(triples, new-edge batch) of a KG with the shape the build emits,
    plus a tnnt:partOf folder hierarchy of up to MAX_FOLDER_DEPTH
    folders between a doc and its repo.

    The graph's shape (tree, doc depths, mention counts, batch attach
    points) depends on the size only; the seed picks every identifier and
    which entities each doc mentions. So all seeds give the same amount
    of work on different data. The batch adds new partOf edges only:
    new docs under existing folders and new folders (with docs) under
    existing folders, so the hierarchy stays a forest."""
    rng = random.Random(seed ^ 0x5EED)
    shape = random.Random(n_docs)
    n_repos = max(4, n_docs // 500)
    people = [e for e in _QUERY_ENTITIES if e[1] == "tnnt:Person"]
    others = [e for e in _QUERY_ENTITIES if e[1] != "tnnt:Person"]
    triples: list[tuple] = []
    for eid, label, canonical in _QUERY_ENTITIES:
        triples.append((eid, "rdf:type", label))
        triples.append((eid, "tnnt:label", canonical))
    folders: list[tuple[str, int]] = []  # (folder id, depth below its repo)
    per_repo = max(1, n_docs // (10 * n_repos))
    for r in range(n_repos):
        nodes = [(f"r{r:03d}", 0)]
        for _ in range(per_repo):
            # mostly extend one of the newest folders, so chains run deep
            pool = nodes[-3:] if shape.random() < 0.7 else nodes
            parent, depth = shape.choice([n for n in pool if n[1] < MAX_FOLDER_DEPTH] or nodes[:1])
            fid = f"{parent}/{rng.getrandbits(24):06x}"
            triples.append((fid, "tnnt:partOf", parent))
            folders.append((fid, depth + 1))
            nodes.append((fid, depth + 1))
    weights = [1 + d for _, d in folders]  # deeper folders hold more docs

    def doc(i: int) -> str:
        return _sha256(f"{seed}|doc|{i}")

    for i, (fid, _) in enumerate(shape.choices(folders, weights, k=n_docs)):
        d = doc(i)
        triples.append((d, "tnnt:partOf", fid))
        k_people = shape.randint(0, 2)
        mentioned = rng.sample(people, k_people) + rng.sample(others, shape.randint(1 if not k_people else 0, 4))
        triples.extend((d, "tnnt:mentions", e[0]) for e in mentioned)
    batch: list[tuple] = []
    nxt = n_docs
    for _ in range(max(1, n_docs // 200)):
        fid, depth = shape.choice(folders)
        if depth < MAX_FOLDER_DEPTH:
            sub = f"{fid}/{rng.getrandbits(24):06x}"
            batch.append((sub, fid))
            fid = sub
        for _ in range(shape.randint(1, 4)):
            batch.append((doc(nxt), fid))
            nxt += 1
    return triples, batch
