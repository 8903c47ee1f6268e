"""Independent oracles for the KG benchmark.

The KG oracle re-implements the extraction, linking and canonicalization
semantics with plain `re` and dict loops over the generated rows. It
takes the detector gazetteers, regex patterns, label map and alias
dictionary from `mel_tnnt_spark.config`, which is the specification data
both sides share (as the golden tests do); none of the engine's code
paths are reused. The query oracle evaluates the same graph questions in
DuckDB with an independent strategy (WITH RECURSIVE, unrolled integer
PageRank).

Outputs are compared by fingerprint: the row count plus the sum of a
60-bit prefix of each row's sha256, an order-free multiset digest both
Spark and Python compute exactly. Only on a mismatch are the rows
collected to score precision and recall.
"""

from __future__ import annotations

import hashlib
import re
import unicodedata

from mel_tnnt_spark.config import (
    ALIAS_DICT,
    GAZETTEER_CONLL,
    GAZETTEER_ONTO,
    LABEL_CLASSIFICATION,
    REGEX_MODEL_PATTERNS,
)

SEP = "\x1f"
PAGERANK_ITERATIONS = 5
SHORTEST_MAX_HOPS = 4
BGP_PATTERNS = [
    ("?d", "tnnt:mentions", "?e"),
    ("?e", "rdf:type", "tnnt:Person"),
    ("?d", "tnnt:partOf", "?f"),
]
BGP_VARS = ("d", "e", "f")


def row_hash(row) -> int:
    return int(hashlib.sha256(SEP.join(map(str, row)).encode("utf-8")).hexdigest()[:15], 16)


def fingerprint(rows) -> tuple[int, int]:
    n = total = 0
    for r in rows:
        n += 1
        total += row_hash(r)
    return n, total


def spark_fingerprint(df, cols) -> tuple[int, int]:
    """The same digest as `fingerprint`, computed by one Spark aggregate."""
    from pyspark.sql import functions as F

    h = F.conv(
        F.substring(F.sha2(F.concat_ws(SEP, *[F.col(c).cast("string") for c in cols]), 256), 1, 15), 16, 10
    ).cast("decimal(38,0)")
    n, total = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return int(n), int(total or 0)


def precision_recall(got: set, gold: set) -> tuple[float, float]:
    tp = len(got & gold)
    return (tp / len(got) if got else 1.0), (tp / len(gold) if gold else 1.0)


# --------------------------------------------------------------------------
# KG build oracle
# --------------------------------------------------------------------------

_PUNCT = re.compile(r"[-()<=>~`|{}@#?!&$]+ *")
_CONTROL = re.compile("[\x00-\x1f\x7f-\x9f]")


def _text(content: str) -> str:
    """NFKD + ASCII fold, the reference's clean-text replacements, then
    its NER preprocessing (newlines to spaces, punctuation runs to a
    space, brackets and control characters dropped, whitespace runs
    collapsed)."""
    s = unicodedata.normalize("NFKD", content).encode("ascii", "ignore").decode("ascii")
    s = s.replace("\u0007", " ")
    s = s.replace("\n", " ").replace("\\r\\n", " ").replace("\r", " ")
    s = _PUNCT.sub(" ", s).replace("[", "").replace("]", "")
    return " ".join(_CONTROL.sub("", s).split())


def _mentions(text: str):
    for cat, pat in REGEX_MODEL_PATTERNS.items():
        for m in re.finditer(pat, text):
            yield "regex_model", cat, m.group(0)
    for model, gaz in (("gazetteer_conll_model", GAZETTEER_CONLL), ("gazetteer_onto_model", GAZETTEER_ONTO)):
        for surface, cat in gaz.items():
            at = text.find(surface)
            while at >= 0:
                yield model, cat, surface
                at = text.find(surface, at + len(surface))


def doc_id(repo: str, path: str, commit: str) -> str:
    return hashlib.sha256(f"{repo}|{path}|{commit}".encode("utf-8")).hexdigest()


def latest_docs(rows) -> tuple[dict, int]:
    """({doc_id: (repo, content_sha, content)} of the processable latest
    commit per (repo, path) among sha-valid rows, number of sha-mismatch
    rows)."""
    best: dict = {}
    quarantined = 0
    for repo, path, commit, _lang, content, sha, ts in rows:
        if hashlib.sha256((content or "").encode("utf-8")).hexdigest() != sha:
            quarantined += 1
            continue
        if not content or path.rsplit("/", 1)[-1].startswith("~$"):
            continue
        did = doc_id(repo, path, commit)
        key = (ts, commit, did)
        cur = best.get((repo, path))
        if cur is None or key > cur[0]:
            best[(repo, path)] = (key, (repo, sha, content))
    return {k[2]: v for k, v in best.values()}, quarantined


def kg_triples(docs: dict) -> set:
    """Expected triples of one build over `docs` ({doc_id: (repo, sha,
    content)})."""
    label_of = {(m, raw): lab for lab, by_model in LABEL_CLASSIFICATION.items() for m, raw in by_model.items()}
    cands: dict = {}
    for a in ALIAS_DICT:
        cands.setdefault(a["alias"], []).append(a)
    linked = []  # (doc, entity_id, canonical, label)
    for did, (_repo, _sha, content) in docs.items():
        for model, cat, surface in _mentions(_text(content)):
            if surface not in cands:
                continue
            want = label_of.get((model, cat))
            best = max(
                cands[surface],
                key=lambda a: (
                    round(a["prior"] + (0.5 if a["tnnt_label"] == want else 0.0), 6),
                    a["entity_id"],
                    a["canonical"],
                    a["tnnt_label"],
                ),
            )
            linked.append((did, best["entity_id"], best["canonical"], best["tnnt_label"]))
    # identity canonicalization: entities whose canonical names agree
    # once lower-cased to [a-z0-9] are one component, named by its
    # smallest entity id
    root: dict = {}
    for _, eid, canonical, _ in linked:
        k = re.sub("[^a-z0-9]", "", canonical.lower())
        root[k] = min(root.get(k, eid), eid)
    comp = {eid: root[re.sub("[^a-z0-9]", "", c.lower())] for _, eid, c, _ in linked}
    out = set()
    for did, eid, canonical, label in linked:
        cid = comp[eid]
        out.add((did, "tnnt:mentions", cid))
        out.add((cid, "rdf:type", label))
        out.add((cid, "tnnt:label", canonical))
    for did, (repo, _sha, _content) in docs.items():
        out.add((did, "tnnt:partOf", repo))
    return out


# --------------------------------------------------------------------------
# KG read-path oracle (DuckDB)
# --------------------------------------------------------------------------


def _pagerank_sql(iters: int) -> str:
    parts = [
        """WITH e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t
                      WHERE pred IN ('tnnt:mentions', 'tnnt:partOf')),
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1),
        r0 AS (SELECT node, 1000000000000::BIGINT AS rank FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""r{k} AS (
          SELECT n.node, (150000000000 + coalesce(s.inflow, 0) * 17 // 20)::BIGINT AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank // d.outdeg)::BIGINT AS inflow
            FROM e JOIN r{k - 1} r ON r.node = e.src JOIN deg d ON d.src = e.src
            GROUP BY e.dst) s USING (node))"""
        )
    return ",\n".join(parts) + f"\nSELECT node, rank FROM r{iters}"


_CLOSURE_SQL = """
WITH RECURSIVE a AS (
  SELECT child AS node, parent AS ancestor, 1::BIGINT AS depth FROM {edges}
  UNION ALL
  SELECT a.node, e.parent, a.depth + 1 FROM a JOIN {edges} e ON a.ancestor = e.child)
SELECT DISTINCT node, ancestor, depth FROM a"""

_SHORTEST_SQL = f"""
WITH RECURSIVE p AS (
  SELECT child AS src, parent AS dst, 1::BIGINT AS dist FROM base_edges
  UNION
  SELECT p.src, e.parent, p.dist + 1 FROM p JOIN base_edges e ON p.dst = e.child
  WHERE p.dist < {SHORTEST_MAX_HOPS})
SELECT src, dst, min(dist) FROM p GROUP BY src, dst"""

_BGP_SQL = """
SELECT m.subj, m.obj, p.obj FROM t m
JOIN t ty ON ty.subj = m.obj AND ty.pred = 'rdf:type' AND ty.obj = 'tnnt:Person'
JOIN t p ON p.subj = m.subj AND p.pred = 'tnnt:partOf'
WHERE m.pred = 'tnnt:mentions'"""


def query_results(triples: list[tuple], batch: list[tuple]) -> dict[str, list[tuple]]:
    """Expected rows of each query in the kg_query mix."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        cols = list(zip(*triples))
        con.register("t_arrow", pa.table({"subj": cols[0], "pred": cols[1], "obj": cols[2]}))
        con.execute("CREATE TABLE t AS SELECT * FROM t_arrow")
        con.execute(
            "CREATE TABLE base_edges AS SELECT DISTINCT subj AS child, obj AS parent FROM t WHERE pred = 'tnnt:partOf'"
        )
        con.register("b_arrow", pa.table({"child": [c for c, _ in batch], "parent": [p for _, p in batch]}))
        con.execute("CREATE TABLE all_edges AS SELECT * FROM base_edges UNION SELECT * FROM b_arrow")
        return {
            "bgp": con.execute(_BGP_SQL).fetchall(),
            "closure": con.execute(_CLOSURE_SQL.format(edges="base_edges")).fetchall(),
            "pagerank": con.execute(_pagerank_sql(PAGERANK_ITERATIONS)).fetchall(),
            "shortest_paths": con.execute(_SHORTEST_SQL).fetchall(),
            "maintain": con.execute(_CLOSURE_SQL.format(edges="all_edges")).fetchall(),
        }
    finally:
        con.close()
