"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (plus the training-data curation operators), each with a
DuckDB-runnable `oracle_sql()` twin. Column names and rounding are
pinned identically on both sides. Both return the register in
registration order (the order of the `@_q` definitions below).

Naming: q<nn>_<survey-op-id>_<what>.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mel_tnnt_spark.config import STOPWORDS  # noqa: E402


def _scan_row_groups(path: str, cap: int = 64) -> int | None:
    """Total parquet row groups under `path` (file or directory),
    counting at most `cap` before giving up — row groups are parquet's
    parallelism unit, so this is the EFFECTIVE max task count of a
    scan regardless of how many splits Spark plans."""
    import os

    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_row_groups
        n = 0
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(path, f)).metadata.num_row_groups
                if n >= cap:
                    return n
        return n if n > 0 else None
    except Exception:
        return None


def _scan_bytes(path: str) -> int | None:
    import os

    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    except Exception:
        return None


# Small single-row-group inputs cannot parallelize AT ALL (a parquet
# row group is the scan's atomic unit), so every narrow chain above
# such a scan runs on ONE core of N — the guide §2.5 "one huge
# unsplittable file" case. For inputs small enough that one extra
# exchange is trivially cheap, redistribute right after the read.
# Large tables never hit this (they carry many row groups, and at
# 100 TB the threshold is orders of magnitude below table size, so
# this is a no-op there — the knob is env-tunable for odd layouts).
_REPARTITION_SMALL_SCAN_BYTES = 64 * 1024 * 1024


def _t(
    spark: SparkSession, sf_dir: str, name: str, repartition: bool = False
) -> DataFrame:
    """Read one testdata table. `repartition=True` opts a call site
    INTO the small-scan redistribution — measured a win only for
    per-row-HEAVY pipelines (regex/md5/explode/pair-join chains) over
    small single-row-group files, where the whole chain is otherwise
    pinned to one core; for aggregation/window/join-light queries the
    extra exchange is a net loss (round-7 A/B), so the default is
    off."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if not repartition:
        return df
    limit = int(
        os.environ.get(
            "SPARK_GRAFT_REPARTITION_SMALL_SCAN_BYTES",
            _REPARTITION_SMALL_SCAN_BYTES,
        )
    )
    cpus = spark.sparkContext.defaultParallelism
    size = _scan_bytes(path)
    if size is not None and size < limit:
        rgs = _scan_row_groups(path, cap=cpus)
        if rgs is not None and rgs < max(2, cpus // 2):
            df = df.repartition(cpus)
    return df


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

ENTITY_VOCAB = ("spark", "query", "table", "join", "data", "filter", "window")


def _containment_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — containment theta-join: broadcast entity vocabulary vs the
    documents corpus; occurrence counts per (doc, entity). (Reference:
    species-names-in-assessments scan, code/MEL/DoEE_Species.py:279-393.)"""
    docs = _t(spark, sf_dir, "documents", repartition=True)
    # One scan: per-entity literal regexes (compiled once by codegen)
    # inside an array<struct> that is exploded — equivalent to the
    # broadcast theta-join but ~7x cheaper than a dynamic-pattern
    # crossJoin (pattern column defeats regex compilation caching).
    hits = F.array(
        *[
            F.struct(
                F.lit(e).alias("entity"),
                F.size(F.expr(f"regexp_extract_all(text, '\\\\b{e}\\\\b', 0)"))
                .cast("long")
                .alias("cnt"),
            )
            for e in ENTITY_VOCAB
        ]
    )
    return (
        docs.select("doc_id", F.explode(hits).alias("h"))
        .select("doc_id", F.col("h.entity").alias("entity"), F.col("h.cnt").alias("cnt"))
        .where(F.col("cnt") > 0)
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: containment mention scan + per-entity corpus summary
    (A5/A8 shape) over sf0.001."""
    m = _containment_mentions(spark, "/root/testdata/sf0.001")
    return m.groupBy("entity").agg(
        F.sum("cnt").alias("total_mentions"),
        F.count("*").alias("n_docs"),
        F.round(F.avg("cnt"), 4).alias("mean_per_doc"),
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

_SQL: dict[str, str] = {}
_Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def _q(name: str, sql: str | None = None):
    if name in _Q:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn):
        _Q[name] = fn
        if sql is not None:
            _SQL[name] = sql
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_Q)


def oracle_sql() -> dict[str, str]:
    return dict(_SQL)


_STOPLIST_SQL = ",".join(f"'{w}'" for w in STOPWORDS)


# --- scans / filters / TPC-H-ish relational plumbing -----------------------

@_q(
    "q01_a1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@_q(
    "q02_j1_broadcast_join_agg",
    """
    SELECT c.c_mktsegment, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q02(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@_q(
    "q03_j1_multijoin_revenue_by_nation",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
)
def q03(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# --- windows (W2/W3/W4) ------------------------------------------------------

@_q(
    "q04_w3_latest_event_per_user",
    """
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def q04(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


@_q(
    "q05_a13_time_span_per_type",
    """
    SELECT event_type,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS span_sec
    FROM events GROUP BY event_type
    """,
)
def q05(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.expr(
            "(unix_micros(cast(max(ts) as timestamp)) - unix_micros(cast(min(ts) as timestamp)))"
            " div 1000000"
        ).alias("span_sec"),
    )


@_q(
    "q06_a9_value_buckets",
    """
    SELECT CASE WHEN value < 50 THEN 'small' WHEN value < 150 THEN 'medium' ELSE 'large' END AS bucket,
           count(*) AS cnt, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def q06(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 50, "small").when(F.col("value") < 150, "medium").otherwise("large")
    )
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total_value")
    )


@_q(
    "q15_w2_pagination",
    """
    SELECT doc_id, rn, (rn - 1) // 50 AS page FROM (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn FROM documents)
    """,
)
def q15(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents", repartition=False)
    return (
        docs.select(
            "doc_id", F.row_number().over(Window.orderBy("doc_id")).cast("long").alias("rn")
        )
        .withColumn("page", F.expr("(rn - 1) div 50").cast("long"))
    )


@_q(
    "q39_p2_only_startfrom",
    """
    SELECT doc_id, lang, source FROM documents
    WHERE lang IN ('en', 'es') AND doc_id >= 100
    """,
)
def q39(spark, sf_dir):
    """P2 — the reference's only=/startFrom= run gating
    (code/MEL/__init__.py:2365-2368) in its stateless form: an
    allow-list predicate plus a start-key bound (both pushed to the
    scan)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.where(
        F.col("lang").isin("en", "es") & (F.col("doc_id") >= 100)
    ).select("doc_id", "lang", "source")


@_q(
    "q16_w4_topk_docs",
    "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 10",
)
def q16(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", "n_chars")
    )


# --- joins / set ops (J4/J5/J6/J7/SO2/SO3) ----------------------------------

@_q(
    "q07_j5_customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
)
def q07(spark, sf_dir):
    # anti-join resume shape (J5): docs not yet in the results table;
    # restricted to 'F' orders so the complement is non-empty at any sf
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey", "c_name")


@_q(
    "q08_so2_shared_vocabulary",
    """
    SELECT word FROM (
      SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      FROM documents WHERE lang = 'en')
    INTERSECT
    SELECT word FROM (
      SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      FROM documents WHERE lang = 'es')
    """,
)
def q08(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")

    def words(lang):
        return (
            docs.where(F.col("lang") == lang)
            .select(F.explode(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias("word"))
            .distinct()
        )

    return words("en").intersect(words("es"))


@_q(
    "q09_j4_duplicate_orderkeys",
    "SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1",
)
def q09(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
    )


@_q(
    "q12_j6_containment_mentions",
    f"""
    SELECT d.doc_id, e.entity, len(regexp_extract_all(d.text, '\\b' || e.entity || '\\b')) AS cnt
    FROM documents d
    CROSS JOIN (VALUES {",".join(f"('{e}')" for e in ENTITY_VOCAB)}) e(entity)
    WHERE len(regexp_extract_all(d.text, '\\b' || e.entity || '\\b')) > 0
    """,
)
def q12(spark, sf_dir):
    return _containment_mentions(spark, sf_dir)


@_q(
    "q37_j2_lookup_with_fallback",
    """
    WITH dim AS (SELECT doc_id AS k_id, lang AS k_name, source AS src FROM documents),
    fb AS (SELECT k_name, arg_min(src, k_id) AS f_src, TRUE AS f_hit
           FROM dim GROUP BY k_name),
    probe AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN -1 - doc_id ELSE doc_id END AS k_id,
             lang AS k_name
      FROM documents)
    SELECT p.doc_id, p.k_id, p.k_name,
           CASE WHEN d.p_hit THEN d.src WHEN f.f_hit THEN f.f_src END AS src,
           CASE WHEN d.p_hit THEN 'primary'
                WHEN f.f_hit THEN 'fallback' END AS match_type
    FROM probe p
    LEFT JOIN (SELECT k_id, src, TRUE AS p_hit FROM dim) d USING (k_id)
    LEFT JOIN fb f USING (k_name)
    """,
)
def q37(spark, sf_dir):
    """J2 — by-id lookup with by-name fallback (reference's linear
    FILENAME rescue, code/MEL/__init__.py:874-886): every third probe id
    is poisoned so both match paths are exercised."""
    from mel_tnnt_spark.operators.linking import lookup_with_fallback

    docs = _t(spark, sf_dir, "documents")
    dim = docs.select(
        F.col("doc_id").alias("k_id"),
        F.col("lang").alias("k_name"),
        F.col("source").alias("src"),
    )
    probe = docs.select(
        "doc_id",
        F.expr("CASE WHEN doc_id % 3 = 0 THEN -1 - doc_id ELSE doc_id END").alias("k_id"),
        F.col("lang").alias("k_name"),
    )
    return lookup_with_fallback(probe, dim, "k_id", "k_name", ["src"])


@_q(
    "q36_j6_large_vocab_containment",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      FROM documents),
    vocab AS (
      SELECT word FROM toks GROUP BY word ORDER BY count(*) DESC, word ASC LIMIT 1000)
    SELECT t.doc_id, t.word, count(*) AS cnt
    FROM toks t JOIN vocab v USING (word)
    GROUP BY 1, 2
    """,
)
def q36(spark, sf_dir):
    """J6 general form — containment against a 1000-word data-derived
    vocabulary via tokenized equi-join (per-doc cost independent of
    vocab size; the reference's per-name scan is O(|vocab|*|text|))."""
    from mel_tnnt_spark.operators.containment import containment_counts, top_k_vocab

    docs = _t(spark, sf_dir, "documents", repartition=True)
    vocab = top_k_vocab(docs, "doc_id", "text", 1000)
    return containment_counts(docs, vocab, "doc_id", "text")


# --- text analysis (A2/A3) ---------------------------------------------------

@_q(
    "q10_a2_keyword_counts",
    f"""
    SELECT doc_id, word, count(*) AS cnt FROM (
      SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS word FROM documents)
    WHERE lower(word) NOT IN ({_STOPLIST_SQL})
    GROUP BY doc_id, word
    """,
)
def q10(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents", repartition=True)
    toks = docs.select(
        "doc_id", F.explode(F.expr("regexp_extract_all(text, '[A-Za-z0-9_]+', 0)")).alias("word")
    )
    # InSet membership (hash set) instead of array_contains (a
    # 114-element linear scan per token) — same NOT IN semantics,
    # >10 literals so the optimizer compiles it to InSet (guide §4.1:
    # prefer the codegen-friendly built-in form).
    return (
        toks.where(~F.lower(F.col("word")).isin(*STOPWORDS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )


@_q(
    "q11_a3_pattern_match_counts",
    """
    SELECT doc_id, pattern, match, count(*) AS cnt FROM (
      SELECT doc_id, 'numbers' AS pattern, unnest(regexp_extract_all(text, '[0-9]+')) AS match FROM documents
      UNION ALL
      SELECT doc_id, 'longwords' AS pattern, unnest(regexp_extract_all(text, '[a-z]{7,}')) AS match FROM documents)
    GROUP BY doc_id, pattern, match
    """,
)
def q11(spark, sf_dir):
    from mel_tnnt_spark.functions.text import pattern_match_counts

    docs = _t(spark, sf_dir, "documents")
    out = pattern_match_counts(
        docs, "doc_id", "text", {"numbers": "[0-9]+", "longwords": "[a-z]{7,}"}
    )
    return out.select("doc_id", "pattern", "match", F.col("cnt").cast("long").alias("cnt"))


# --- summaries / stats (A5/A7/A8, rollup) -----------------------------------

@_q(
    "q13_a8_stats_per_lang",
    """
    SELECT lang,
           max(n_chars) AS max_chars, min(n_chars) AS min_chars,
           round(avg(n_chars), 4) AS mean_chars,
           round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
           round(coalesce(stddev_samp(n_chars), 0), 4) AS stdev_chars,
           round(coalesce(var_samp(n_chars), 0), 4) AS variance_chars,
           round(quantile_cont(n_chars, 0.25), 4) AS q1_chars,
           round(quantile_cont(n_chars, 0.75), 4) AS q3_chars,
           count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def q13(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.max("n_chars").alias("max_chars"),
        F.min("n_chars").alias("min_chars"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("median_chars"),
        F.round(F.coalesce(F.stddev_samp("n_chars"), F.lit(0.0)), 4).alias("stdev_chars"),
        F.round(F.coalesce(F.var_samp("n_chars"), F.lit(0.0)), 4).alias("variance_chars"),
        F.round(F.expr("percentile(n_chars, 0.25)"), 4).alias("q1_chars"),
        F.round(F.expr("percentile(n_chars, 0.75)"), 4).alias("q3_chars"),
        F.count("*").alias("n_docs"),
    )


@_q(
    "q14_a5_rollup_lang_source",
    "SELECT lang, source, count(*) AS cnt FROM documents GROUP BY ROLLUP(lang, source)",
)
def q14(spark, sf_dir):
    return _t(spark, sf_dir, "documents").rollup("lang", "source").agg(F.count("*").alias("cnt"))


@_q(
    "q30_a8_mode_quantity_per_flag",
    """
    SELECT l_returnflag, l_quantity AS mode_qty FROM (
      SELECT l_returnflag, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY count(*) DESC, l_quantity ASC) AS rn
      FROM lineitem GROUP BY l_returnflag, l_quantity) WHERE rn = 1
    """,
)
def q30(spark, sf_dir):
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), F.asc("l_quantity"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )


@_q(
    "q38_a8_multimode_chars_per_lang",
    """
    WITH hist AS (SELECT lang, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
    mx AS (SELECT lang, max(c) AS mc FROM hist GROUP BY 1)
    SELECT h.lang,
           min(h.n_chars) AS mode_chars,
           array_to_string(list_sort(list(h.n_chars)), ',') AS multimode_chars
    FROM hist h JOIN mx USING (lang)
    WHERE h.c = mx.mc
    GROUP BY h.lang
    """,
)
def q38(spark, sf_dir):
    """A8 completeness — mode + multimode over the value histogram
    (reference statistics.mode/multimode, aggregation.py:70-146; sorted
    multimode + smallest-value mode as the deterministic refinement)."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.groupBy("lang", "n_chars").agg(F.count("*").alias("c"))
    mx = hist.groupBy("lang").agg(F.max("c").alias("mc"))
    return (
        hist.join(mx, "lang")
        .where(F.col("c") == F.col("mc"))
        .groupBy("lang")
        .agg(
            F.min("n_chars").alias("mode_chars"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list("n_chars")), lambda x: x.cast("string")),
                ",",
            ).alias("multimode_chars"),
        )
    )


# --- dedup (exact / jaccard / minhash / simhash) -----------------------------

@_q(
    "q17_dd_exact_dedup",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS survivor_id, count(*) AS group_size
    FROM documents GROUP BY md5(text)
    """,
)
def q17(spark, sf_dir):
    from mel_tnnt_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "q18_dd_ngram_jaccard_pairs",
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
      FROM documents WHERE doc_id < 1000),
    sh0 AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 1), i -> array_to_string(ws[i:i+1], ' '))) AS shingle
      FROM w WHERE len(ws) >= 2),
    rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 20),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, round(common / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(common / (sa.n_sh + sb.n_sh - common), 6) >= 0.08
    """,
)
def q18(spark, sf_dir):
    # Gated at 10x the round-1 doc count WITH the document-frequency
    # hot-shingle filter — the 100-TB formulation (df<=20 cuts pair work
    # 35x at sf0.01, 23000x at sf0.1; measured, see BENCH.md).
    from mel_tnnt_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 1000)
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.08, max_df=20)


def _minhash_seeds_values(k: int) -> str:
    """DuckDB VALUES rows (seed, a, b) from the SAME affine constants
    the engine uses — oracle and plan can never silently diverge."""
    from mel_tnnt_spark.operators.dedup import minhash_affine_consts

    return ",\n      ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_affine_consts(k))
    )


@_q(
    "q19_dd_minhash_signatures",
    f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
      FROM documents WHERE doc_id < 20),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 2), i -> array_to_string(ws[i:i+2], ' '))) AS shingle
      FROM w WHERE len(ws) >= 3),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::UBIGINT::BIGINT & 2147483647 AS h31
      FROM sh),
    seeds(seed, a, b) AS (VALUES
      {_minhash_seeds_values(8)})
    SELECT doc_id, seed::BIGINT AS seed, min((h31 * a + b) % 2147483647)::BIGINT AS minhash
    FROM h, seeds
    GROUP BY doc_id, seed
    """,
)
def q19(spark, sf_dir):
    from mel_tnnt_spark.operators.dedup import minhash_signatures

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 20)
    out = minhash_signatures(docs, "doc_id", "text", n=3, k=8)
    return out.select(F.col("id").alias("doc_id"), F.col("seed").cast("long").alias("seed"), "minhash")


@_q(
    "q20_dd_simhash",
    """
    WITH tok AS (
      SELECT doc_id, t, count(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents WHERE doc_id < 50)
      WHERE t <> '' GROUP BY doc_id, t),
    h AS (SELECT doc_id, cnt, ('0x' || substr(md5(t), 1, 15))::UBIGINT::BIGINT AS h FROM tok),
    bits AS (
      SELECT doc_id, b, sum(cnt * (((h >> b) & 1) * 2 - 1)) AS s
      FROM h, range(16) r(b) GROUP BY doc_id, b)
    SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q20(spark, sf_dir):
    from mel_tnnt_spark.operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 50)
    return simhash(docs, "doc_id", "text", bits=16).select(
        F.col("id").alias("doc_id"), F.col("simhash").cast("long").alias("simhash")
    )


@_q(
    "q35_dd_lsh_pairs",
    f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
      FROM documents WHERE doc_id < 200),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 2), i -> array_to_string(ws[i:i+2], ' '))) AS shingle
      FROM w WHERE len(ws) >= 3),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::UBIGINT::BIGINT & 2147483647 AS h31
      FROM sh),
    seeds(seed, a, b) AS (VALUES
      {_minhash_seeds_values(8)}),
    sig AS (
      SELECT doc_id, seed, min((h31 * a + b) % 2147483647) AS minhash
      FROM h, seeds
      GROUP BY doc_id, seed),
    banded AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS bucket
      FROM sig GROUP BY doc_id, seed // 2)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)
def q35(spark, sf_dir):
    """MinHash-LSH banded candidate pairs — the pair stage itself is now
    oracle-gated (round-1 gap). k=8 seeds, 4 bands of 2 rows."""
    from mel_tnnt_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 200)
    out = minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=8, bands=4)
    return out.select(F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b"))


# --- similarity search -------------------------------------------------------

@_q(
    "q21_sim_cosine_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           CASE WHEN list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
                 AND list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)) > 0
                THEN round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)), 6)
           END AS cosine
    FROM embeddings
    ORDER BY cosine DESC NULLS LAST, vec_id ASC LIMIT 10
    """,
)
def q21(spark, sf_dir):
    from mel_tnnt_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return cosine_topk(emb, "vec_id", "embedding", qv, k=10)


@_q(
    "q22_sim_bucketed_ann",
    """
    WITH p0 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
         p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 1),
         q  AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
    sig AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             (list_dot_product(embedding::DOUBLE[], (SELECT v FROM p0)) >= 0)::INT::VARCHAR ||
             (list_dot_product(embedding::DOUBLE[], (SELECT v FROM p1)) >= 0)::INT::VARCHAR AS bucket
      FROM embeddings),
    qsig AS (
      SELECT (list_dot_product((SELECT v FROM q), (SELECT v FROM p0)) >= 0)::INT::VARCHAR ||
             (list_dot_product((SELECT v FROM q), (SELECT v FROM p1)) >= 0)::INT::VARCHAR AS b)
    SELECT vec_id,
           CASE WHEN list_dot_product(v, v) > 0
                 AND list_dot_product((SELECT v FROM q), (SELECT v FROM q)) > 0
                THEN round(list_cosine_similarity(v, (SELECT v FROM q)), 6)
           END AS cosine
    FROM sig WHERE bucket = (SELECT b FROM qsig)
    ORDER BY cosine DESC NULLS LAST, vec_id ASC LIMIT 5
    """,
)
def q22(spark, sf_dir):
    from mel_tnnt_spark.operators.similarity import bucketed_ann

    emb = _t(spark, sf_dir, "embeddings")
    pivots = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 2).orderBy("vec_id").collect()
    ]
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    return bucketed_ann(emb, "vec_id", "embedding", qv, pivots, k=5)


# --- curation text stats -----------------------------------------------------

_MARKER_SQL = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}


def _marker_sql(lang: str) -> str:
    return " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in _MARKER_SQL[lang]
    )


@_q(
    "q23_ts_lang_id",
    f"""
    WITH s AS (
      SELECT doc_id,
             {_marker_sql('de')} AS s_de, {_marker_sql('en')} AS s_en,
             {_marker_sql('es')} AS s_es, {_marker_sql('fr')} AS s_fr
      FROM documents)
    SELECT doc_id,
      CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
           WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
           WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
           WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
           ELSE 'fr' END AS pred_lang
    FROM s
    """,
)
def q23(spark, sf_dir):
    from mel_tnnt_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "q24_ts_quality_score",
    """
    SELECT doc_id,
           length(text)::BIGINT AS n_chars_calc,
           len(regexp_extract_all(text, '[^ ]+'))::BIGINT AS n_tokens,
           round(length(text) / greatest(len(regexp_extract_all(text, '[^ ]+')), 1), 4) AS mean_tok_len,
           round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1), 4) AS alpha_ratio,
           round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / greatest(length(text), 1), 4) AS punct_ratio,
           round((len(regexp_extract_all(lower(text), '\\bthe\\b')) + len(regexp_extract_all(lower(text), '\\band\\b'))
                + len(regexp_extract_all(lower(text), '\\bof\\b')) + len(regexp_extract_all(lower(text), '\\bto\\b'))
                + len(regexp_extract_all(lower(text), '\\bin\\b')))
                 / greatest(len(regexp_extract_all(text, '[^ ]+')), 1), 4) AS stopword_ratio
    FROM documents
    """,
)
def q24(spark, sf_dir):
    from mel_tnnt_spark.operators.textstats import quality_score

    return quality_score(_t(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "q25_ts_fingerprint",
    """
    SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def q25(spark, sf_dir):
    from mel_tnnt_spark.operators.textstats import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "q26_ts_token_count",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[^ ]+'))::BIGINT AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS bpe_tokens
    FROM documents
    """,
)
def q26(spark, sf_dir):
    from mel_tnnt_spark.operators.textstats import token_count

    return token_count(_t(spark, sf_dir, "documents"), "doc_id", "text")


# --- connected components ----------------------------------------------------

@_q(
    "q28_cc_embedding_graph",
    """
    WITH RECURSIVE
    e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100),
    sig AS (
      SELECT id, v,
             (list_dot_product(v, (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) >= 0) AS b0,
             (list_dot_product(v, (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 1)) >= 0) AS b1,
             (list_dot_product(v, (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 2)) >= 0) AS b2,
             (list_dot_product(v, (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 3)) >= 0) AS b3,
             (list_dot_product(v, (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 4)) >= 0) AS b4,
             (list_dot_product(v, (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 5)) >= 0) AS b5
      FROM e),
    cand AS (
      SELECT a.id AS sa, b.id AS sb, round(list_cosine_similarity(a.v, b.v), 6) AS cos
      FROM sig a JOIN sig b ON a.b0 = b.b0 AND a.id < b.id
      UNION
      SELECT a.id, b.id, round(list_cosine_similarity(a.v, b.v), 6)
      FROM sig a JOIN sig b ON a.b1 = b.b1 AND a.id < b.id
      UNION
      SELECT a.id, b.id, round(list_cosine_similarity(a.v, b.v), 6)
      FROM sig a JOIN sig b ON a.b2 = b.b2 AND a.id < b.id
      UNION
      SELECT a.id, b.id, round(list_cosine_similarity(a.v, b.v), 6)
      FROM sig a JOIN sig b ON a.b3 = b.b3 AND a.id < b.id
      UNION
      SELECT a.id, b.id, round(list_cosine_similarity(a.v, b.v), 6)
      FROM sig a JOIN sig b ON a.b4 = b.b4 AND a.id < b.id
      UNION
      SELECT a.id, b.id, round(list_cosine_similarity(a.v, b.v), 6)
      FROM sig a JOIN sig b ON a.b5 = b.b5 AND a.id < b.id),
    p AS (SELECT DISTINCT sa, sb FROM cand WHERE cos >= 0.25),
    edges AS (SELECT sa, sb FROM p UNION SELECT sb AS sa, sa AS sb FROM p),
    reach(node, r) AS (
      SELECT id, id FROM e
      UNION
      SELECT reach.node, edges.sb FROM reach JOIN edges ON reach.r = edges.sa)
    SELECT node, min(r) AS component FROM reach GROUP BY node
    """,
)
def q28(spark, sf_dir):
    """CC over the near-dup graph, edges from the BLOCKED (banded
    random-hyperplane LSH) pair plan — zero CartesianProduct. Pivots
    are the first 6 data vectors so the oracle reproduces the blocking.
    Operating point: 6 one-bit bands at theta=0.25 — analytic candidate
    recall 1-(1-0.58)^6 ~ 0.995, MEASURED 1.0 at sf0.001 and sf0.01
    (pinned by test_embedding_lsh_recall_at_gate). At production
    near-dup thresholds (>=0.9) fewer, wider bands give selectivity
    and recall together; the weak gated threshold is what forces the
    many-band OR."""
    from mel_tnnt_spark.operators.components import connected_components
    from mel_tnnt_spark.operators.dedup import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    pivots = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 6).orderBy("vec_id").collect()
    ]
    edges = embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.25, pivots=pivots, bits_per_band=1
    )
    cc = connected_components(edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    nodes = emb.select(F.col("vec_id").alias("node"))
    return nodes.join(cc, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


# --- JSON path / wildcard search / regex scan / sampling ---------------------

@_q(
    "q31_p9_json_path",
    """
    SELECT event_type,
           sum(CASE WHEN json_valid(props)
                    THEN json_extract_string(props, '$.k')::BIGINT END)::BIGINT AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q31(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count("*").alias("n"),
    )


@_q(
    "q32_f16_wildcard_search",
    """
    WITH w AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
               FROM documents)
    SELECT 'starts' AS match_type, word FROM w WHERE word LIKE 'sp%'
    UNION ALL SELECT 'ends' AS match_type, word FROM w WHERE word LIKE '%ow'
    UNION ALL SELECT 'contains' AS match_type, word FROM w WHERE word LIKE '%art%'
    UNION ALL SELECT 'exact' AS match_type, word FROM w WHERE word = 'table'
    """,
)
def q32(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias("word")
    ).distinct()
    parts = [
        w.where(F.col("word").startswith("sp")).select(F.lit("starts").alias("match_type"), "word"),
        w.where(F.col("word").endswith("ow")).select(F.lit("ends").alias("match_type"), "word"),
        w.where(F.col("word").contains("art")).select(F.lit("contains").alias("match_type"), "word"),
        w.where(F.col("word") == "table").select(F.lit("exact").alias("match_type"), "word"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_q(
    "q33_s4_regex_scan",
    """
    SELECT doc_id, n_chars FROM documents
    WHERE lang = 'en' AND regexp_matches(text, 'spark .* join|join .* spark')
    """,
)
def q33(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.where(
        (F.col("lang") == "en") & F.col("text").rlike("spark .* join|join .* spark")
    ).select("doc_id", "n_chars")


@_q(
    "q34_m15_deterministic_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT % 10 = 0
    """,
)
def q34(spark, sf_dir):
    from mel_tnnt_spark.operators.sampling import deterministic_sample

    return deterministic_sample(_t(spark, sf_dir, "documents"), "doc_id", 10).select(
        "doc_id", "lang"
    )


@_q(
    "q40_j10_group_by_folder",
    """
    SELECT regexp_replace('corpus/' || lang || '/' || source || '/doc_' || doc_id,
                          '/[^/]+$', '') AS parent,
           count(*) AS n_files,
           sum(n_chars)::BIGINT AS total_chars
    FROM documents
    GROUP BY parent
    """,
)
def q40(spark, sf_dir):
    """J10 — group-files-by-folder: derive the PARENT path prefix and
    aggregate per folder (reference get_files_by_folder,
    code/NLP_NER/Sampling.py:186-196). Same parent derivation as
    metadata.with_general_metadata; map-side partial agg, one shuffle
    on the folder key."""
    docs = _t(spark, sf_dir, "documents")
    path = F.concat_ws(
        "/", F.lit("corpus"), "lang", "source", F.concat(F.lit("doc_"), F.col("doc_id"))
    )
    return (
        docs.withColumn("parent", F.regexp_replace(path, "/[^/]+$", ""))
        .groupBy("parent")
        .agg(F.count("*").alias("n_files"), F.sum("n_chars").alias("total_chars"))
    )


@_q(
    "q41_s13_xml_metadata",
    """
    WITH x AS (
      SELECT doc_id,
             'corpus/' || lang || '/doc_' || doc_id AS abs_path,
             CASE WHEN doc_id % 11 = 3 THEN '<broken'
                  ELSE '<Meta><METADATA><ABSOLUTEPATH>corpus/'
                       || CASE WHEN doc_id % 7 = 0 THEN 'other' ELSE lang END
                       || '/doc_' || doc_id || '</ABSOLUTEPATH><FILELENGTH>'
                       || n_chars || '</FILELENGTH><MIMETYPE>text/plain</MIMETYPE></METADATA></Meta>'
             END AS metadata_xml
      FROM documents
    )
    SELECT doc_id,
           (doc_id % 11 != 3 AND doc_id % 7 != 0) AS meta_read_ok,
           CASE WHEN doc_id % 11 = 3 THEN NULL
                ELSE regexp_extract(metadata_xml, '<FILELENGTH>([0-9]+)</FILELENGTH>', 1)::BIGINT
           END AS file_length_meta
    FROM x
    """,
)
def q41(spark, sf_dir):
    """S13 — XML metadata reader: per-doc NLNZ-style sidecar XML parsed
    with from_xml (JVM-side), ABSOLUTEPATH correspondence guard applied
    (code/MEL/__init__.py:1122-1143). Sidecars are synthesized from the
    table's own columns (deterministic: every 7th doc gets a wrong-
    folder path, every 11th-mod-3 a malformed sidecar), so the oracle
    can verify both the parse and the guard."""
    from mel_tnnt_spark.sources.xml_meta import parse_metadata_xml

    docs = _t(spark, sf_dir, "documents")
    good = F.concat(
        F.lit("<Meta><METADATA><ABSOLUTEPATH>corpus/"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("other")).otherwise(F.col("lang")),
        F.lit("/doc_"), F.col("doc_id"),
        F.lit("</ABSOLUTEPATH><FILELENGTH>"), F.col("n_chars"),
        F.lit("</FILELENGTH><MIMETYPE>text/plain</MIMETYPE></METADATA></Meta>"),
    )
    with_xml = docs.select(
        "doc_id",
        F.concat(F.lit("corpus/"), "lang", F.lit("/doc_"), "doc_id").alias("abs_path"),
        F.when(F.col("doc_id") % 11 == 3, F.lit("<broken")).otherwise(good).alias("metadata_xml"),
    )
    return parse_metadata_xml(with_xml).select(
        "doc_id", "meta_read_ok", F.col("meta")["FILELENGTH"].alias("file_length_meta")
    )


@_q(
    "q42_p10_recursive_key_search",
    """
    WITH e AS (
      SELECT event_type,
             CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS kv
      FROM events),
    j AS (
      SELECT event_type,
             CASE event_type
               WHEN 'click' THEN '{"k":' || kv || '}'
               WHEN 'view'  THEN '{"a":{"k":' || kv || '}}'
               ELSE '{"a":{"b":[{"k":' || kv || '}]}}'
             END AS payload
      FROM e
    )
    SELECT event_type,
           sum(coalesce(json_extract_string(payload, '$.k'),
                        json_extract_string(payload, '$.a.k'),
                        json_extract_string(payload, '$.a.b[0].k'))::BIGINT)::BIGINT AS sum_k,
           count(*) AS n
    FROM j GROUP BY event_type
    """,
)
def q42(spark, sf_dir):
    """P10 — recursive key search: values for key 'k' at ANY depth
    (readJson, code/NLP_NER_API/interface/json_function.py:41-66),
    over payloads nested 1-3 levels deep by event_type. The gated
    payloads have KNOWN bounded depth, so the gated path is the
    JVM-side probe chain (json_nav.json_probe_paths — coalesce of
    get_json_object, zero Arrow stages); the genuinely-recursive pandas
    walker (json_nav.json_find_key) remains the unbounded-schema path,
    equivalence pinned in tests/test_property_json_archives.py."""
    from mel_tnnt_spark.functions.json_nav import json_probe_paths

    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    payload = (
        F.when(F.col("event_type") == "click", F.concat(F.lit('{"k":'), k, F.lit("}")))
        .when(F.col("event_type") == "view", F.concat(F.lit('{"a":{"k":'), k, F.lit("}}")))
        .otherwise(F.concat(F.lit('{"a":{"b":[{"k":'), k, F.lit("}]}}")))
    )
    found = json_probe_paths(payload, ["$.k", "$.a.k", "$.a.b[0].k"])
    return (
        ev.select("event_type", found.cast("long").alias("k_val"))
        .groupBy("event_type")
        .agg(F.sum("k_val").alias("sum_k"), F.count("*").alias("n"))
    )


@_q(
    "q43_f15_deep_merge",
    """
    WITH e AS (
      SELECT event_type,
             CASE WHEN json_valid(props) THEN props ELSE '{}' END AS p,
             CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.k')::BIGINT END AS kv
      FROM events),
    m AS (
      SELECT event_type,
             json_merge_patch(p,
                 coalesce('{"extra":{"m":7},"k":' || (kv + 1) || '}', '{}')) AS merged
      FROM e
    )
    SELECT event_type,
           sum(json_extract_string(merged, '$.k')::BIGINT)::BIGINT AS sum_k,
           sum(json_extract_string(merged, '$.extra.m')::BIGINT)::BIGINT AS sum_m
    FROM m GROUP BY event_type
    """,
)
def q43(spark, sf_dir):
    """F15 — deep dict merge (Utils.dict_update,
    code/MEL/__init__.py:292-299): patch nested {extra:{m}} in and bump
    k; verified via field extraction from the merged JSON (key-order
    agnostic). Oracle twin is RFC 7386 json_merge_patch — identical to
    dict_update when no nulls are present (documented in json_nav.py).
    Gated path is the BOUNDED JVM twin (from_json + schema-unrolled
    struct_deep_merge + to_json, zero Arrow stages) — the payload union
    schema is known; the pandas walker json_deep_merge stays for
    unknown schemas, equivalence pinned in tests."""
    from mel_tnnt_spark.functions.json_nav import json_deep_merge_bounded

    ev = _t(spark, sf_dir, "events")
    patch = F.concat(
        F.lit('{"extra":{"m":7},"k":'),
        (F.get_json_object("props", "$.k").cast("long") + 1).cast("string"),
        F.lit("}"),
    )
    merged = json_deep_merge_bounded(
        F.col("props"), patch, "k BIGINT, extra STRUCT<m: BIGINT>"
    )
    return (
        ev.select("event_type", merged.alias("merged"))
        .groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("merged", "$.k").cast("long")).alias("sum_k"),
            F.sum(F.get_json_object("merged", "$.extra.m").cast("long")).alias("sum_m"),
        )
    )


@_q(
    "q44_sim_multiprobe_ann",
    """
    WITH p0 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
         p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 1),
         q  AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
    sig AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             (list_dot_product(embedding::DOUBLE[], (SELECT v FROM p0)) >= 0)::INT::VARCHAR ||
             (list_dot_product(embedding::DOUBLE[], (SELECT v FROM p1)) >= 0)::INT::VARCHAR AS bucket
      FROM embeddings),
    qsig AS (
      SELECT (list_dot_product((SELECT v FROM q), (SELECT v FROM p0)) >= 0)::INT::VARCHAR ||
             (list_dot_product((SELECT v FROM q), (SELECT v FROM p1)) >= 0)::INT::VARCHAR AS b)
    SELECT vec_id,
           CASE WHEN list_dot_product(v, v) > 0
                 AND list_dot_product((SELECT v FROM q), (SELECT v FROM q)) > 0
                THEN round(list_cosine_similarity(v, (SELECT v FROM q)), 6)
           END AS cosine
    FROM sig
    WHERE (CASE WHEN substr(bucket,1,1) != substr((SELECT b FROM qsig),1,1) THEN 1 ELSE 0 END +
           CASE WHEN substr(bucket,2,1) != substr((SELECT b FROM qsig),2,1) THEN 1 ELSE 0 END) <= 1
    ORDER BY cosine DESC NULLS LAST, vec_id ASC LIMIT 5
    """,
)
def q44(spark, sf_dir):
    """Multi-probe LSH ANN (q22's single-probe gap closed): probe the
    query bucket plus its Hamming-1 neighbors, exact rerank. With P=2
    and 3 probes this scans 3 of 4 buckets — the oracle expresses the
    same probe set as hamming(bucket, qsig) <= 1."""
    from mel_tnnt_spark.operators.similarity import bucketed_ann_multiprobe

    emb = _t(spark, sf_dir, "embeddings")
    pivots = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 2).orderBy("vec_id").collect()
    ]
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    return bucketed_ann_multiprobe(emb, "vec_id", "embedding", qv, pivots, k=5, n_probes=3)


@_q(
    "q45_sim_ivf_ann",
    """
    WITH c AS (
      SELECT vec_id AS cidx, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
    q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
    assign AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cidx,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.cidx) AS rn
      FROM embeddings e CROSS JOIN c),
    assigned AS (SELECT vec_id, v, cidx FROM assign WHERE rn = 1),
    probe AS (SELECT cidx FROM c
              ORDER BY list_distance((SELECT v FROM q), cv), cidx LIMIT 2)
    SELECT vec_id,
           CASE WHEN list_dot_product(v, v) > 0
                 AND list_dot_product((SELECT v FROM q), (SELECT v FROM q)) > 0
                THEN round(list_cosine_similarity(v, (SELECT v FROM q)), 6)
           END AS cosine
    FROM assigned WHERE cidx IN (SELECT cidx FROM probe)
    ORDER BY cosine DESC NULLS LAST, vec_id ASC LIMIT 5
    """,
)
def q45(spark, sf_dir):
    """IVF ANN (the coarse-quantizer scale path, complementing LSH
    q22/q44): assign every vector to its nearest of 4 data-derived
    centroids, probe the 2 centroids nearest the query, exact rerank.
    The oracle reproduces the assignment with a row_number argmin and
    the same (distance, index) tie order."""
    from mel_tnnt_spark.operators.similarity import ivf_ann

    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    return ivf_ann(emb, "vec_id", "embedding", qv, cents, k=5, nprobe=2)


@_q(
    "q46_w_session_windows",
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    g AS (SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS grp
          FROM o)
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM g GROUP BY user_id, grp
    """,
)
def q46(spark, sf_dir):
    """Batch session windows (the batch twin of streaming/stateful.
    sessionize): Spark's session_window merges events closer than the
    gap; the oracle is the classic gaps-and-islands formulation. Spark
    session windows are half-open ([start, last+gap)), so the break
    condition is diff >= gap on both sides. session_end is max(ts)
    (not window.end) so the engines emit identical columns."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    ).select("user_id", "session_start", "session_end", "n_events")


@_q(
    "q47_w_analytic_running_revenue",
    """
    WITH r AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rk,
             CAST(sum(o_totalprice::DECIMAL(18,2)) OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue
      FROM orders)
    SELECT o_custkey, o_orderkey, rk, running_revenue
    FROM r WHERE rk <= 3
    """,
)
def q47(spark, sf_dir):
    """Analytic window functions (running aggregates + top-N-per-key):
    one hash-partitioned sort per customer, no self-join — the plan a
    100-TB per-key history scan wants. Ties broken by o_orderkey so
    both engines rank identically. Money sums run in DECIMAL(18,2) on
    BOTH sides: round(sum(double)) at half-cent boundaries is
    representation-dependent and diverges across engines (found by the
    adversarial fuzz); exact decimal arithmetic is the portable
    contract, cast back to double only for rendering."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rk"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double")
            .alias("running_revenue"),
        )
        .where(F.col("rk") <= 3)
    )


@_q(
    "q48_asof_join_last_purchase",
    """
    WITH state AS (
      SELECT user_id, ts, arg_max(value, event_id) AS value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
    probe AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, s.value AS asof_value
    FROM probe p ASOF LEFT JOIN state s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def q48(spark, sf_dir):
    """As-of join (custom operator Spark lacks): each click gets the
    user's most recent purchase value at-or-before it. Spark side is
    the union+window formulation (operators/asof.py — one shuffle, no
    join explosion); the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so
    the semantics (inclusive <=, latest state, NULL when none) are
    pinned against an independent implementation."""
    from mel_tnnt_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    probe = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    state = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    return asof_join(
        probe, state, key="user_id", ts="ts", payload_cols=["value"],
        seq_col="event_id", probe_id_col="event_id",
    ).select("event_id", "user_id", F.col("asof_value"))


@_q(
    "q49_range_join_clicks_in_window",
    """
    WITH iv AS (
      SELECT event_id AS purchase_id, user_id, ts AS w_start,
             ts + INTERVAL 10 MINUTE AS w_end
      FROM events WHERE event_type = 'purchase'),
    probe AS (SELECT event_id AS click_id, user_id, ts FROM events
              WHERE event_type = 'click')
    SELECT p.click_id, p.user_id, iv.purchase_id
    FROM probe p JOIN iv
      ON p.user_id = iv.user_id AND p.ts >= iv.w_start AND p.ts <= iv.w_end
    """,
)
def q49(spark, sf_dir):
    """Range join (custom operator Spark lacks): clicks landing inside
    the 10-minute window after each purchase by the same user. Spark
    side is the bucketized equi-join (operators/asof.py range_join —
    bounded fan-out, no per-key nested loop); the oracle is the plain
    inequality join, which DuckDB plans as its native IEJoin."""
    from mel_tnnt_spark.operators.asof import range_join

    ev = _t(spark, sf_dir, "events")
    probe = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    iv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    return range_join(probe, iv, key="user_id", ts="ts", start="w_start", end="w_end").select(
        "click_id", "user_id", "purchase_id"
    )


@_q(
    "q50_hypertable_rollup",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q50(spark, sf_dir):
    """Hypertable rollup (custom-operator family): hourly continuous-
    aggregate shape, oracle = DuckDB's native time_bucket. The
    INCREMENTAL maintenance path (only touched buckets refreshed, via
    the MERGE sink) is pinned equal to this from-scratch rollup in
    test_rollup_incremental_equals_scratch."""
    from mel_tnnt_spark.operators.rollup import time_rollup

    ev = _t(spark, sf_dir, "events")
    r = time_rollup(ev, ts="ts", dims=("event_type",), value="value", bucket="1 hour")
    return r.select(
        "bucket_start", "event_type", "n_events", F.round("total_value", 2).alias("total_value")
    )


@_q(
    "q51_count_min_sketch",
    """
    WITH cells AS (
      SELECT d,
             ('0x' || substr(md5(event_type || '#' || d::VARCHAR), 1, 15))::UBIGINT::BIGINT % 64 AS w
      FROM events, generate_series(0, 3) AS t(d)),
    sketch AS (SELECT d, w, count(*) AS cnt FROM cells GROUP BY d, w),
    probes AS (
      SELECT DISTINCT event_type AS k, d,
             ('0x' || substr(md5(event_type || '#' || d::VARCHAR), 1, 15))::UBIGINT::BIGINT % 64 AS w
      FROM events, generate_series(0, 3) AS t(d))
    SELECT p.k AS event_type, min(coalesce(s.cnt, 0)) AS est
    FROM probes p LEFT JOIN sketch s ON p.d = s.d AND p.w = s.w
    GROUP BY p.k
    """,
)
def q51(spark, sf_dir):
    """Count-min sketch (the 'novel sketch' custom operator): build a
    4x64 CMS over event_type, then point-estimate each type's
    frequency. Width 64 on 5 keys makes collisions unlikely, so the
    estimates equal the true counts here; the overestimate-only
    property is tested separately under forced collisions."""
    from mel_tnnt_spark.operators.sketch import cms_estimate, count_min_sketch

    ev = _t(spark, sf_dir, "events", repartition=True)
    sk = count_min_sketch(ev, "event_type", depth=4, width=64)
    return cms_estimate(sk, ev.select("event_type"), "event_type", depth=4, width=64)


# --- enrichment (M12/M13) + stateful batch twin ------------------------------

@_q(
    "q52_m12_pos_dep_tokens",
    """
    WITH d AS (
      SELECT doc_id::VARCHAR AS doc_id, lang,
             (n_chars % 100)::VARCHAR AS num,
             length(lang)::INT AS L,
             length((n_chars % 100)::VARCHAR)::INT AS D
      FROM documents WHERE doc_id < 30)
    SELECT doc_id,
           u.sent_idx::INT AS sent_idx, u.token, u.lemma, u.pos, u.tag,
           u.alpha, u.starts::INT AS starts, u.ends::INT AS ends, u.dep
    FROM d, UNNEST([
      {'sent_idx': 0, 'token': 'Alice',   'lemma': 'alice',   'pos': 'PROPN', 'tag': 'NNP', 'alpha': true,  'starts': 0,      'ends': 5,      'dep': 'nsubj'},
      {'sent_idx': 0, 'token': 'Johnson', 'lemma': 'johnson', 'pos': 'PROPN', 'tag': 'NNP', 'alpha': true,  'starts': 6,      'ends': 13,     'dep': 'nsubj'},
      {'sent_idx': 0, 'token': 'built',   'lemma': 'built',   'pos': 'VERB',  'tag': 'VB',  'alpha': true,  'starts': 14,     'ends': 19,     'dep': 'ROOT'},
      {'sent_idx': 0, 'token': 'the',     'lemma': 'the',     'pos': 'DET',   'tag': 'DT',  'alpha': true,  'starts': 20,     'ends': 23,     'dep': 'det'},
      {'sent_idx': 0, 'token': lang,      'lemma': lang,      'pos': 'NOUN',  'tag': 'NN',  'alpha': true,  'starts': 24,     'ends': 24+L,   'dep': 'obj'},
      {'sent_idx': 0, 'token': 'pipeline','lemma': 'pipeline','pos': 'NOUN',  'tag': 'NN',  'alpha': true,  'starts': 25+L,   'ends': 33+L,   'dep': 'obj'},
      {'sent_idx': 0, 'token': '.',       'lemma': '.',       'pos': 'PUNCT', 'tag': '.',   'alpha': false, 'starts': 33+L,   'ends': 34+L,   'dep': 'dep'},
      {'sent_idx': 1, 'token': 'She',     'lemma': 'she',     'pos': 'PRON',  'tag': 'PRP', 'alpha': true,  'starts': 35+L,   'ends': 38+L,   'dep': 'nsubj'},
      {'sent_idx': 1, 'token': 'quickly', 'lemma': 'quickly', 'pos': 'ADV',   'tag': 'RB',  'alpha': true,  'starts': 39+L,   'ends': 46+L,   'dep': 'dep'},
      {'sent_idx': 1, 'token': 'made',    'lemma': 'made',    'pos': 'VERB',  'tag': 'VB',  'alpha': true,  'starts': 47+L,   'ends': 51+L,   'dep': 'ROOT'},
      {'sent_idx': 1, 'token': num,       'lemma': num,       'pos': 'NUM',   'tag': 'CD',  'alpha': false, 'starts': 52+L,   'ends': 52+L+D, 'dep': 'dep'},
      {'sent_idx': 1, 'token': 'tools',   'lemma': 'tool',    'pos': 'NOUN',  'tag': 'NN',  'alpha': true,  'starts': 53+L+D, 'ends': 58+L+D, 'dep': 'obj'},
      {'sent_idx': 1, 'token': '.',       'lemma': '.',       'pos': 'PUNCT', 'tag': '.',   'alpha': false, 'starts': 58+L+D, 'ends': 59+L+D, 'dep': 'dep'}
    ]) AS t(u)
    """,
)
def q52(spark, sf_dir):
    """M12 — POS-tag + dependency-parse enrichment (spacy_PT_DP_task.py:
    23-72 schema) over a CONTROLLED template sentence pair synthesized
    from table columns, so the DuckDB oracle can independently compute
    every expected token row — token text, lemma, pos/tag, alpha,
    ABSOLUTE character offsets, and shallow deps — from the template
    arithmetic. Exercises the tokenizer, the sentence splitter, the
    sentence-initial PROPN promotion, the irregular-verb/ADV/NUM/PUNCT
    branches, and the nsubj/ROOT/det/obj/dep assignment."""
    from mel_tnnt_spark.operators.enrichment import pos_tag_tokens

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 30)
    text = F.concat(
        F.lit("Alice Johnson built the "), F.col("lang"),
        F.lit(" pipeline. She quickly made "),
        (F.col("n_chars") % 100).cast("string"), F.lit(" tools."),
    )
    return pos_tag_tokens(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), text.alias("content"))
    )


@_q(
    "q53_m13_coref_chains",
    """
    WITH d AS (
      SELECT doc_id::VARCHAR AS doc_id, upper(source) AS src,
             length(source)::INT AS S
      FROM documents WHERE doc_id < 30)
    SELECT doc_id,
           u.chain_id::INT AS chain_id, u.mention,
           u.starts::INT AS starts, u.ends::INT AS ends, u.representative
    FROM d, UNNEST([
      {'chain_id': 0,  'mention': 'Alice Johnson', 'starts': 0,    'ends': 13,   'representative': 'Alice Johnson'},
      {'chain_id': 18, 'mention': src,             'starts': 18,   'ends': 18+S, 'representative': src},
      {'chain_id': 18, 'mention': 'She',           'starts': 20+S, 'ends': 23+S, 'representative': src},
      {'chain_id': 18, 'mention': 'him',           'starts': 32+S, 'ends': 35+S, 'representative': src}
    ]) AS t(u)
    """,
)
def q53(spark, sf_dir):
    """M13 — coreference chains (coref_coreNLP.py:18-45 shape) over a
    controlled template: 'Alice Johnson met SRC. She thanked him.' The
    nearest-antecedent stand-in links both pronouns to the most recent
    entity mention (SRC); chain ids are first-mention offsets and the
    representative is the chain's first mention — all reproduced
    arithmetically by the oracle."""
    from mel_tnnt_spark.operators.enrichment import coref_resolve

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 30)
    text = F.concat(
        F.lit("Alice Johnson met "), F.upper("source"), F.lit(". She thanked him.")
    )
    return coref_resolve(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), text.alias("content"))
    )


@_q(
    "q54_stream_first_seen_batch",
    """
    SELECT md5(text) AS key,
           min(doc_id::VARCHAR) AS first_id,
           (count(*) - 1)::BIGINT AS dups
    FROM documents GROUP BY 1
    """,
)
def q54(spark, sf_dir):
    """Batch twin of the streaming first-seen dedup
    (streaming/stateful.first_seen_updates): the state the stream
    converges to after all arrivals — per content hash, the
    lexicographic-min id and arrivals-1 duplicates. Stream==batch
    convergence is pinned in tests/test_streaming.py; this gates the
    batch twin against an independent engine (the q46 pattern)."""
    from mel_tnnt_spark.streaming.stateful import first_seen_batch

    docs = _t(spark, sf_dir, "documents", repartition=False)
    keyed = docs.select(
        F.md5(F.col("text").cast("binary")).alias("text_hash"), "doc_id"
    )
    return first_seen_batch(keyed, "text_hash", "doc_id")


@_q(
    "q55_multimodal_image_decode",
    """
    WITH d AS (
      SELECT doc_id::VARCHAR AS media_id,
             ((doc_id * 37 +   0) % 256)::DOUBLE AS p0,
             ((doc_id * 37 +  59) % 256)::DOUBLE AS p1,
             ((doc_id * 37 + 118) % 256)::DOUBLE AS p2,
             ((doc_id * 37 + 177) % 256)::DOUBLE AS p3
      FROM documents WHERE doc_id < 40),
    m AS (SELECT *, (p0 + p1 + p2 + p3) / 4.0 AS mean FROM d)
    SELECT media_id, 2::INT AS width, 2::INT AS height,
           repeat(printf('%02x', CASE WHEN p0 > mean THEN 240 ELSE 0 END
                                + CASE WHEN p1 > mean THEN 15 ELSE 0 END), 4) ||
           repeat(printf('%02x', CASE WHEN p2 > mean THEN 240 ELSE 0 END
                                + CASE WHEN p3 > mean THEN 15 ELSE 0 END), 4) AS phash
    FROM m
    """,
)
def q55(spark, sf_dir):
    """Multimodal image decode with the REAL kernel (no fake): a 2x2
    P6 PPM is synthesized per row from table columns (gray pixels
    p_i = (doc_id*37 + i*59) % 256, bytes built JVM-side via
    unhex/concat), decoded by the pure-python PPM parser inside the
    mapInPandas stage, and the emitted width/height/aHash are checked
    against the oracle's closed-form expectation: nearest-neighbor 8x8
    of a 2x2 image makes each quadrant one pixel, so the 64-bit
    average hash is two repeated half-bytes determined by which pixels
    exceed the 4-pixel mean."""
    from mel_tnnt_spark.operators.multimodal import extract_image_features

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 40)

    def byte(c):
        return F.unhex(F.lpad(F.hex(c), 2, "0"))

    px = []
    for i in range(4):
        b = byte((F.col("doc_id") * 37 + i * 59) % 256)
        px += [b, b, b]  # R=G=B gray pixel
    payload = F.concat(F.lit("P6\n2 2\n255\n").cast("binary"), *px)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        payload.alias("payload"),
    )
    return extract_image_features(media)


@_q(
    "q56_s2_general_metadata",
    """
    WITH s AS (
      SELECT 'corpus-' || source AS repo,
             lang || '/docs/doc_' || doc_id::VARCHAR ||
               CASE WHEN lang = 'und' THEN '.xyz'
                    WHEN source = 'web' THEN '.md'
                    WHEN source = 'wiki' THEN '.txt'
                    ELSE '.py' END AS path,
             md5(doc_id::VARCHAR) AS commit, text
      FROM documents WHERE doc_id < 50),
    e AS (SELECT *, upper(regexp_extract(path, '\\.([A-Za-z0-9]+)$', 1)) AS ext FROM s)
    SELECT sha256(repo || '|' || path || '|' || commit) AS doc_id,
           repo || '/' || path AS abs_path,
           regexp_extract(path, '([^/]+)$', 1) AS filename,
           regexp_extract(path, '^(.*)/[^/]+$', 1) AS parent,
           ext AS extension,
           strlen(coalesce(text, '')) AS file_length,
           CASE ext WHEN 'TXT' THEN 'text/plain'
                    WHEN 'MD'  THEN 'text/markdown'
                    WHEN 'PY'  THEN 'text/x-python'
                    ELSE 'application/octet-stream' END AS mime_type,
           CASE ext WHEN 'TXT' THEN 'TXT'
                    WHEN 'MD'  THEN 'MARKDOWN'
                    WHEN 'PY'  THEN 'PYTHON'
                    ELSE 'TXT' END AS extractor
    FROM e
    """,
)
def q56(spark, sf_dir):
    """S2 — General-Metadata derivation (Directory.scanAndBuildStructure
    + File fields, code/MEL/__init__.py:2140-2162, 1004-1076) gated
    end to end: a code-files-shaped input is synthesized from table
    columns and every derived field — sha256 doc key, abs path,
    filename, parent, extension, byte length, MIME classification
    (F13), extractor dispatch (J3) — is recomputed independently by
    the oracle. Exercises known extensions (.txt/.md/.py) AND the
    unknown-extension fallbacks."""
    from mel_tnnt_spark.operators.metadata import with_general_metadata

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 50)
    suffix = (
        F.when(F.col("lang") == "und", ".xyz")
        .when(F.col("source") == "web", ".md")
        .when(F.col("source") == "wiki", ".txt")
        .otherwise(".py")
    )
    src = docs.select(
        F.concat(F.lit("corpus-"), "source").alias("repo"),
        F.concat(
            F.col("lang"), F.lit("/docs/doc_"), F.col("doc_id").cast("string"), suffix
        ).alias("path"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("commit"),
        "lang",
        F.col("text").alias("content"),
    )
    return with_general_metadata(src).select(
        "doc_id", "abs_path", "filename", "parent", "extension",
        "file_length", "mime_type", "extractor",
    )


@_q(
    "q57_f1_nfkd_ascii_fold",
    """
    SELECT doc_id, strip_accents('café résumé naïve ' || lang) AS folded
    FROM documents WHERE doc_id < 50
    """,
)
def q57(spark, sf_dir):
    """F1 — the NFKD->ASCII fold (Text.__init__,
    code/MEL/__init__.py:923-926; the function every offset in the
    engine depends on) gated against an independent engine: on
    accent-decomposable latin input, NFKD + drop-non-ASCII equals
    DuckDB's strip_accents. The Spark side runs the REAL pandas-UDF
    fold over text synthesized from table columns (byte-level unit
    tests cover the full unicode surface; this pins the cross-engine
    contract on the decomposable subset)."""
    from mel_tnnt_spark.functions.text import ascii_fold_udf

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 50)
    text = F.concat(F.lit("café résumé naïve "), F.col("lang"))
    return docs.select("doc_id", ascii_fold_udf(text).alias("folded"))


@_q(
    "q58_s9_lang_extract",
    """
    WITH d AS (
      SELECT doc_id, (doc_id % 4 + 1)::BIGINT AS k,
             CASE source WHEN 'web' THEN 'JS'
                         WHEN 'wiki' THEN 'MARKDOWN'
                         ELSE 'PYTHON' END AS extractor
      FROM documents WHERE doc_id < 60)
    SELECT doc_id, extractor,
           k AS n_comments,
           CASE extractor WHEN 'PYTHON' THEN 2 ELSE 1 END::BIGINT AS n_imports,
           1::BIGINT AS n_defs,
           CASE extractor WHEN 'PYTHON' THEN 1 ELSE 0 END::BIGINT AS n_docstrings,
           CASE extractor WHEN 'MARKDOWN' THEN 0 ELSE 1 END::BIGINT AS n_string_literals,
           CASE extractor WHEN 'PYTHON' THEN k + 6
                          WHEN 'JS' THEN 4
                          ELSE k + 1 END::BIGINT AS n_identifiers,
           CASE extractor WHEN 'PYTHON' THEN k + 6 ELSE k + 3 END::BIGINT AS n_lines
    FROM d
    """,
)
def q58(spark, sf_dir):
    """S9/J3 — per-language structural extraction (the source-code
    analogue of File.extract*info, code/MEL/__init__.py:1167-2013,
    dispatched like extract_ext_info, 2016-2022): per-row code content
    is synthesized from a language template with doc_id-parameterized
    repetition, the real regex extractors count comments / imports /
    defs / docstrings / string literals / identifiers / lines, and the
    oracle checks the closed-form expected counts — exercising all
    three dispatch branches (PYTHON/JS/MARKDOWN) and every pattern
    family, including the docstring-vs-string-literal interaction
    (\"doc\" inside triple quotes counts once each way)."""
    from mel_tnnt_spark.operators.lang_extract import with_structural_metadata

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 60)
    k = (F.col("doc_id") % 4 + 1).cast("int")
    extractor = (
        F.when(F.col("source") == "web", "JS")
        .when(F.col("source") == "wiki", "MARKDOWN")
        .otherwise("PYTHON")
    )
    content = (
        F.when(
            extractor == "PYTHON",
            F.concat(
                F.repeat(F.lit("# comment\n"), k),
                F.lit("import os\nimport sys\ndef f():\n    return 1\n\"\"\"doc\"\"\"\n"),
            ),
        )
        .when(
            extractor == "JS",
            F.concat(
                F.repeat(F.lit("// c\n"), k),
                F.lit("import x from 'y'\nfunction go() { return 1 }\n"),
            ),
        )
        .otherwise(
            F.concat(F.repeat(F.lit("> quote\n"), k), F.lit("[a](b)\n# Title\n"))
        )
    )
    src = docs.select("doc_id", extractor.alias("extractor"), content.alias("content"))
    out = with_structural_metadata(src)
    return out.select(
        "doc_id", "extractor",
        F.col("structural.n_comments").alias("n_comments"),
        F.col("structural.n_imports").alias("n_imports"),
        F.col("structural.n_defs").alias("n_defs"),
        F.col("structural.n_docstrings").alias("n_docstrings"),
        F.col("structural.n_string_literals").alias("n_string_literals"),
        F.col("structural.n_identifiers").alias("n_identifiers"),
        F.col("structural.n_lines").alias("n_lines"),
    )


@_q(
    "q59_a14_csv_cells",
    """
    SELECT doc_id, u.idx::INT AS cell_index, u.cell AS cell_text
    FROM (SELECT doc_id, lang FROM documents WHERE doc_id < 60) d,
    UNNEST([
      {'idx': 0, 'cell': 'alpha'},
      {'idx': 1, 'cell': 'beta ' || lang},
      {'idx': 2, 'cell': 'gamma delta'}
    ]) AS t(u)
    """,
)
def q59(spark, sf_dir):
    """F4/A14 — the CSV path (NER.csv_preprocess,
    code/NLP_NER/EntityRecognition.py:793-801: strip special runs,
    newlines become commas, split on comma; per-cell results merge per
    doc, 935-992): synthesized clean text 'alpha,beta LANG\\ngamma-delta'
    must explode to exactly three (index, cell) rows — the hyphen run
    collapses to a space, the newline becomes a cell boundary — all
    reproduced literally by the oracle."""
    from mel_tnnt_spark.operators.lang_extract import csv_cells

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 60)
    text = F.concat(F.lit("alpha,beta "), F.col("lang"), F.lit("\ngamma-delta"))
    return csv_cells(
        docs.select("doc_id", text.alias("clean_text")), "doc_id", "clean_text"
    )


@_q(
    "q60_w5_w6_mention_stage",
    """
    WITH d AS (
      SELECT doc_id::VARCHAR AS doc_id,
             upper(substr(lang, 1, 1)) || substr(lang, 2) AS lcap,
             length(lang)::INT AS L
      FROM documents WHERE doc_id < 60),
    s AS (
      SELECT *,
             'Alice Johnson went to ' || lcap || ' City here' AS sent0
      FROM d)
    SELECT doc_id,
           'token_rule_model' AS model, 'CAPSEQ' AS category,
           u.entity, u.s::INT AS start_index, u.e::INT AS end_index,
           u.sent AS sentence
    FROM s, UNNEST([
      {'entity': 'Alice Johnson',   's': 0,      'e': 13,     'sent': sent0},
      {'entity': lcap || ' City',   's': 22,     'e': 27 + L, 'sent': sent0},
      {'entity': 'The',             's': 34 + L, 'e': 37 + L, 'sent': ' The end'}
    ]) AS t(u)
    """,
)
def q60(spark, sf_dir):
    """The CORE mention stage gated end to end — W5 BIO run-length
    chunking (get_continuous_chunks, code/NLP_NER/EntityRecognition.py:
    174-188), W6 running-offset location (text.find advancing past
    each match, 878-887), F5 sentence context (split-on-'.' running
    totals, 825-832), and the unified mention schema (842-847) — via
    the token-rule model over template text synthesized from table
    columns: 'Alice Johnson went to <Lang> City here. The end'. The
    oracle reproduces every chunk merge ('Alice Johnson' and
    '<Lang> City' are two-token runs), every absolute offset, and both
    context sentences arithmetically."""
    from mel_tnnt_spark.operators.mentions import detect_mentions

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 60)
    lcap = F.concat(
        F.upper(F.substring("lang", 1, 1)), F.expr("substring(lang, 2)")
    )
    text = F.concat(
        F.lit("Alice Johnson went to "), lcap, F.lit(" City here. The end")
    )
    src = docs.select(F.col("doc_id").cast("string").alias("doc_id"), text.alias("content"))
    return detect_mentions(src, models=("token_rule_model",), text_col="content")


def _linking_oracle_sql() -> str:
    """J8 oracle, generated from the SAME config the engine broadcasts
    (ALIAS_DICT + LABEL_CLASSIFICATION) so dictionary edits can never
    silently diverge the gate from the code."""
    from mel_tnnt_spark.config import ALIAS_DICT, LABEL_CLASSIFICATION

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({q(d['alias'])}, {q(d['entity_id'])}, {q(d['canonical'])}, "
        f"{q(d['tnnt_label'])}, {float(d['prior'])})"
        for d in ALIAS_DICT
    )
    labels = ",\n      ".join(
        [f"({q(x)})" for x in LABEL_CLASSIFICATION] + ["(NULL)"]
    )
    uniq = list(dict.fromkeys(d["alias"] for d in ALIAS_DICT))
    pick = " ".join(
        f"WHEN {i} THEN {q(a)}" for i, a in enumerate(uniq)
    )
    return f"""
    WITH aliases(alias, entity_id, canonical, cand_label, prior) AS (VALUES
      {rows}),
    labels(label) AS (VALUES
      {labels}),
    scored AS (
      SELECT a.*, l.label,
             round(a.prior + CASE WHEN a.cand_label = l.label
                                  THEN 0.5 ELSE 0.0 END, 6) AS score
      FROM aliases a CROSS JOIN labels l),
    dim AS (
      SELECT *, row_number() OVER (
               PARTITION BY alias, label
               ORDER BY score DESC, entity_id DESC, canonical DESC,
                        cand_label DESC) AS rn
      FROM scored),
    m AS (
      SELECT doc_id::VARCHAR AS doc_id,
             'gazetteer_conll_model' AS model, 'SURFACE' AS category,
             CASE doc_id % {len(uniq)} {pick} END AS entity,
             0 AS start_index, 1 AS end_index,
             CASE doc_id % 3 WHEN 0 THEN 'tnnt:Person'
                             WHEN 1 THEN 'tnnt:Organisation' END AS tnnt_label
      FROM documents WHERE doc_id < 60)
    SELECT m.doc_id, m.model, m.category, m.entity,
           m.start_index::INT AS start_index, m.end_index::INT AS end_index,
           d.entity_id, d.canonical, d.cand_label AS linked_label, d.score
    FROM m JOIN dim d
      ON d.rn = 1 AND d.alias = m.entity
     AND d.label IS NOT DISTINCT FROM m.tnnt_label
    """


@_q("q61_j8_entity_linking", _linking_oracle_sql())
def q61(spark, sf_dir):
    """J8 — candidate entity-link scoring against the broadcast alias
    dictionary (the BASELINE-named replacement for per-row WikiData
    SPARQL, code/MEL/DoEE_Species.py:224-274): mentions with surfaces
    cycling through EVERY dictionary alias (incl. the ambiguous
    'Margaret Hamilton' and 'Apache') and labels cycling Person /
    Organisation / NULL run through link_mentions (zero-shuffle
    pre-resolved broadcast dim); the oracle rebuilds the dictionary,
    the scoring (prior + 0.5 label match), and the deterministic
    struct-max tie-break from the same config."""
    from mel_tnnt_spark.config import ALIAS_DICT
    from mel_tnnt_spark.operators.linking import alias_dict_df, link_mentions

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 60)
    uniq = list(dict.fromkeys(d["alias"] for d in ALIAS_DICT))
    entity = F.element_at(
        F.array(*[F.lit(a) for a in uniq]), (F.col("doc_id") % len(uniq) + 1).cast("int")
    )
    label = (
        F.when(F.col("doc_id") % 3 == 0, "tnnt:Person")
        .when(F.col("doc_id") % 3 == 1, "tnnt:Organisation")
        .otherwise(F.lit(None).cast("string"))
    )
    mentions = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("gazetteer_conll_model").alias("model"),
        F.lit("SURFACE").alias("category"),
        entity.alias("entity"),
        F.lit(0).cast("int").alias("start_index"),
        F.lit(1).cast("int").alias("end_index"),
        label.alias("tnnt_label"),
    )
    return link_mentions(mentions, alias_dict_df(spark))




@_q(
    "q62_dd_simhash_pairs",
    """
    WITH tok AS (
      SELECT doc_id, t, count(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents WHERE doc_id < 120)
      WHERE t <> '' GROUP BY doc_id, t),
    h AS (SELECT doc_id, cnt, ('0x' || substr(md5(t), 1, 15))::UBIGINT::BIGINT AS h FROM tok),
    bits AS (
      SELECT doc_id, b, sum(cnt * (((h >> b) & 1) * 2 - 1)) AS s
      FROM h, range(16) r(b) GROUP BY doc_id, b),
    sig AS (
      SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
      FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q62(spark, sf_dir):
    """SimHash near-dup PAIR generation — the dedup decision stage on
    top of the q20 signatures. Spark side is the banded pigeonhole
    equi-join (max_hamming+1 bands; recall exactly 1.0, no LSH miss
    probability) + exact popcount filter; the oracle recomputes the
    16-bit signatures from scratch and takes the honest O(n^2)
    all-pairs popcount, which the banded plan must reproduce exactly.
    """
    from mel_tnnt_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 120)
    return simhash_pairs(docs, "doc_id", "text", bits=16, max_hamming=3)


@_q(
    "q63_f17_summary_filters",
    """
    WITH d AS (SELECT doc_id, lang FROM documents WHERE doc_id < 80),
    e AS (
      SELECT doc_id, u.entity FROM d, UNNEST([
        {'entity': 'Alice Johnson'},
        {'entity': lang || '-' || (doc_id % 100)::VARCHAR},
        {'entity': (doc_id % 1000)::VARCHAR},
        {'entity': 'www.' || lang || '.org/p#' || (doc_id % 10)::VARCHAR},
        {'entity': '... !?'},
        {'entity': lang}
      ]) AS t(u))
    SELECT doc_id, entity,
           regexp_matches(entity, '[0-9]') AS has_digit,
           NOT regexp_matches(entity, '[^0-9[:punct:] ]') AS only_num,
           NOT regexp_matches(entity, '[^A-Za-z[:punct:] ]') AS only_alpha,
           regexp_matches(entity,
             '((http|https)\\:\\/\\/)?[a-zA-Z0-9\\.\\/\\?\\:@\\-_=#]+\\.([a-zA-Z]){2,6}([a-zA-Z0-9\\.\\&\\/\\?\\:@\\-_=#])*'
           ) AS is_url
    FROM e
    """,
)
def q63(spark, sf_dir):
    """F17 — the four aggregated-summary entity filters
    (filter_summary.py:9-57: contains-digit, only-numeric,
    only-alphabetic, website) as single-projection JVM predicates over
    entity surfaces synthesized from table columns to hit every branch
    — including the reference quirk that a punctuation-only surface
    ('... !?') passes BOTH only_num and only_alpha (all([]) is True),
    and that is_url is an unanchored search (bare 'www.en.org/...'
    hits without a scheme)."""
    from mel_tnnt_spark.operators.summaries import summary_filters

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 80)
    surfaces = F.array(
        F.lit("Alice Johnson"),
        F.concat(F.col("lang"), F.lit("-"), (F.col("doc_id") % 100).cast("string")),
        (F.col("doc_id") % 1000).cast("string"),
        F.concat(
            F.lit("www."), F.col("lang"), F.lit(".org/p#"),
            (F.col("doc_id") % 10).cast("string"),
        ),
        F.lit("... !?"),
        F.col("lang"),
    )
    ents = docs.select("doc_id", F.explode(surfaces).alias("entity"))
    return summary_filters(ents, "entity")


@_q(
    "q64_multimodal_audio_decode",
    """
    WITH d AS (
      SELECT doc_id,
             [((doc_id * 131 +    7) % 2048) - 1024,
              ((doc_id * 131 +  464) % 2048) - 1024,
              ((doc_id * 131 +  921) % 2048) - 1024,
              ((doc_id * 131 + 1378) % 2048) - 1024] AS s
      FROM documents WHERE doc_id < 40),
    m AS (
      SELECT doc_id, s,
             sqrt((s[1]*s[1] + s[2]*s[2] + s[3]*s[3] + s[4]*s[4]) / 4.0) AS rms,
             (CASE WHEN (s[1] < 0) <> (s[2] < 0) THEN 1 ELSE 0 END
            + CASE WHEN (s[2] < 0) <> (s[3] < 0) THEN 1 ELSE 0 END
            + CASE WHEN (s[3] < 0) <> (s[4] < 0) THEN 1 ELSE 0 END) / 3.0 AS zcr
      FROM d)
    SELECT doc_id::VARCHAR AS media_id, 8000::INT AS sample_rate, 1::INT AS channels,
           round(4.0 / 8000.0, 6) AS duration_s,
           round(rms, 6) AS rms,
           round(zcr, 6) AS zero_crossing_rate
    FROM m
    """,
)
def q64(spark, sf_dir):
    """Multimodal audio decode with the REAL kernel (stdlib `wave` +
    numpy over 16-bit PCM): a 4-sample mono 8 kHz WAV is synthesized
    per row JVM-side (constant 44-byte RIFF header + little-endian
    samples s_i = ((doc_id*131 + 7 + i*457) % 2048) - 1024, bytes via
    hex/unhex), decoded by py_audio_features inside mapInPandas, and
    RMS / zero-crossing-rate / duration are checked against the
    oracle's closed-form arithmetic on the same sample values."""
    from mel_tnnt_spark.operators.multimodal import extract_audio_features

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 40)
    header = F.unhex(F.lit(
        "52494646"  # RIFF
        "2C000000"  # chunk size 44
        "57415645"  # WAVE
        "666D7420" "10000000" "0100" "0100"  # fmt, 16, PCM, mono
        "401F0000" "803E0000" "0200" "1000"  # 8000 Hz, 16000 B/s, align 2, 16-bit
        "64617461" "08000000"  # data, 8 bytes
    ))
    sample_bytes = []
    for i in range(4):
        s = (F.col("doc_id") * 131 + 7 + i * 457) % 2048 - 1024
        u = s.bitwiseAND(F.lit(0xFFFF))  # two's-complement uint16
        h = F.lpad(F.hex(u), 4, "0")
        sample_bytes.append(F.unhex(F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))))
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.lit("audio/wav").alias("mime"),
        F.concat(header, *sample_bytes).alias("payload"),
    )
    out = extract_audio_features(media)
    return out.select(
        "media_id", "sample_rate", "channels",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        F.round("zero_crossing_rate", 6).alias("zero_crossing_rate"),
    )


@_q(
    "q65_multimodal_frame_sample",
    """
    SELECT doc_id::VARCHAR AS media_id, t.f::INT AS frame_idx
    FROM (SELECT doc_id, ((doc_id % 7) + 1) * 1500 AS L
          FROM documents WHERE doc_id < 80) d,
    UNNEST(generate_series(0, CAST(floor(L / 1024.0) AS INT), 2)) AS t(f)
    """,
)
def q65(spark, sf_dir):
    """Multimodal video frame-sampling PLAN (every-Nth-frame): the
    JVM-side explode that turns one video row into its (media_id,
    frame_idx) decode work-list — even-width rows for the downstream
    decode stage (the codec kernel itself stays honestly stubbed; this
    gates the Spark-side plumbing: frame count from payload size,
    stride arithmetic, explode shape). Payload is a synthesized blob of
    (doc_id%7+1)*1500 bytes, so n_frames = len/1024 + 1 spans 2..11
    and the stride-2 sequence is closed-form in the oracle."""
    from mel_tnnt_spark.operators.multimodal import frame_sample_plan

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 80)
    payload = F.repeat(F.lit("x"), ((F.col("doc_id") % 7) + 1).cast("int") * 1500)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit("video/x-raw").alias("mime"),
        payload.cast("binary").alias("payload"),
    )
    return frame_sample_plan(media, every_n=2)




@_q(
    "q66_a6_aggregated_summary",
    """
    WITH d AS (SELECT doc_id, lang, 'Alice ' || lang AS e1
               FROM documents WHERE doc_id < 60)
    SELECT doc_id::VARCHAR AS doc_id, e1 AS entity,
           'model_a:LOC:1;model_a:PER:' ||
             CASE WHEN doc_id % 2 = 0 THEN '2' ELSE '1' END ||
             ';model_b:PERSON:1' AS by_model,
           (CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END)::BIGINT AS total
    FROM d
    UNION ALL
    SELECT doc_id::VARCHAR, lang, 'model_b:GPE:1', 1::BIGINT FROM d
    """,
)
def q66(spark, sf_dir):
    """A6 — cross-model aggregated summary (update_aggregation,
    code/NLP_NER_API/analysis/aggregation.py:298-325: per (doc, entity)
    the {model, category, count} list plus running total). The nested
    collect_list is serialized deterministically for the gate
    (array_sort then join), and the synthesized mention stream includes
    a per-parity duplicate so the count branch (cnt=2) is exercised —
    the oracle reproduces list content, order, and totals
    arithmetically."""
    from mel_tnnt_spark.operators.summaries import aggregated_summary

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 60)
    e1 = F.concat(F.lit("Alice "), F.col("lang"))

    def m(model, cat, ent):
        return F.struct(
            F.lit(model).alias("model"), F.lit(cat).alias("category"), ent.alias("entity")
        )

    base = F.array(
        m("model_a", "PER", e1),
        m("model_a", "LOC", e1),
        m("model_b", "PERSON", e1),
        m("model_b", "GPE", F.col("lang")),
    )
    dup = F.when(F.col("doc_id") % 2 == 0, F.array(m("model_a", "PER", e1))).otherwise(
        F.array().cast("array<struct<model:string,category:string,entity:string>>")
    )
    mentions = (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.explode(F.concat(base, dup)).alias("x"),
        )
        .select("doc_id", "x.model", "x.category", "x.entity")
    )
    agg = aggregated_summary(mentions)
    serialized = F.array_join(
        F.transform(
            F.array_sort("by_model"),
            lambda s: F.concat_ws(":", s["model"], s["category"], s["cnt"].cast("string")),
        ),
        ";",
    )
    return agg.select("doc_id", "entity", serialized.alias("by_model"), "total")


@_q(
    "q67_m14_archive_members",
    """
    SELECT doc_id::VARCHAR AS doc_id, 'tar' AS container, 0::INT AS member_index,
           'member_' || (doc_id % 7)::VARCHAR || '.txt' AS member_path,
           rpad('doc ' || doc_id::VARCHAR, 32, ' ') AS member_text
    FROM documents WHERE doc_id < 60
    """,
)
def q67(spark, sf_dir):
    """M14 — archive member expansion (ner_for_all_files doc-i
    convention, code/NLP_NER/EntityRecognition.py:1055-1093) gated on
    REAL tar payloads: a one-member USTAR archive is synthesized per
    row JVM-side (seven checksum-bearing 512-byte headers precomputed
    at plan build via stdlib tarfile, member content rpad-padded to the
    declared 32 bytes, zero-block tail), sniffed by magic bytes and
    exploded by the stdlib tarfile reader inside mapInPandas; the
    oracle reconstructs every member row arithmetically."""
    import io
    import tarfile

    from mel_tnnt_spark.sources.archives import explode_archive_members

    hdrs = []
    for k in range(7):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            info = tarfile.TarInfo(f"member_{k}.txt")
            info.size, info.mtime = 32, 0
            tf.addfile(info, io.BytesIO(b" " * 32))
        hdrs.append(buf.getvalue()[:512].hex())
    tail_hex = "00" * (480 + 1024)  # content-block padding + end-of-archive

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 60)
    hdr = F.element_at(
        F.array(*[F.lit(h) for h in hdrs]), (F.col("doc_id") % 7 + 1).cast("int")
    )
    content = F.rpad(
        F.concat(F.lit("doc "), F.col("doc_id").cast("string")), 32, " "
    ).cast("binary")
    payload = F.concat(F.unhex(hdr), content, F.unhex(F.lit(tail_hex)))
    src = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), payload.alias("payload")
    )
    out = explode_archive_members(src)
    return out.select(
        "doc_id", "container", "member_index", "member_path",
        F.col("member_content").cast("string").alias("member_text"),
    )




@_q(
    "q68_cc_incremental_maintenance",
    """
    SELECT doc_id::BIGINT AS node, ((doc_id // 4) * 4)::BIGINT AS component
    FROM documents WHERE doc_id < 120
    UNION ALL
    SELECT (200 + doc_id)::BIGINT, (4 * doc_id)::BIGINT
    FROM documents WHERE doc_id < 10
    """,
)
def q68(spark, sf_dir):
    """Incremental connected-components maintenance (north-star CC at
    batch cadence): labels from a first edge batch (pairs 2i—2i+1) are
    folded with a second batch that merges neighbouring pairs into
    quads (4i+1—4i+2) and attaches ten brand-new nodes (200+i — 4i),
    WITHOUT recomputing the global graph — batch endpoints contract to
    their current components, CC runs on the batch-sized contraction,
    and a broadcast remap updates the label table. The oracle states
    the resulting labeling in closed form: node n < 120 lands in
    component 4*(n//4); new node 200+i attaches to component 4i."""
    from mel_tnnt_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    docs = _t(spark, sf_dir, "documents", repartition=False)
    i = F.col("doc_id").cast("long")
    first = docs.where(F.col("doc_id") < 60).select(
        (i * 2).alias("src"), (i * 2 + 1).alias("dst")
    )
    merges = docs.where(F.col("doc_id") < 30).select(
        (i * 4 + 1).alias("src"), (i * 4 + 2).alias("dst")
    )
    attach = docs.where(F.col("doc_id") < 10).select(
        (i + 200).alias("src"), (i * 4).alias("dst")
    )
    labels = connected_components(first)
    return incremental_components(labels, merges.unionByName(attach))




@_q(
    "q69_multimodal_resize",
    """
    WITH d AS (
      SELECT doc_id::VARCHAR AS media_id,
             printf('%02x', (doc_id * 37 +   0) % 256) AS h0,
             printf('%02x', (doc_id * 37 +  59) % 256) AS h1,
             printf('%02x', (doc_id * 37 + 118) % 256) AS h2,
             printf('%02x', (doc_id * 37 + 177) % 256) AS h3
      FROM documents WHERE doc_id < 40)
    SELECT media_id, 59::BIGINT AS n_bytes,
           '50360a3420340a3235350a' ||
           repeat(repeat(h0, 6) || repeat(h1, 6), 2) ||
           repeat(repeat(h2, 6) || repeat(h3, 6), 2) AS payload_hex
    FROM d
    """,
)
def q69(spark, sf_dir):
    """Multimodal resize with the REAL kernel (decode -> nearest-
    neighbor gather -> P6 re-encode): the q55 2x2 gray PPMs are
    resized to 4x4, where floor-mapped nearest neighbor makes each
    source pixel an exact 2x2 block — so the full output byte stream
    (11-byte P6 header + 48 pixel bytes) is closed-form and the oracle
    states its hex literally. Completes the decode / feature-extract /
    resize / frame-sample multimodal quartet, each oracle-gated."""
    from mel_tnnt_spark.operators.multimodal import resize_images

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 40)

    def byte(c):
        return F.unhex(F.lpad(F.hex(c), 2, "0"))

    px = []
    for i in range(4):
        b = byte((F.col("doc_id") * 37 + i * 59) % 256)
        px += [b, b, b]
    payload = F.concat(F.lit("P6\n2 2\n255\n").cast("binary"), *px)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        payload.alias("payload"),
    )
    out = resize_images(media, 4, 4)
    return out.select(
        "media_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.lower(F.hex("payload")).alias("payload_hex"),
    )




@_q(
    "q70_curation_pipeline",
    """
    WITH surv AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    d AS (
      SELECT doc_id, text, lang FROM documents JOIN surv USING (doc_id)),
    q AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '[^ ]+'))::BIGINT AS n_tokens,
             round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   / greatest(length(text), 1), 4) AS alpha_ratio
      FROM d),
    kept AS (
      SELECT * FROM q WHERE n_tokens >= 5 AND alpha_ratio >= 0.5),
    sampled AS (
      SELECT * FROM kept
      WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT % 3 = 0)
    SELECT lang, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens
    FROM sampled GROUP BY lang
    """,
)
def q70(spark, sf_dir):
    """The curation pipeline COMPOSED as one lazy plan — exact dedup
    (survivor per text hash) -> quality filter (token count + alpha
    ratio) -> deterministic 1-in-3 systematic sample -> per-language
    corpus stats. Each stage is individually gated (q17, q24, q34);
    this gates their composition: one DataFrame chain, no
    materialization between stages, survivor join on the text hash,
    every predicate JVM-side."""
    from mel_tnnt_spark.operators.dedup import exact_dedup
    from mel_tnnt_spark.operators.sampling import deterministic_sample
    from mel_tnnt_spark.operators.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    surv = exact_dedup(docs, "doc_id", "text").select(
        F.col("survivor_id").alias("doc_id")
    )
    d = docs.join(surv, "doc_id")
    # lang comes straight off the docs scan — doc_id is unique and the
    # quality side already restricts to survivors, so re-joining the
    # deduped frame would just duplicate the scan+dedup subtree
    q = quality_score(d, "doc_id", "text").join(docs.select("doc_id", "lang"), "doc_id")
    kept = q.where((F.col("n_tokens") >= 5) & (F.col("alpha_ratio") >= 0.5))
    sampled = deterministic_sample(kept, "doc_id", rate_denominator=3)
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )




@_q(
    "q71_hll_registers",
    """
    WITH h AS (
      SELECT ('0x' || substr(md5('key-' || doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT AS h
      FROM documents),
    r AS (SELECT h & 255 AS bucket, h >> 8 AS w FROM h)
    SELECT bucket::BIGINT AS bucket,
           max(CASE WHEN w = 0 THEN 53 ELSE 52 - length(bin(w)) + 1 END)::BIGINT AS register,
           8 AS p
    FROM r GROUP BY bucket
    """,
)
def q71(spark, sf_dir):
    """HyperLogLog register table (Flajolet et al. 2007) — the
    distinct-count sketch companion to the count-min sketch (q51):
    one codegen hash per row, one map-side-combined groupBy, shuffle
    capped at 2^p rows regardless of key cardinality. Registers are
    integer-exact (rho via base-2 string length, no float log2), so
    the gate is a strict hash match; estimator accuracy and the
    semigroup merge are property-pinned in tests."""
    from mel_tnnt_spark.operators.sketch import hll_registers

    docs = _t(spark, sf_dir, "documents")
    keys = docs.select(F.concat(F.lit("key-"), F.col("doc_id").cast("string")).alias("k"))
    out = hll_registers(keys, "k", p=8)
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("register").cast("long").alias("register"),
        "p",  # the table carries its precision (round-4 review fix)
    )




@_q(
    "q72_bm25_ranking",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
      FROM documents),
    toks_ne AS (SELECT doc_id, t FROM toks WHERE t <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks_ne GROUP BY doc_id),
    tf AS (
      SELECT doc_id, t, count(*) AS tf FROM toks_ne
      WHERE t IN ({", ".join("'" + t + "'" for t in ENTITY_VOCAB)})
      GROUP BY doc_id, t),
    stats AS (
      SELECT (SELECT count(*) FROM documents) AS n,
             (SELECT avg(dl) FROM dl) AS avgdl),
    dft AS (SELECT t, count(*) AS df_t FROM tf GROUP BY t)
    SELECT tf.doc_id,
           round(sum(
             ln((n - df_t + 0.5) / (df_t + 0.5) + 1.0)
             * tf * (1.2 + 1.0)
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))
           ), 6) AS bm25
    FROM tf
    JOIN dl ON dl.doc_id = tf.doc_id
    JOIN dft USING (t)
    CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
)
def q72(spark, sf_dir):
    """BM25 relevance ranking of the corpus against the entity
    vocabulary — the retrieval-grade topical scorer for mining subsets
    out of a web-scale corpus. One pass over the token stream (tf
    restricted map-side to the broadcast query vocabulary, doc lengths
    from the same explode), corpus stats broadcast back, all codegen
    arithmetic; the oracle reproduces the Robertson idf and length
    normalization literally."""
    from mel_tnnt_spark.operators.textstats import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, "doc_id", "text", list(ENTITY_VOCAB))




@_q(
    "q73_winnowing_overlap",
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
      FROM documents WHERE doc_id < 150),
    sh AS (
      SELECT doc_id, i - 1 AS pos,
             ('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15))::UBIGINT::BIGINT AS h
      FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
      WHERE len(ws) >= 3),
    fp0 AS (
      SELECT DISTINCT doc_id, fingerprint FROM (
        SELECT doc_id,
               min(h) OVER win AS fingerprint,
               count(*) OVER win AS _n
        FROM sh
        WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
      WHERE _n = 4),
    rare AS (SELECT fingerprint FROM fp0 GROUP BY fingerprint HAVING count(*) <= 50),
    fp AS (SELECT fp0.* FROM fp0 JOIN rare USING (fingerprint))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
    FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def q73(spark, sf_dir):
    """Winnowing partial-overlap pairs (Schleimer et al. 2003, MOSS) —
    contamination detection: positional shingle hashes -> running
    window minima -> distinct fingerprints -> df-guarded inverted-
    index self-join counting shared fingerprints. Complements the
    whole-document near-dup family (q18/q35/q62/q28): a copied
    paragraph inside an otherwise-different document shares
    fingerprints even when whole-set similarity is negligible."""
    from mel_tnnt_spark.operators.dedup import overlap_pairs

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 150)
    return overlap_pairs(docs, "doc_id", "text", n=3, window=4, min_shared=2, max_df=50)




@_q(
    "q74_cc_size_histogram",
    """
    WITH sizes(sz) AS (SELECT 4 FROM documents WHERE doc_id < 30)
    SELECT 4::BIGINT AS component_size, 30::BIGINT AS n_components,
           120::BIGINT AS n_nodes
    FROM sizes LIMIT 1
    """,
)
def q74(spark, sf_dir):
    """KG-analytics: the component-size histogram over the identity
    graph (how big are the entity clusters?) — the first question a
    user asks of canonicalization output, and the skew detector for
    pathological mega-components. Built on the q68 construction
    (pairs merged into quads), where the histogram is closed-form:
    exactly 30 components of size 4 covering 120 nodes."""
    from mel_tnnt_spark.operators.components import connected_components

    docs = _t(spark, sf_dir, "documents", repartition=False)
    i = F.col("doc_id").cast("long")
    edges = (
        docs.where(F.col("doc_id") < 60)
        .select((i * 2).alias("src"), (i * 2 + 1).alias("dst"))
        .unionByName(
            docs.where(F.col("doc_id") < 30).select(
                (i * 4 + 1).alias("src"), (i * 4 + 2).alias("dst")
            )
        )
    )
    cc = connected_components(edges)
    return (
        cc.groupBy("component")
        .agg(F.count("*").alias("sz"))
        .groupBy(F.col("sz").alias("component_size"))
        .agg(
            F.count("*").alias("n_components"),
            F.sum("sz").alias("n_nodes"),
        )
    )


@_q(
    "q75_m_nltk_category_rescan",
    """
    WITH d AS (
      SELECT doc_id::VARCHAR AS doc_id,
             (3 + length(doc_id::VARCHAR))::INT AS L,
             'Dup' || doc_id AS ent
      FROM documents WHERE doc_id < 60),
    s AS (
      SELECT *, ent || ' mid' || doc_id || ' ' || ent || ' ' || ent AS txt
      FROM d)
    SELECT doc_id, 'nltk_rescan_model' AS model, u.category,
           ent AS entity, u.s::INT AS start_index, u.e::INT AS end_index,
           txt AS sentence
    FROM s, UNNEST([
      {'category': 'QCAT', 's': 0,       'e': L},
      {'category': 'QCAT', 's': 2*L + 2, 'e': 3*L + 2},
      {'category': 'PCAT', 's': 0,       'e': L}
    ]) AS t(u)
    """,
)
def q75(spark, sf_dir):
    """The NLTK branch's per-category offset RESTART quirk
    (NLTKNer.get_nltk_entities, code/NLP_NER/EntityRecognition.py:
    671-693) — the last un-gated offset semantics in the reference:
    each category's text.find scan restarts at 0, so the same surface
    under two categories gets FIRST-occurrence offsets in both scans.
    Template 'Dup<i> mid<i> Dup<i> Dup<i>' (D-tokens alternate
    QCAT/PCAT by occurrence): PCAT's chunk is REALLY the second
    occurrence (at 2L+2) but reports start 0 — exactly what the
    reference emits; QCAT's second chunk advances to 2L+2. The oracle
    states all three offsets closed-form."""
    from mel_tnnt_spark.operators.mentions import detect_mentions

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 60)
    i = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("Dup"), i, F.lit(" mid"), i, F.lit(" Dup"), i, F.lit(" Dup"), i
    )
    src = docs.select(i.alias("doc_id"), text.alias("content"))
    return detect_mentions(src, models=("nltk_rescan_model",), text_col="content")


@_q(
    "q76_a14_csv_ner_merge_order",
    """
    WITH d AS (
      SELECT doc_id::VARCHAR AS doc_id,
             upper(substr(lang, 1, 1)) || substr(lang, 2) AS lcap,
             length(lang)::INT AS L
      FROM documents WHERE doc_id < 60)
    SELECT doc_id, u.ci::INT AS cell_index, 'token_rule_model' AS model,
           'CAPSEQ' AS category, u.ent AS entity,
           u.s::INT AS start_index, u.e::INT AS end_index,
           u.sent AS sentence, u.o::INT AS merge_ord,
           4::BIGINT AS category_count
    FROM d, UNNEST([
      {'ci': 0, 'ent': 'Zed',   's': 0,  'e': 3,      'sent': 'Zed meets ' || lcap, 'o': 1},
      {'ci': 0, 'ent': lcap,    's': 10, 'e': 10 + L, 'sent': 'Zed meets ' || lcap, 'o': 2},
      {'ci': 1, 'ent': lcap,    's': 0,  'e': L,      'sent': lcap || ' waves',     'o': 3},
      {'ci': 2, 'ent': 'Quiet', 's': 0,  'e': 5,      'sent': 'Quiet end',          'o': 4}
    ]) AS t(u)
    """,
)
def q76(spark, sf_dir):
    """The CSV NER merge-order contract (get_csv_ner_from_models,
    code/NLP_NER/EntityRecognition.py:936-992): per (model, category)
    the per-cell mention lists concatenate in CELL order and the
    number-of-entities stat counts the merged list. Three template
    cells per doc ('Zed meets <Lang>' / '<Lang> waves' / 'Quiet end')
    produce four CAPSEQ mentions whose merged positions 1-4 and
    per-category count the oracle states literally; offsets stay
    cell-relative. Row-order independence is property-pinned in
    test_csv_ner_merge_order_stability."""
    from mel_tnnt_spark.operators.mentions import csv_ner_merge

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 60)
    lcap = F.concat(F.upper(F.substring("lang", 1, 1)), F.expr("substring(lang, 2)"))
    cells = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(
            F.array(
                F.concat(F.lit("Zed meets "), lcap),
                F.concat(lcap, F.lit(" waves")),
                F.lit("Quiet end"),
            )
        ).alias("cell_index", "cell_text"),
    )
    return csv_ner_merge(cells, models=("token_rule_model",))


@_q(
    "q77_dd_cluster_survivors",
    """
    WITH r AS (
      SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id FROM documents),
    d AS (SELECT id FROM r WHERE id < 150)
    SELECT id::BIGINT AS id,
           (CASE WHEN id < 120 THEN id - id % 4
                 ELSE id END)::BIGINT AS cluster_id,
           (CASE WHEN id < 120 THEN id - id % 4
                 ELSE id END)::BIGINT AS survivor_id,
           (id >= 120 OR id % 4 = 0) AS is_survivor
    FROM d
    """,
)
def q77(spark, sf_dir):
    """The dedup DECISION stage (dedup_clusters): near-dup pairs ->
    connected components -> one survivor per cluster, singletons kept.
    Pairwise similarity is not transitive, so only the components
    closure collapses A~B~C chains — the q74 edge construction (pairs
    merged into quads by a bridging edge) makes that closure
    closed-form: ids 0-119 form 30 quads with survivor 4j, ids 120-149
    are singleton survivors. Fixture ids are DENSE BY CONSTRUCTION
    (row_number over doc_id, r4 advice): the quad closure holds for
    any corpus, sparse doc_ids included — and for any dense PREFIX
    shorter than 150, since every within-quad bridge edge's generator
    index is smaller than the member it links. (Reference analogue:
    first-of-group keep in the exact-dup scan,
    code/MEL/__init__.py:684-709.)"""
    from pyspark.sql import Window

    from mel_tnnt_spark.operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents", repartition=False)
    d = docs.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1)
        .cast("long")
        .alias("id")
    ).where(F.col("id") < 150)
    i = F.col("id")
    pairs = (
        d.where(i < 60)
        .select((i * 2).alias("id_a"), (i * 2 + 1).alias("id_b"))
        .unionByName(
            d.where(i < 30).select(
                (i * 4 + 1).alias("id_a"), (i * 4 + 2).alias("id_b")
            )
        )
    )
    return dedup_clusters(d, pairs, id_col="id")


@_q(
    "q78_ts_pii_scrub",
    """
    WITH d AS (
      SELECT doc_id,
             text || ' contact bob@' || lang || '.example.com via https://'
                  || lang || '.example.org/x or 10.0.0.' || (doc_id % 250)
                  || ' call 0412-345-678' AS s0
      FROM documents WHERE doc_id < 300),
    s AS (
      SELECT doc_id, s0,
             regexp_replace(s0, 'https?://[^\\s]+', '[URL]', 'g') AS s1
      FROM d),
    s2t AS (
      SELECT *, regexp_replace(s1,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS s2
      FROM s),
    s3t AS (
      SELECT *, regexp_replace(s2,
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IPV4]', 'g') AS s3
      FROM s2t)
    SELECT doc_id AS id,
           len(regexp_extract_all(s0, 'https?://[^\\s]+'))::INT AS n_url,
           len(regexp_extract_all(s1,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT AS n_email,
           len(regexp_extract_all(s2,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::INT AS n_ipv4,
           len(regexp_extract_all(s3, '\\b\\d[\\d\\- ]{7,14}\\d\\b'))::INT AS n_phone,
           regexp_replace(s3, '\\b\\d[\\d\\- ]{7,14}\\d\\b', '[PHONE]', 'g') AS scrubbed
    FROM s3t
    """,
)
def q78(spark, sf_dir):
    """PII scrubbing (pii_scrub): URLs, emails, IPv4s, phone-shaped
    digit runs redacted to [KIND] placeholders with per-kind counts,
    staged so each match counts once under the kind that redacted it.
    Gated over REAL corpus text with planted PII appended from table
    columns; the oracle applies the byte-identical RE2-safe pattern
    chain (both engines' regex dialects accept every pattern — part of
    the contract, PII_PATTERNS in textstats.py)."""
    from mel_tnnt_spark.operators.textstats import pii_scrub

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 300)
    text = F.concat(
        F.col("text"),
        F.lit(" contact bob@"), F.col("lang"), F.lit(".example.com via https://"),
        F.col("lang"), F.lit(".example.org/x or 10.0.0."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" call 0412-345-678"),
    )
    src = docs.select(F.col("doc_id").alias("doc_id"), text.alias("content"))
    return pii_scrub(src, "doc_id", "content")


@_q(
    "q79_ts_repetition_metrics",
    """
    SELECT doc_id AS id, 3 AS n_lines,
           round(1 - 2.0/3, 6) AS dup_line_frac,
           0.25::DOUBLE AS top_2gram_frac
    FROM documents WHERE doc_id < 300
    """,
)
def q79(spark, sf_dir):
    """Gopher-style repetition metrics (repetition_metrics):
    duplicate-line fraction + top-2-gram occurrence fraction — the
    boilerplate detectors of a pretraining curation pipeline. Template
    text 'alpha <lang> beta\\nalpha <lang> beta\\ngamma delta <lang>'
    has closed-form metrics: 3 lines with one duplicate (1-2/3), and
    of the 8 word-2-grams 'alpha <lang>' and '<lang> beta' each occur
    twice (top 2/8 = 0.25)."""
    from mel_tnnt_spark.operators.textstats import repetition_metrics

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 300)
    line1 = F.concat(F.lit("alpha "), F.col("lang"), F.lit(" beta"))
    line2 = F.concat(F.lit("gamma delta "), F.col("lang"))
    text = F.concat_ws("\n", line1, line1, line2)
    src = docs.select(F.col("doc_id").alias("doc_id"), text.alias("content"))
    return repetition_metrics(src, "doc_id", "content")


@_q(
    "q80_dd_cross_corpus_overlap",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 80),
    batch AS (
      SELECT b.doc_id, c.text || ' zz extra trailer tokens ' || b.doc_id AS text
      FROM documents b JOIN documents c ON c.doc_id = b.doc_id - 80
      WHERE b.doc_id >= 80 AND b.doc_id < 160),
    alltx AS (
      SELECT doc_id, text, doc_id < 80 AS is_corpus FROM corpus
      UNION ALL SELECT doc_id, text, doc_id < 80 FROM batch),
    w AS (
      SELECT doc_id, is_corpus,
             string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
      FROM alltx),
    sh AS (
      SELECT doc_id, is_corpus, i - 1 AS pos,
             ('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15))::UBIGINT::BIGINT AS h
      FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
      WHERE len(ws) >= 3),
    fp0 AS (
      SELECT DISTINCT doc_id, is_corpus, fingerprint FROM (
        SELECT doc_id, is_corpus,
               min(h) OVER win AS fingerprint,
               count(*) OVER win AS _n
        FROM sh
        WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
      WHERE _n = 4),
    rare AS (SELECT fingerprint FROM fp0 GROUP BY fingerprint HAVING count(*) <= 50),
    fp AS (SELECT fp0.* FROM fp0 JOIN rare USING (fingerprint))
    SELECT a.doc_id AS corpus_id, b.doc_id AS batch_id, count(*)::BIGINT AS shared
    FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint
    WHERE a.is_corpus AND NOT b.is_corpus
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def q80(spark, sf_dir):
    """CROSS-corpus contamination (overlap_pairs_against) — the
    incremental-dedup shape: a new batch is winnowed and checked
    against an EXISTING fingerprint index; corpus-x-corpus and
    batch-x-batch pairs are out of scope by construction. Batch docs
    embed their corpus twin's full text (b = corpus[b-80] || trailer),
    so every (j, 80+j) pair must surface; the oracle mirrors the full
    two-set winnowing computation with the union df-guard. The
    STATEFUL twin (maintain_overlap_index: persisted index, O(touched)
    MERGE fold-in, chained == scratch) is pinned in
    test_maintain_overlap_index_chained_equals_scratch."""
    from mel_tnnt_spark.operators.dedup import (
        overlap_pairs_against,
        winnowing_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents", repartition=False)
    corpus = docs.where(F.col("doc_id") < 80).select("doc_id", "text")
    cfp = winnowing_fingerprints(corpus, "doc_id", "text", n=3, window=4).select(
        F.col("id").alias("doc_id"), "fingerprint"
    )
    b = docs.where((F.col("doc_id") >= 80) & (F.col("doc_id") < 160)).alias("b")
    c = docs.alias("c")
    batch = b.join(c, F.col("c.doc_id") == F.col("b.doc_id") - 80).select(
        F.col("b.doc_id").alias("doc_id"),
        F.concat(
            F.col("c.text"),
            F.lit(" zz extra trailer tokens "),
            F.col("b.doc_id").cast("string"),
        ).alias("text"),
    )
    return overlap_pairs_against(
        cfp, batch, "doc_id", "text", n=3, window=4, min_shared=2, max_df=50
    )


@_q(
    "q84_dd_overlap_index_chained",
    """
    WITH alltx AS (
      SELECT doc_id, text, 0 AS step FROM documents WHERE doc_id < 50
      UNION ALL
      SELECT b.doc_id, c.text || ' uno marker ' || b.doc_id, 1
      FROM documents b JOIN documents c ON c.doc_id = b.doc_id - 50
      WHERE b.doc_id >= 50 AND b.doc_id < 100
      UNION ALL
      SELECT b.doc_id, c.text || ' dos marker ' || b.doc_id, 2
      FROM documents b JOIN documents c ON c.doc_id = b.doc_id - 100
      WHERE b.doc_id >= 100 AND b.doc_id < 150),
    w AS (
      SELECT doc_id, step,
             string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
      FROM alltx),
    sh AS (
      SELECT doc_id, step, i - 1 AS pos,
             ('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15))::UBIGINT::BIGINT AS h
      FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
      WHERE len(ws) >= 3),
    fp AS (
      SELECT DISTINCT doc_id, step, fingerprint FROM (
        SELECT doc_id, step,
               min(h) OVER win AS fingerprint,
               count(*) OVER win AS _n
        FROM sh
        WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
      WHERE _n = 4)
    SELECT a.doc_id AS corpus_id, b.doc_id AS batch_id,
           count(*)::BIGINT AS shared, b.step AS step
    FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint AND a.step < b.step
    GROUP BY 1, 2, 4 HAVING count(*) >= 2
    """,
)
def q84(spark, sf_dir):
    """The MAINTAINED contamination index itself, driver-gated
    (maintain_overlap_index — the round-5 LSM rewrite: fingerprint-
    bucketed base + content-addressed append-log, O(batch) per batch):
    three document batches chained through a fresh persisted index
    INSIDE the query — step 0 folds in, steps 1-2 are checked against
    the accumulated index then folded in — and the union of cross-step
    pairs is returned. Step-1/2 docs embed a step-0 doc's full text,
    so (d-50, d) and, at step 2, also the step-1 twin (d-50, d) via
    the shared base text must surface. The oracle mirrors the chained
    semantics relationally: winnow every step's docs once, then pair
    step s against the union of all steps < s — equal to the stateful
    run because the index is exactly the dedup'd fingerprints of prior
    steps (chained == scratch, also pinned in
    test_maintain_overlap_index_chained_equals_scratch). Pairs are
    localCheckpoint-ed inside maintain_overlap_index, so the temp
    index directory is deleted before returning."""
    import shutil
    import tempfile

    from mel_tnnt_spark.operators.dedup import maintain_overlap_index

    docs = _t(spark, sf_dir, "documents", repartition=False)

    def step_docs(s):
        if s == 0:
            return docs.where(F.col("doc_id") < 50).select("doc_id", "text")
        lo, word = 50 * s, ("uno" if s == 1 else "dos")
        b = docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 50)
        ).alias("b")
        c = docs.alias("c")
        return b.join(c, F.col("c.doc_id") == F.col("b.doc_id") - lo).select(
            F.col("b.doc_id").alias("doc_id"),
            F.concat(
                F.col("c.text"),
                F.lit(f" {word} marker "),
                F.col("b.doc_id").cast("string"),
            ).alias("text"),
        )

    idx = tempfile.mkdtemp(prefix="q84_overlap_idx_")
    try:
        out = None
        for s in range(3):
            pairs = maintain_overlap_index(
                spark, idx, step_docs(s), "doc_id", "text",
                n=3, window=4, min_shared=2, max_df=None,
            ).withColumn("step", F.lit(s))
            if s > 0:
                out = pairs if out is None else out.unionByName(pairs)
        return out
    finally:
        shutil.rmtree(idx, ignore_errors=True)


@_q(
    "q86_dd_span_index_chained",
    r"""
    WITH d AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 300),
    t AS (SELECT id, list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                 x -> x != '') AS ws FROM d),
    o AS (
      SELECT id, i - 1 AS p,
             ('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15))
               ::UBIGINT::BIGINT AS h
      FROM t, unnest(generate_series(1, len(ws) - 4)) AS u(i)
    ),
    dup AS (
      SELECT h, min({'id': id, 'p': p}) AS surv
      FROM o GROUP BY h HAVING count(*) >= 2
    ),
    rm AS (
      SELECT o.id, unnest(generate_series(o.p, o.p + 4)) AS tt
      FROM o JOIN dup USING (h)
      WHERE NOT (o.id = struct_extract(dup.surv, 'id')
                 AND o.p = struct_extract(dup.surv, 'p'))
    ),
    rmset AS (SELECT id, list_distinct(list(tt)) AS rml FROM rm GROUP BY id)
    SELECT t.id AS id,
      coalesce(array_to_string(
        list_filter(list_transform(generate_series(1, len(ws)),
                                   j -> CASE WHEN list_contains(
                                               coalesce(rmset.rml, []), j - 1)
                                             THEN NULL ELSE ws[j] END),
                    x -> x IS NOT NULL), ' '), '') AS clean_text,
      coalesce(len(rmset.rml), 0)::INT AS n_tokens_removed
    FROM t LEFT JOIN rmset USING (id)
    """,
)
def q86(spark, sf_dir):
    """The MAINTAINED span-excision index, driver-gated
    (maintain_span_index — q83's operator made incremental for
    batch-arriving crawls, VERDICT r5 #7): three consecutive document
    slices chained through a fresh persisted gram index inside the
    query, each rewritten against everything seen before it. The
    oracle is the FROM-SCRATCH excision SQL over the union (q83's
    shape at doc_id < 300) — chained == scratch is the operator's
    defining theorem when ids ascend with arrival, so the oracle
    match certifies the index path end-to-end. The temp index
    directory is deleted before returning (outputs are
    localCheckpoint-ed inside maintain_span_index)."""
    import shutil
    import tempfile

    from mel_tnnt_spark.operators.dedup import maintain_span_index

    docs = _t(spark, sf_dir, "documents", repartition=False)
    idx = tempfile.mkdtemp(prefix="q86_span_idx_")
    try:
        out = None
        for s in range(3):
            b = docs.where(
                (F.col("doc_id") >= 100 * s) & (F.col("doc_id") < 100 * (s + 1))
            ).select("doc_id", "text")
            r = maintain_span_index(spark, idx, b, "doc_id", "text", k=5)
            out = r if out is None else out.unionByName(r)
        return out.withColumnRenamed("doc_id", "id")
    finally:
        shutil.rmtree(idx, ignore_errors=True)


@_q(
    "q87_pack_sequence_layout",
    r"""
    WITH d AS (SELECT doc_id AS id,
                      len(list_filter(string_split_regex(coalesce(text, ''),
                                                         '\s+'),
                                      x -> x != ''))::BIGINT AS n_tokens
               FROM documents),
    c AS (SELECT id, n_tokens,
                 (sum(n_tokens) OVER (ORDER BY id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - n_tokens)::BIGINT
                   AS start_offset
          FROM d)
    SELECT id, n_tokens, start_offset,
           CAST(FLOOR(start_offset::DOUBLE / 512) AS BIGINT) AS bin_id,
           start_offset % 512 AS offset_in_bin,
           (n_tokens > 0 AND
            CAST(FLOOR((start_offset + n_tokens - 1)::DOUBLE / 512) AS BIGINT)
              != CAST(FLOOR(start_offset::DOUBLE / 512) AS BIGINT))
             AS spans_boundary
    FROM c
    """,
)
def q87(spark, sf_dir):
    """Sequence-packing LAYOUT (pack_sequences): every document's
    position in the concatenated, 512-token-window-chunked corpus —
    the GPT-style concat-and-chunk dataloader layout (start offset,
    window id, offset inside the window, straddles-boundary flag).
    The Spark plan is the TWO-LEVEL scan (id-space groups ->
    partitioned intra-group running sums -> n_groups-row prefix
    frame), never a single-partition global window; intra + prefix ==
    global cumsum exactly, which is what the oracle's plain global
    window checks."""
    from mel_tnnt_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", capacity=512).withColumnRenamed(
        "doc_id", "id"
    )


@_q(
    "q88_pack_assembled_windows",
    r"""
    WITH d AS (SELECT doc_id AS id,
                      list_filter(string_split_regex(coalesce(text, ''),
                                                     '\s+'),
                                  x -> x != '') AS ws
               FROM documents WHERE doc_id < 200),
    c AS (SELECT id, ws,
                 sum(len(ws)::BIGINT) OVER (ORDER BY id
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW)
                   - len(ws)::BIGINT AS start_offset
          FROM d),
    t AS (SELECT c.id, c.ws[u.i] AS tok,
                 c.start_offset + u.i - 1 AS gpos
          FROM c, unnest(generate_series(1, len(c.ws))) AS u(i))
    SELECT CAST(FLOOR(gpos::DOUBLE / 64) AS BIGINT) AS bin_id,
           count(*) AS n_tokens,
           string_agg(tok, ' ' ORDER BY gpos) AS packed_text
    FROM t GROUP BY 1
    """,
)
def q88(spark, sf_dir):
    """Assembled packed context windows (assemble_packed): the actual
    64-token training sequences materialized from the q87 layout —
    every window except the last holds exactly 64 tokens, documents
    straddle edges (concat-and-chunk contract). One token-stream
    explode keyed by global position, one shuffle on window id,
    per-window state bounded by the capacity."""
    from mel_tnnt_spark.operators.packing import assemble_packed

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 200)
    return assemble_packed(docs, "doc_id", "text", capacity=64)


@_q(
    "q89_cur_domain_cap",
    """
    WITH r AS (
      SELECT doc_id AS id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id)
               AS rank_in_group
      FROM documents)
    SELECT id, source, rank_in_group FROM r WHERE rank_in_group <= 10
    """,
)
def q89(spark, sf_dir):
    """Host/domain frequency capping (cap_per_group — the
    CCNet/RefinedWeb per-host cap, one of the corpus-composition
    curation operators): keep at most 10 documents per source,
    first-by-id, with the exact per-source rank attached. The Spark
    plan is the SKEW-HARDENED two-stage rank (salted pre-prune ->
    exact window over <= salts*cap rows per group), which the oracle's
    plain one-level window certifies as semantically identical."""
    from mel_tnnt_spark.operators.curation import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", "doc_id", cap=10).select(
        F.col("doc_id").alias("id"), "source", "rank_in_group"
    )


@_q(
    "q90_cur_token_budget",
    r"""
    WITH d AS (SELECT doc_id AS id, lang,
                      len(list_filter(string_split_regex(coalesce(text, ''),
                                                         '\s+'),
                                      x -> x != ''))::BIGINT AS n_tokens
               FROM documents),
    c AS (SELECT id, lang, n_tokens,
                 (sum(n_tokens) OVER (PARTITION BY lang ORDER BY id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW))::BIGINT AS cum_tokens
          FROM d)
    SELECT id, lang, n_tokens, cum_tokens, cum_tokens <= 2000 AS kept
    FROM c
    """,
)
def q90(spark, sf_dir):
    """Greedy per-language token-budget fill (token_budget_select):
    walk each language's documents in id order accumulating
    whitespace-token counts; kept iff the running total through the
    document stays <= 2000 (prefix rule). Every row is returned with
    its cut-point audit columns. One shuffle on the group key; the
    running window carries constant state per row."""
    from mel_tnnt_spark.operators.curation import token_budget_select

    docs = _t(spark, sf_dir, "documents")
    return token_budget_select(docs, "lang", "doc_id", "text", budget=2000)


@_q(
    "q91_cur_mixture_sample",
    """
    WITH q(grp, quota) AS (VALUES ('de', 40), ('en', 80), ('es', 40),
                                  ('fr', 20), ('zh', 20)),
    d AS (SELECT doc_id AS id, lang,
                 md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents),
    r AS (SELECT d.id, d.lang, q.quota,
                 row_number() OVER (PARTITION BY d.lang ORDER BY d.h, d.id)
                   AS rank_in_group
          FROM d JOIN q ON d.lang = q.grp)
    SELECT id, lang, rank_in_group, quota::BIGINT AS quota
    FROM r WHERE rank_in_group <= quota
    """,
)
def q91(spark, sf_dir):
    """Target-mixture domain sampling (mixture_sample — the
    DoReMi/Pile recipe shape): select a 200-document corpus at target
    language shares {en 0.4, de/es 0.2, fr/zh 0.1}, each group
    deterministically pseudo-random-ordered by md5(id) (engine
    portable — the oracle reproduces the exact pick). Quota dim is a
    broadcast LocalRelation; selection is the same salted two-stage
    rank as q89, so a group holding half the corpus never funnels
    through one task."""
    from mel_tnnt_spark.operators.curation import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    shares = {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1}
    return mixture_sample(docs, "lang", "doc_id", shares, total_docs=200)


@_q(
    "q92_dd_semantic_dedup",
    """
    WITH piv AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx,
             embedding::DOUBLE[] AS pv
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
    a AS (
      SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS v, p.cidx,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_distance(e.embedding::DOUBLE[],
                                                       p.pv),
                                         p.cidx) AS rn
      FROM embeddings e CROSS JOIN piv p),
    asg AS (SELECT id, v, cidx AS cluster_id FROM a WHERE rn = 1),
    dup AS (
      SELECT DISTINCT x.id
      FROM asg x JOIN asg y
        ON x.cluster_id = y.cluster_id AND y.id < x.id
      WHERE CASE WHEN list_dot_product(x.v, x.v) > 0
                  AND list_dot_product(y.v, y.v) > 0
                 THEN round(list_cosine_similarity(x.v, y.v), 6) END > 0.25)
    SELECT id, cluster_id,
           id NOT IN (SELECT id FROM dup) AS keep
    FROM asg
    """,
)
def q92(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster embeddings to 16
    data-derived pivots (per-row argmin compiled into the plan — no
    shuffle, no crossJoin), then drop any vector with a smaller-id
    same-cluster neighbor above cosine 0.25 — near-dup pruning whose
    candidate cost is sum of squared CLUSTER sizes, never corpus^2.
    The oracle reproduces assignment (row_number argmin, same
    (distance, index) tie order as q45) and the keep rule exactly."""
    from mel_tnnt_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings", repartition=True)
    return semantic_dedup(
        emb, "vec_id", "embedding", n_clusters=16, threshold=0.25
    )


@_q(
    "q93_pack_shard_assignment",
    r"""
    WITH d AS (SELECT doc_id AS id,
                      len(list_filter(string_split_regex(coalesce(text, ''),
                                                         '\s+'),
                                      x -> x != ''))::BIGINT AS n_tokens
               FROM documents),
    r AS (SELECT id, n_tokens,
                 row_number() OVER (ORDER BY n_tokens DESC, id) AS global_rank
          FROM d)
    SELECT (global_rank - 1) % 8 AS shard,
           count(*) AS n_docs,
           sum(n_tokens)::BIGINT AS tok_sum,
           min(global_rank) AS first_rank
    FROM r GROUP BY 1
    """,
)
def q93(spark, sf_dir):
    """Deterministic balanced shard assignment (assign_shards): global
    rank by (n_tokens DESC, id), deal round-robin across 8 dataloader
    shards (LPT heuristic — per-shard token imbalance bounded by one
    max document). The Spark global rank is the TWO-LEVEL scan over
    token-range buckets (intra-bucket row_number + descending prefix
    counts), never a single-partition global window; the oracle's
    plain global window certifies the equivalence. Query returns the
    per-shard balance audit."""
    from mel_tnnt_spark.operators.packing import assign_shards

    docs = _t(spark, sf_dir, "documents", repartition=True)
    return (
        assign_shards(docs, "doc_id", "text", n_shards=8)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tok_sum"),
            F.min("global_rank").alias("first_rank"),
        )
    )


@_q(
    "q94_pack_incremental_layout",
    r"""
    WITH d AS (SELECT doc_id AS id,
                      len(list_filter(string_split_regex(coalesce(text, ''),
                                                         '\s+'),
                                      x -> x != ''))::BIGINT AS n_tokens
               FROM documents),
    c AS (SELECT id, n_tokens,
                 (sum(n_tokens) OVER (ORDER BY id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - n_tokens)::BIGINT
                   AS start_offset
          FROM d)
    SELECT id, n_tokens, start_offset,
           CAST(FLOOR(start_offset::DOUBLE / 512) AS BIGINT) AS bin_id,
           start_offset % 512 AS offset_in_bin,
           (n_tokens > 0 AND
            CAST(FLOOR((start_offset + n_tokens - 1)::DOUBLE / 512) AS BIGINT)
              != CAST(FLOOR(start_offset::DOUBLE / 512) AS BIGINT))
             AS spans_boundary
    FROM c
    """,
)
def q94(spark, sf_dir):
    """Incremental sequence-packing layout (maintain_pack_layout —
    q87's operator made stateful for batch-arriving crawls, the
    packing leg of the q86/q84 maintenance family): three consecutive
    document slices chained through a fresh persisted offset state
    inside the query, each laid out AFTER everything before it
    (persisted state = corpus token total + applied-batch ledger,
    O(batch) per batch). The oracle is q87's FROM-SCRATCH global
    window over the whole table — chained == scratch is the
    operator's defining theorem when ids ascend with arrival, so the
    hash match certifies the incremental path end-to-end."""
    import shutil
    import tempfile

    from mel_tnnt_spark.operators.packing import maintain_pack_layout

    docs = _t(spark, sf_dir, "documents")
    cuts = [0, 150, 350, None]
    state = tempfile.mkdtemp(prefix="q94_pack_state_")
    try:
        out = None
        for lo, hi in zip(cuts, cuts[1:]):
            cond = F.col("doc_id") >= lo if hi is None else (
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            b = docs.where(cond).select("doc_id", "text")
            r = maintain_pack_layout(
                spark, state, b, "doc_id", "text", capacity=512
            )
            out = r if out is None else out.unionByName(r)
        return out.withColumnRenamed("doc_id", "id")
    finally:
        shutil.rmtree(state, ignore_errors=True)


@_q(
    "q95_ts_lm_fluency",
    r"""
    WITH t AS (SELECT doc_id AS id,
                      list_filter(string_split_regex(lower(coalesce(text, '')),
                                                     '\s+'),
                                  x -> x != '') AS ws
               FROM documents),
    bg AS (SELECT id,
                  unnest(CASE WHEN len(ws) >= 2
                         THEN list_transform(generate_series(1, len(ws) - 1),
                                             i -> ws[i] || ' ' || ws[i + 1])
                         ELSE []::VARCHAR[] END) AS g
           FROM t),
    bc AS (SELECT g, count(*)::BIGINT AS c12 FROM bg GROUP BY 1),
    cx AS (SELECT split_part(g, ' ', 1) AS w1, sum(c12)::BIGINT AS ctx
           FROM bc GROUP BY 1),
    vv AS (SELECT count(DISTINCT split_part(g, ' ', -1))::DOUBLE AS v
           FROM bc),
    m AS (SELECT bc.g, bc.c12, cx.ctx, vv.v
          FROM bc JOIN cx ON split_part(bc.g, ' ', 1) = cx.w1 CROSS JOIN vv),
    sc AS (SELECT bg.id, ln((m.c12 + 1.0) / (m.ctx + m.v)) AS lp
           FROM bg JOIN m USING (g)),
    ag AS (SELECT id, count(*)::BIGINT AS n_bigrams,
                  round(avg(lp), 6) AS avg_logprob
           FROM sc GROUP BY 1)
    SELECT t.id, coalesce(ag.n_bigrams, 0) AS n_bigrams, ag.avg_logprob
    FROM t LEFT JOIN ag USING (id)
    """,
)
def q95(spark, sf_dir):
    """CCNet-style LM fluency scoring (lm_bigram_scores): every
    document's mean log-probability under a self-trained add-1 bigram
    model — the perplexity-filter leg of the curation family
    (boilerplate/gibberish scores low). Runs the HOT/COLD split path
    (hot_df=16: Zipf-head bigrams broadcast map-side, cold tail
    shuffles with per-key fan-in < hot_df by construction) — the
    oracle computes the unsplit model, so the hash match certifies
    split == unsplit end-to-end on real data."""
    from mel_tnnt_spark.operators.textstats import lm_bigram_scores

    docs = _t(spark, sf_dir, "documents", repartition=True)
    return lm_bigram_scores(docs, "doc_id", "text", hot_df=16).withColumnRenamed(
        "doc_id", "id"
    )


@_q(
    "q96_weighted_sample",
    """
    WITH w AS (
      SELECT doc_id AS id, source, n_chars,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                ::UBIGINT::DOUBLE + 1.0) / 1152921504606846976.0 AS u
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
    SELECT id, source, n_chars, round(-ln(u) / n_chars, 6) AS es_key
    FROM w ORDER BY -ln(u) / n_chars, id LIMIT 60
    """,
)
def q96(spark, sf_dir):
    """Weighted sampling without replacement (weighted_sample — the
    Efraimidis-Spirakis A-ES scheme): a 60-document subset sampled
    proportional to n_chars, deterministically (u from md5(id), no
    RNG state — the oracle re-derives the exact sample). The k
    smallest keys come from a global top-k (per-partition heaps +
    one k-row driver merge), never a global sort."""
    from mel_tnnt_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", k=60).select(
        F.col("doc_id").alias("id"), "source", "n_chars", "es_key"
    )


@_q(
    "q97_cur_epoch_mixture",
    r"""
    WITH tg(grp, target) AS (VALUES ('en', 30000), ('fr', 8000)),
    d AS (SELECT doc_id AS id, lang,
                 len(list_filter(string_split_regex(coalesce(text, ''),
                                                    '\s+'),
                                 x -> x != ''))::BIGINT AS n_tokens
          FROM documents),
    g AS (SELECT lang, sum(n_tokens)::BIGINT AS dom FROM d GROUP BY 1),
    gs AS (SELECT g.lang, tg.target // g.dom AS repeats,
                  tg.target % g.dom AS rem
           FROM g JOIN tg ON g.lang = tg.grp WHERE g.dom > 0),
    fl AS (SELECT d.id, d.lang,
                  unnest(generate_series(0, gs.repeats - 1)) AS epoch,
                  d.n_tokens
           FROM d JOIN gs USING (lang) WHERE gs.repeats >= 1),
    fr AS (SELECT d.id, d.lang, gs.repeats AS epoch, d.n_tokens,
                  sum(d.n_tokens) OVER (
                    PARTITION BY d.lang
                    ORDER BY md5(CAST(d.id AS VARCHAR)), d.id) AS cum,
                  gs.rem
           FROM d JOIN gs USING (lang))
    SELECT id, lang, epoch, n_tokens FROM fl
    UNION ALL
    SELECT id, lang, epoch, n_tokens FROM fr WHERE cum <= rem
    """,
)
def q97(spark, sf_dir):
    """Epoch-based domain upsampling (epoch_mixture — the LLaMA/GPT
    recipe: high-value domains repeat for several epochs, the crawl
    for less than one): English targeted at 30k tokens, French at 8k,
    each domain emitted repeats = target DIV domain_tokens full
    epochs plus an md5-ordered fractional epoch spending exactly
    target MOD domain_tokens. All-integer epoch math, so the oracle
    reproduces the expansion bit-for-bit."""
    from mel_tnnt_spark.operators.curation import epoch_mixture

    docs = _t(spark, sf_dir, "documents", repartition=True)
    return epoch_mixture(
        docs, "lang", "doc_id", "text", {"en": 30000, "fr": 8000}
    )


@_q(
    "q98_cur_domain_cap_chained",
    """
    SELECT doc_id AS id, source,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 5
             AS accepted
    FROM documents
    """,
)
def q98(spark, sf_dir):
    """Incremental per-host frequency capping (maintain_domain_caps —
    q89's operator made stateful, the live crawl-frontier rate limit):
    three consecutive document slices chained through a fresh
    persisted accepted-log inside the query, every document getting
    an accept/drop decision against the domains' LIFETIME counts.
    State is bounded at n_groups*cap rows by the policy itself. The
    oracle is the from-scratch cap decision over the whole table —
    chained == scratch is the operator's defining theorem when ids
    ascend with arrival, so the hash match certifies the maintained
    path end-to-end."""
    import shutil
    import tempfile

    from mel_tnnt_spark.operators.curation import maintain_domain_caps

    docs = _t(spark, sf_dir, "documents")
    cuts = [0, 150, 350, None]
    state = tempfile.mkdtemp(prefix="q98_cap_state_")
    try:
        out = None
        for lo, hi in zip(cuts, cuts[1:]):
            cond = F.col("doc_id") >= lo if hi is None else (
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            b = docs.where(cond).select("doc_id", "source")
            r = maintain_domain_caps(
                spark, state, b, "source", "doc_id", cap=5
            ).localCheckpoint()
            out = r if out is None else out.unionByName(r)
        return out.withColumnRenamed("doc_id", "id")
    finally:
        shutil.rmtree(state, ignore_errors=True)


def _train_sql(dim: int, lr: float, epochs: int) -> str:
    """Unrolled full-batch-GD oracle for q85 (the ivf-style 'oracle
    mirrors the whole iterative computation' pattern): one CTE trio
    (dot product, quantized error, gradient -> next weights) per
    epoch, then the final scoring pass. Micro-integer weights + the
    rational sigmoid make every step bit-reproducible across engines
    (see quality_classifier_train's numerics note)."""
    zd = "(CAST({z} AS DOUBLE)/1e12)"
    p = "(0.5 + 0.5 * ({zd} / (1.0 + abs({zd}))))"
    head = f"""
    WITH d AS (SELECT doc_id AS id,
                      CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                      text
               FROM documents WHERE doc_id < 400),
    t AS (SELECT id, list_filter(string_split_regex(lower(coalesce(text, '')),
                                                    '\\s+'),
                                 x -> x != '') AS ws
          FROM d),
    gr AS (
      SELECT id, unnest(list_concat(ws,
        CASE WHEN len(ws) >= 2
             THEN list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i + 1])
             ELSE []::VARCHAR[] END)) AS g
      FROM t),
    cf AS (SELECT id,
                  (('0x' || substr(md5(g), 1, 15))::UBIGINT::BIGINT
                     % {dim})::INT AS f,
                  count(*)::BIGINT AS c
           FROM gr GROUP BY 1, 2),
    c AS (SELECT * FROM cf
          UNION ALL SELECT id, -1::INT, 1::BIGINT FROM d),
    nn AS (SELECT count(*)::DOUBLE AS n FROM d),
    w0 AS (SELECT unnest(generate_series(-1, {dim - 1}))::INT AS f,
                  0::BIGINT AS w)"""
    body = []
    for e in range(1, epochs + 1):
        zde = zd.format(z="s.zi")
        body.append(f"""
    s{e} AS (SELECT c.id, CAST(sum(c.c * w.w) AS BIGINT) AS zi
             FROM c JOIN w{e - 1} w USING (f) GROUP BY c.id),
    e{e} AS (SELECT d.id,
                    CAST(FLOOR(({p.format(zd=zde)} - d.y) * 1e12) AS BIGINT)
                      AS eq
             FROM d JOIN s{e} s USING (id)),
    g{e} AS (SELECT c.f, CAST(sum(e.eq * c.c) AS BIGINT) AS gr
             FROM e{e} e JOIN c USING (id) GROUP BY c.f),
    w{e} AS (SELECT w.f,
                    CAST(FLOOR((CAST(w.w AS DOUBLE)/1e12
                                - ({lr!r}/nn.n)
                                  * (CAST(coalesce(g.gr, 0) AS DOUBLE)/1e12))
                               * 1e12) AS BIGINT) AS w
             FROM w{e - 1} w LEFT JOIN g{e} g USING (f) CROSS JOIN nn)""")
    zdf = zd.format(z="s.zi")
    tail = f""",
    sf AS (SELECT c.id, CAST(sum(c.c * w.w) AS BIGINT) AS zi
           FROM c JOIN w{epochs} w USING (f) GROUP BY c.id)
    SELECT s.id AS id, {p.format(zd=zdf)} AS score, d.y AS label
    FROM sf s JOIN d USING (id)"""
    return head + "," + ",".join(body) + tail


@_q("q85_ts_classifier_training", _train_sql(dim=32, lr=0.5, epochs=3))
def q85(spark, sf_dir):
    """TRAIN the hashed-feature quality classifier relationally
    (quality_classifier_train) and score the corpus with the fitted
    weights — q82 gates inference with pinned weights; this closes the
    train side (VERDICT r5 #5). Full-batch gradient descent, 3 epochs,
    label = (lang = 'en'): per epoch one doc-keyed exact-integer dot
    product, one feature-keyed exact-integer gradient, and a
    dim+1-row driver update — the ivf_train Lloyd-loop shape. The
    DuckDB oracle unrolls the identical epochs; micro-integer weights
    and the rational sigmoid make the match bit-for-bit (no float-sum
    order dependence, no libm exp divergence)."""
    from mel_tnnt_spark.operators.textstats import (
        quality_classifier_apply_micro,
        quality_classifier_train,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 400)
        .select(
            "doc_id", "text",
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        )
    )
    w, _losses = quality_classifier_train(
        docs, "doc_id", "text", "y", dim=32, lr=0.5, epochs=3,
        portable_hash=True,
    )
    scored = quality_classifier_apply_micro(
        docs, "doc_id", "text", w, dim=32, portable_hash=True
    )
    return scored.join(docs.select("doc_id", F.col("y").alias("label")), "doc_id").select(
        F.col("doc_id").alias("id"), "score", "label"
    )


@_q(
    "q81_curation_decision",
    """
    WITH r AS (
      SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id, lang
      FROM documents),
    d AS (SELECT id FROM r WHERE id < 150)
    SELECT d.id::BIGINT AS id,
           (CASE WHEN d.id < 120 THEN d.id - d.id % 4
                 ELSE d.id END)::BIGINT AS cluster_id,
           (CASE WHEN d.id < 120 THEN d.id - d.id % 4
                 ELSE d.id END)::BIGINT AS survivor_id,
           (CASE d.id % 4 WHEN 0 THEN 7 WHEN 1 THEN 3
                          WHEN 2 THEN 5 ELSE 9 END)::BIGINT AS n_tokens,
           CASE d.id % 4 WHEN 2 THEN 0.75::DOUBLE ELSE 0.0::DOUBLE END
             AS dup_line_frac,
           (CASE d.id % 4 WHEN 0 THEN round(1/7.0, 6)
                          WHEN 1 THEN 0.5
                          WHEN 2 THEN round(4/7.0, 6)
                          ELSE round(1/8.0, 6) END)::DOUBLE AS top_2gram_frac,
           (CASE d.id % 4 WHEN 3 THEN 3 ELSE 0 END)::INT AS n_pii,
           CASE WHEN d.id < 120 AND d.id % 4 != 0 THEN 'duplicate'
                WHEN d.id % 4 = 1 THEN 'too_short'
                WHEN d.id % 4 = 2 THEN 'repetitive'
                WHEN d.id % 4 = 3 THEN 'pii' END AS reason,
           (d.id % 4 = 0) AS keep
    FROM d
    """,
)
def q81(spark, sf_dir):
    """The capstone COMPOSITE curation verdict (curation_decision):
    near-dup cluster survivorship (q77's closed-form quad pairs) +
    token count + repetition metrics + PII density folded into one
    keep/reason row per document, with fixed rule precedence
    (duplicate > too_short > repetitive > repetitive_phrases > pii) so
    every drop is auditable. Template text by doc_id % 4 makes every
    metric closed-form: the good doc, the 3-token doc, the
    4x-duplicate-line doc, and the 2-email+phone doc."""
    from pyspark.sql import Window

    from mel_tnnt_spark.operators.textstats import curation_decision

    docs = _t(spark, sf_dir, "documents", repartition=False)
    # dense ids by construction (row_number over doc_id, r4 advice):
    # the quad-closure oracle needs ids 0..149 without gaps, which a
    # sparse corpus's raw doc_ids cannot guarantee
    d = docs.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1)
        .cast("long")
        .alias("id"),
        "lang",
    ).where(F.col("id") < 150)
    i = F.col("id")
    text = (
        F.when(i % 4 == 0, F.concat(F.lit("alpha "), F.col("lang"),
                                    F.lit(" beta gamma delta\nepsilon zeta eta")))
        .when(i % 4 == 1, F.lit("one two three"))
        .when(i % 4 == 2, F.lit("rr ss\nrr ss\nrr ss\nrr ss"))
        .otherwise(F.lit("contact a@b.co and c@d.co call 0412-345-678 now more words"))
    )
    src = d.select(i.alias("id"), text.alias("text"))
    pairs = (
        d.where(i < 60)
        .select((i * 2).alias("id_a"), (i * 2 + 1).alias("id_b"))
        .unionByName(
            d.where(i < 30).select(
                (i * 4 + 1).alias("id_a"), (i * 4 + 2).alias("id_b")
            )
        )
    )
    return curation_decision(src, pairs, id_col="id", text_col="text")


def _quality_weight_values(dim: int = 64) -> str:
    """DuckDB VALUES rows from the SAME weight generator the engine
    broadcasts (the _minhash_seeds_values pattern): code and oracle
    cannot silently diverge."""
    from mel_tnnt_spark.operators.textstats import quality_classifier_weights

    return ",\n      ".join(f"({f}, {w})" for f, w in quality_classifier_weights(dim))


@_q(
    "q82_ts_quality_classifier",
    f"""
    WITH w(f, wt) AS (VALUES
      {_quality_weight_values(64)}),
    d AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
    t AS (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x != '') AS ws
          FROM d),
    g AS (
      SELECT doc_id, unnest(list_concat(ws,
        CASE WHEN len(ws) >= 2
             THEN list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i + 1])
             ELSE []::VARCHAR[] END)) AS g
      FROM t),
    c AS (SELECT doc_id,
                 (('0x' || substr(md5(g), 1, 15))::UBIGINT::BIGINT % 64)::INT AS f,
                 count(*) AS c
          FROM g GROUP BY 1, 2),
    z AS (SELECT doc_id, sum(c * wt) AS z FROM c JOIN w USING (f) GROUP BY doc_id)
    SELECT doc_id AS id, round(1 / (1 + exp(-z)), 6) AS quality_prob FROM z
    """,
)
def q82(spark, sf_dir):
    """CCNet/fastText-shaped linear quality classifier
    (quality_classifier_scores) — hashed unigram+bigram bag, broadcast
    weight dim, codegen dot product + sigmoid; the standard
    pretraining quality scorer, gated over REAL corpus text. The
    shuffle carries (doc, feature, count) rows capped at dim features
    per doc; a trained model swaps in via the same (feature_id,
    weight) table with zero plan change. The oracle interpolates the
    byte-identical weight table and mirrors the full computation."""
    from mel_tnnt_spark.operators.textstats import quality_classifier_scores

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 400)
    return quality_classifier_scores(
        docs.select("doc_id", "text"), "doc_id", "text", dim=64,
        # portable md5 hashing so the DuckDB oracle can mirror the
        # feature ids bit-for-bit; the production default is xxhash64
        # (same plan, no hex round-trip — BENCH.md A/B)
        portable_hash=True,
    ).withColumnRenamed("doc_id", "id")


@_q(
    "q83_dd_span_excision",
    r"""
    WITH d AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 200),
    t AS (SELECT id, list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                 x -> x != '') AS ws FROM d),
    o AS (
      SELECT id, i - 1 AS p,
             ('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15))
               ::UBIGINT::BIGINT AS h
      FROM t, unnest(generate_series(1, len(ws) - 4)) AS u(i)
    ),
    dup AS (
      SELECT h, min({'id': id, 'p': p}) AS surv
      FROM o GROUP BY h HAVING count(*) >= 2
    ),
    rm AS (
      SELECT o.id, unnest(generate_series(o.p, o.p + 4)) AS tt
      FROM o JOIN dup USING (h)
      WHERE NOT (o.id = struct_extract(dup.surv, 'id')
                 AND o.p = struct_extract(dup.surv, 'p'))
    ),
    rmset AS (SELECT id, list_distinct(list(tt)) AS rml FROM rm GROUP BY id)
    SELECT t.id AS id,
      coalesce(array_to_string(
        list_filter(list_transform(generate_series(1, len(ws)),
                                   j -> CASE WHEN list_contains(
                                               coalesce(rmset.rml, []), j - 1)
                                             THEN NULL ELSE ws[j] END),
                    x -> x IS NOT NULL), ' '), '') AS clean_text,
      coalesce(len(rmset.rml), 0)::INT AS n_tokens_removed
    FROM t LEFT JOIN rmset USING (id)
    """,
)
def q83(spark, sf_dir):
    """Exact duplicated-span EXCISION (excise_duplicate_spans) over
    real corpus text — the ExactSubstr dedup operator (Lee et al.
    2021): every token run of length >= 5 occurring more than once
    across the corpus is removed from all occurrences except the
    globally-first survivor, and the text is rewritten (winnowing
    q73/q80 only FLAGS overlapping pairs). The oracle mirrors the full
    relational formulation — sliding 5-gram md5-60bit hash, min(id,
    pos) survivor, covered-index union, index-aware token filter —
    bit-for-bit in DuckDB."""
    from mel_tnnt_spark.operators.dedup import excise_duplicate_spans

    docs = _t(spark, sf_dir, "documents", repartition=False).where(F.col("doc_id") < 200)
    return excise_duplicate_spans(
        docs.select("doc_id", "text"), "doc_id", "text", k=5
    ).withColumnRenamed("doc_id", "id")


@_q(
    "q99_weighted_sample_chained",
    """
    WITH pool AS (SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS w
                  FROM documents),
    k AS (SELECT id, w,
                 (('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))
                    ::UBIGINT::DOUBLE + 1.0) / 1152921504606846976.0 AS u
          FROM pool WHERE w IS NOT NULL AND w > 0)
    SELECT id, w, round(-ln(u) / w, 6) AS es_key
    FROM k ORDER BY -ln(u) / w, id LIMIT 60
    """,
)
def q99(spark, sf_dir):
    """Incremental weighted sampling without replacement
    (maintain_weighted_sample): three consecutive document slices
    folded into a persisted 60-row A-ES reservoir. The
    Efraimidis-Spirakis key depends only on (id, weight) — md5-derived
    uniform, no RNG state — so the top-k is a MERGEABLE summary and
    chained == scratch holds with NO arrival-order caveat (stronger
    than the id-ascending theorems of q94/q98). The oracle is the
    from-scratch A-ES sample over the whole table, so the hash match
    certifies the maintained path end-to-end."""
    import shutil
    import tempfile

    from mel_tnnt_spark.operators.sampling import maintain_weighted_sample

    docs = _t(spark, sf_dir, "documents")
    cuts = [0, 150, 350, None]
    state = tempfile.mkdtemp(prefix="q99_wsample_state_")
    try:
        out = None
        for lo, hi in zip(cuts, cuts[1:]):
            cond = F.col("doc_id") >= lo if hi is None else (
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            b = docs.where(cond).select("doc_id", "n_chars")
            out = maintain_weighted_sample(
                spark, state, b, "doc_id", "n_chars", k=60
            )
        return out
    finally:
        shutil.rmtree(state, ignore_errors=True)


@_q(
    "q100_cur_top_fraction",
    """
    WITH d AS (SELECT doc_id AS id, n_chars FROM documents),
    n AS (SELECT count(*)::BIGINT AS n FROM d),
    r AS (SELECT id, n_chars,
                 row_number() OVER (
                   ORDER BY CAST(n_chars AS DOUBLE) DESC NULLS LAST, id)
                   AS global_rank
          FROM d)
    SELECT r.id, r.n_chars, r.global_rank,
           CAST(floor(n.n * 0.25) AS BIGINT) AS cutoff
    FROM r CROSS JOIN n
    WHERE r.global_rank <= CAST(floor(n.n * 0.25) AS BIGINT)
    """,
)
def q100(spark, sf_dir):
    """Quantile-threshold curation filter (top_fraction): keep the
    best 25% of the corpus by score — rank-exact (global_rank <=
    floor(0.25 * n), ties by id), not interpolated-quantile, so it is
    deterministic and engine-portable. The engine computes the global
    rank with a two-level score-range-bucketed scan (intra-bucket
    row_number + descending bucket prefix counts — never a
    single-partition global window); the oracle IS that
    single-partition window, so the hash match certifies
    bucketed == global exactly, including NULLS LAST."""
    from mel_tnnt_spark.operators.curation import top_fraction

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "n_chars"
    )
    return top_fraction(docs, "n_chars", "id", fraction=0.25, n_buckets=64)


@_q(
    "q101_s2_profile_columns",
    """
    WITH d AS (SELECT doc_id, lang, source, n_chars FROM documents)
    SELECT 'doc_id' AS "column", count(*)::BIGINT AS n_rows,
           count(CASE WHEN doc_id IS NULL THEN 1 END)::BIGINT AS n_nulls,
           count(DISTINCT doc_id)::BIGINT AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_repr,
           CAST(max(doc_id) AS VARCHAR) AS max_repr
    FROM d
    UNION ALL
    SELECT 'lang', count(*)::BIGINT,
           count(CASE WHEN lang IS NULL THEN 1 END)::BIGINT,
           count(DISTINCT lang)::BIGINT,
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
    FROM d
    UNION ALL
    SELECT 'source', count(*)::BIGINT,
           count(CASE WHEN source IS NULL THEN 1 END)::BIGINT,
           count(DISTINCT source)::BIGINT,
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
    FROM d
    UNION ALL
    SELECT 'n_chars', count(*)::BIGINT,
           count(CASE WHEN n_chars IS NULL THEN 1 END)::BIGINT,
           count(DISTINCT n_chars)::BIGINT,
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM d
    """,
)
def q101(spark, sf_dir):
    """One-pass dataset profiler (profile_columns — the S2 structure
    scan generalized to arbitrary tables): per column (n_rows,
    n_nulls, n_distinct, min/max as strings), computed by ONE
    aggregate over one scan (every stat is a map-side partial
    aggregate) and unpivoted from the 1-row result — no per-column
    scans. The first thing a curation run does to a new 100 TB
    delivery. Profiled columns are the documents table's
    non-text/non-float ones so min/max string renderings are
    engine-portable (the float-format caveat is the operator's
    documented contract)."""
    from mel_tnnt_spark.operators.metadata import profile_columns

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return profile_columns(docs)


@_q(
    "q102_kg_bgp_match",
    """
    WITH t AS (
      SELECT 'order:' || o_orderkey AS subj, 'placedBy' AS pred,
             'cust:' || o_custkey AS obj FROM orders
      UNION ALL
      SELECT 'cust:' || c_custkey, 'inNation', 'nation:' || c_nationkey
      FROM customer
      UNION ALL
      SELECT 'supp:' || s_suppkey, 'inNation', 'nation:' || s_nationkey
      FROM supplier
      UNION ALL
      SELECT 'order:' || l_orderkey, 'suppliedBy', 'supp:' || l_suppkey
      FROM lineitem
    )
    SELECT p1.subj AS o, p1.obj AS c, p3.obj AS s, p2.obj AS n
    FROM t p1
    JOIN t p2 ON p2.pred = 'inNation' AND p2.subj = p1.obj
    JOIN t p3 ON p3.pred = 'suppliedBy' AND p3.subj = p1.subj
    JOIN t p4 ON p4.pred = 'inNation' AND p4.subj = p3.obj
             AND p4.obj = p2.obj
    WHERE p1.pred = 'placedBy'
    """,
)
def q102(spark, sf_dir):
    """SPARQL basic-graph-pattern matching (bgp_match) over a triples
    table — the KG read path (reference: the SPARQL queries MEL-TNNT
    issues against Virtuoso, code/MEL/__init__.py:2626-2670), as a
    pure DataFrame plan: each pattern is a filtered projection of the
    triples scan (literal pred = partition-pruned on the
    pred-partitioned layout), patterns join on shared variables,
    most-bound first, AQE sizing each join. The pattern is the
    local-supplier CYCLE (?o placedBy ?c . ?c inNation ?n .
    ?o suppliedBy ?s . ?s inNation ?n) over triples derived from the
    TPC-H tables; bag semantics — the oracle is the literal
    four-way self-join."""
    from mel_tnnt_spark.operators.graph_query import bgp_match

    def _pfx(tag, col):
        return F.concat(F.lit(tag), F.col(col).cast("string"))

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    triples = (
        orders.select(
            _pfx("order:", "o_orderkey").alias("subj"),
            F.lit("placedBy").alias("pred"),
            _pfx("cust:", "o_custkey").alias("obj"),
        )
        .unionByName(
            cust.select(
                _pfx("cust:", "c_custkey").alias("subj"),
                F.lit("inNation").alias("pred"),
                _pfx("nation:", "c_nationkey").alias("obj"),
            )
        )
        .unionByName(
            supp.select(
                _pfx("supp:", "s_suppkey").alias("subj"),
                F.lit("inNation").alias("pred"),
                _pfx("nation:", "s_nationkey").alias("obj"),
            )
        )
        .unionByName(
            li.select(
                _pfx("order:", "l_orderkey").alias("subj"),
                F.lit("suppliedBy").alias("pred"),
                _pfx("supp:", "l_suppkey").alias("obj"),
            )
        )
    )
    return bgp_match(
        triples,
        [
            ("?o", "placedBy", "?c"),
            ("?c", "inNation", "?n"),
            ("?o", "suppliedBy", "?s"),
            ("?s", "inNation", "?n"),
        ],
    ).select("o", "c", "s", "n")


@_q(
    "q103_kg_transitive_closure",
    """
    WITH RECURSIVE e AS (
      SELECT doc_id AS child, (doc_id - 1) // 3 AS parent
      FROM documents WHERE doc_id >= 1),
    a AS (
      SELECT child AS node, parent AS ancestor, 1::BIGINT AS depth FROM e
      UNION ALL
      SELECT a.node, e.parent, a.depth + 1
      FROM a JOIN e ON a.ancestor = e.child)
    SELECT node, ancestor, depth FROM a
    """,
)
def q103(spark, sf_dir):
    """Transitive closure with exact path length (transitive_closure)
    — the tnnt:partOf hierarchy flatten (doc -> folder -> repo -> org
    chains as one row per (item, container-at-any-level); reference:
    the partOf triples of code/MEL/__init__.py:2626-2670). The engine
    runs iterative DOUBLING (P <- P u P.P, localCheckpoint per round):
    a depth-d hierarchy closes in ceil(log2 d) self-joins, not d — the
    reachability twin of components.py's pointer jumping. The oracle
    is DuckDB's native WITH RECURSIVE (depth-at-a-time semi-naive) —
    an INDEPENDENT evaluation strategy, so the hash match certifies
    the doubling algebra, not a mirrored computation. Edge set: the
    ternary-parent tree (doc_id -> (doc_id-1) div 3)."""
    from mel_tnnt_spark.operators.graph_query import transitive_closure

    docs = _t(spark, sf_dir, "documents", repartition=False)
    edges = docs.where(F.col("doc_id") >= 1).select(
        F.col("doc_id").alias("child"),
        F.expr("(doc_id - 1) div 3").alias("parent"),
    )
    return transitive_closure(edges, "child", "parent", max_depth=64)


def _pagerank_sql(iters: int) -> str:
    """Unrolled micro-integer PageRank oracle (the q85 'oracle mirrors
    the iterative computation' pattern): damping 17/20, ranks in
    1e-12 units, all-integer ops — bit-identical across engines."""
    head = """
    WITH e AS (
      SELECT 'cust:' || o_custkey AS src, 'order:' || o_orderkey AS dst
      FROM orders
      UNION
      SELECT 'order:' || l_orderkey, 'supp:' || l_suppkey FROM lineitem),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1),
    r0 AS (SELECT node, 1000000000000::BIGINT AS rank FROM nodes)"""
    body = []
    for k in range(1, iters + 1):
        body.append(f"""
    r{k} AS (
      SELECT n.node,
             (150000000000 + coalesce(s.inflow, 0) * 17 // 20)::BIGINT
               AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank // d.outdeg)::BIGINT AS inflow
        FROM e JOIN r{k - 1} r ON r.node = e.src
               JOIN deg d ON d.src = e.src
        GROUP BY e.dst) s USING (node))""")
    return (
        head + "," + ",".join(body)
        + f"\n    SELECT node, rank AS rank_micro FROM r{iters}"
    )


@_q("q104_kg_pagerank", _pagerank_sql(3))
def q104(spark, sf_dir):
    """PageRank in EXACT micro-integer arithmetic (pagerank_micro):
    damping = the rational 17/20, ranks in 1e-12 units, contributions
    floor-divided — every op is int64, so iterates are bit-identical
    across engines/shuffle orders and the oracle unrolls the SAME 3
    iterations (q85 numerics discipline applied to a graph loop).
    Graph: cust -> order -> supplier from the TPC-H tables (suppliers
    are dangling sinks — the standard leak simplification, mirrored).
    One groupBy(dst) shuffle per iteration; degree dim computed
    once."""
    from mel_tnnt_spark.operators.graph_query import pagerank_micro

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.select(
            F.concat(F.lit("cust:"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")).alias("dst"),
        )
        .unionByName(
            li.select(
                F.concat(F.lit("order:"), F.col("l_orderkey").cast("string")).alias("src"),
                F.concat(F.lit("supp:"), F.col("l_suppkey").cast("string")).alias("dst"),
            )
        )
    )
    return pagerank_micro(edges, "src", "dst", iterations=3)


@_q(
    "q105_kg_triangle_count",
    """
    WITH r AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
               FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM r),
    e AS (
      SELECT LEAST(id, (id + 1) % n) AS lo, GREATEST(id, (id + 1) % n) AS hi
      FROM r CROSS JOIN nn
      UNION
      SELECT LEAST(id, (id + 2) % n), GREATEST(id, (id + 2) % n)
      FROM r CROSS JOIN nn),
    tri AS (
      SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
      FROM e e1
      JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
      JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi)
    SELECT node, count(*)::BIGINT AS n_triangles
    FROM (SELECT u AS node FROM tri
          UNION ALL SELECT v FROM tri
          UNION ALL SELECT w FROM tri)
    GROUP BY node
    """,
)
def q105(spark, sf_dir):
    """Triangle counting via degree-ordered orientation
    (triangle_count, Suri & Vassilvitskii 2011): orient each edge
    low-(degree, id) -> high, count wedges at the low vertex, close
    against the canonical edge set — each triangle counted exactly
    once and wedge fan-out bounded O(sqrt(m)) (a crawl-graph star
    costs sqrt-bounded wedges, not degree^2). Graph: the dense-id ring
    (i -> i+1, i -> i+2 mod n) over documents (row_number dense ids,
    the q81 discipline) — every node sits in exactly 3 triangles,
    wrap-around included. The oracle enumerates u<v<w triangles by the
    generic three-way canonical join — an independent formulation, so
    the match certifies the orientation algebra."""
    from pyspark.sql import Window

    from mel_tnnt_spark.operators.graph_query import triangle_count

    docs = _t(spark, sf_dir, "documents", repartition=False)
    r = docs.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1)
        .cast("long")
        .alias("id")
    )
    nn = r.agg(F.count(F.lit(1)).alias("n"))
    w = r.join(F.broadcast(nn), F.lit(True))
    edges = (
        w.select(
            F.col("id").alias("a"), ((F.col("id") + 1) % F.col("n")).alias("b")
        )
        .unionByName(
            w.select(
                F.col("id").alias("a"),
                ((F.col("id") + 2) % F.col("n")).alias("b"),
            )
        )
    )
    return triangle_count(edges, "a", "b")


@_q(
    "q106_kg_closure_chained",
    """
    WITH RECURSIVE e AS (
      SELECT doc_id AS child, (doc_id - 1) // 3 AS parent
      FROM documents WHERE doc_id >= 1),
    a AS (
      SELECT child AS node, parent AS ancestor, 1::BIGINT AS depth FROM e
      UNION ALL
      SELECT a.node, e.parent, a.depth + 1
      FROM a JOIN e ON a.ancestor = e.child)
    SELECT node, ancestor, depth FROM a
    """,
)
def q106(spark, sf_dir):
    """Incremental transitive-closure maintenance
    (maintain_transitive_closure): the partOf flatten for a crawl that
    discovers containment edges batch by batch — three ARBITRARY
    slices of the ternary-tree edge set folded into a persisted
    closure, per-batch work proportional to the DELTA closure (the
    N <- N u N.C u C.N u N.N alternation loop; the stored closure is
    never re-derived). No arrival-order caveat: closure is
    order-insensitive (test-pinned on shuffled DAG batches). The
    oracle is the from-scratch WITH RECURSIVE over the whole edge set
    — chained == scratch is the defining theorem, certified by the
    hash match end-to-end."""
    import shutil
    import tempfile

    from mel_tnnt_spark.operators.graph_query import maintain_transitive_closure

    docs = _t(spark, sf_dir, "documents", repartition=False)
    edges = docs.where(F.col("doc_id") >= 1).select(
        F.col("doc_id").alias("child"),
        F.expr("(doc_id - 1) div 3").alias("parent"),
    )
    # slice by child mod 3 — interleaved, NOT contiguous: exercises the
    # any-order theorem (a child can arrive before its parent's edge)
    state = tempfile.mkdtemp(prefix="q106_closure_state_")
    try:
        out = None
        for part in range(3):
            b = edges.where(F.col("child") % 3 == part)
            out = maintain_transitive_closure(
                spark, state, b, "child", "parent", max_depth=64
            )
        return out
    finally:
        shutil.rmtree(state, ignore_errors=True)


def _walks_sql(walk_length: int) -> str:
    """Unrolled deterministic-walk oracle: identical md5 step choice
    per (start, step, cur), one CTE per step."""
    head = """
    WITH r AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
               FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM r),
    e AS (SELECT id AS src, (id + 1) % n AS dst FROM r CROSS JOIN nn
          UNION ALL
          SELECT id, (id + 2) % n FROM r CROSS JOIN nn),
    adj AS (SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY dst) - 1
                     AS idx
            FROM e),
    deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM adj GROUP BY 1),
    w0 AS (SELECT node AS start, 0 AS step, node FROM (
             SELECT src AS node FROM e UNION SELECT dst FROM e))"""
    body = []
    for k in range(1, walk_length + 1):
        body.append(f"""
    w{k} AS (
      SELECT w.start, {k} AS step, a.dst AS node
      FROM w{k - 1} w
      JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.idx = (('0x' || substr(md5(w.start || '|' || {k} || '|'
                                        || w.node), 1, 15))
                      ::UBIGINT::BIGINT) % d.outdeg)""")
    tail = "\n    ".join(
        f"SELECT start, step, node FROM w{k}" + (" UNION ALL" if k < walk_length else "")
        for k in range(walk_length + 1)
    )
    return head + "," + ",".join(body) + "\n    " + tail


@_q("q107_kg_random_walks", _walks_sql(5))
def q107(spark, sf_dir):
    """DeepWalk-style random-walk corpus generation
    (deterministic_walks, Perozzi et al. 2014): one walk per node,
    5 steps, over the dense-id ring graph (outdeg 2 everywhere) —
    walks are the "sentences" a skip-gram graph embedding trains on,
    and the md5-derived step choice (H(start, step, cur) mod outdeg,
    the weighted_sample determinism discipline) makes the corpus
    bit-reproducible on any engine: the oracle unrolls the identical
    5 steps. Each step is one (cur, idx) two-column equi-join probing
    exactly ONE neighbor per walk — no per-neighbor fan-out, frontier
    only shrinks."""
    from pyspark.sql import Window

    from mel_tnnt_spark.operators.graph_query import deterministic_walks

    docs = _t(spark, sf_dir, "documents", repartition=False)
    r = docs.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1)
        .cast("long")
        .alias("id")
    )
    nn = r.agg(F.count(F.lit(1)).alias("n"))
    w = r.join(F.broadcast(nn), F.lit(True))
    edges = (
        w.select(
            F.col("id").alias("src"), ((F.col("id") + 1) % F.col("n")).alias("dst")
        )
        .unionByName(
            w.select(
                F.col("id").alias("src"),
                ((F.col("id") + 2) % F.col("n")).alias("dst"),
            )
        )
    )
    return deterministic_walks(edges, "src", "dst", walk_length=5)


@_q(
    "q108_sim_random_projection",
    """
    WITH x AS (SELECT vec_id, unnest(embedding) AS val,
                      generate_subscripts(embedding, 1) - 1 AS i
               FROM embeddings),
    js AS (SELECT unnest(generate_series(0, 3)) AS j)
    SELECT x.vec_id AS id, js.j,
           sum(CAST(round(CAST(val AS DOUBLE) * 1000000) AS BIGINT) *
               (CASE WHEN (('0x' || substr(md5(x.i || '|' || js.j), 1, 15))
                             ::UBIGINT::BIGINT) % 2 = 0
                     THEN 1 ELSE -1 END))::BIGINT AS y_micro
    FROM x CROSS JOIN js
    GROUP BY 1, 2
    """,
)
def q108(spark, sf_dir):
    """Johnson-Lindenstrauss random projection (random_projection,
    Achlioptas 2003 sign matrix): compress every embedding to 4
    coordinates — the pre-ANN compression step of a 100 TB embedding
    corpus. Engine-exact by construction: 6-dp inputs make
    round(x * 1e6) an exact int64, signs derive from md5(i|j) parity,
    and the projection is an INTEGER sum — no float accumulation
    order anywhere, so the oracle reproduces it bit-for-bit from the
    same parquet. Pure codegen (sequence/zip_with/aggregate +
    out_dim-element explode), zero shuffles, zero UDFs."""
    from mel_tnnt_spark.operators.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings", repartition=True)
    return random_projection(emb, "vec_id", "embedding", out_dim=4)


@_q(
    "q109_kg_property_path",
    """
    WITH RECURSIVE t AS (
      SELECT 'doc:' || doc_id AS subj, 'partOf' AS pred,
             'folder:' || (doc_id // 25) AS obj FROM documents
      UNION ALL
      SELECT DISTINCT 'folder:' || (doc_id // 25), 'partOf',
             'root:' || (doc_id // 125) FROM documents
      UNION ALL
      SELECT 'doc:' || doc_id, 'inLang', lang FROM documents),
    e AS (SELECT subj, obj FROM t WHERE pred = 'partOf'),
    cl AS (
      SELECT subj, obj FROM e
      UNION
      SELECT cl.subj, e.obj FROM cl JOIN e ON cl.obj = e.subj)
    SELECT cl.subj AS d, cl.obj AS c, lg.obj AS l
    FROM cl JOIN (SELECT subj, obj FROM t WHERE pred = 'inLang') lg
      ON lg.subj = cl.subj
    """,
)
def q109(spark, sf_dir):
    """SPARQL property-path matching (bgp_match with a "partOf+" leg):
    the one-or-more containment path every KG hierarchy query needs
    (docs inside folders inside roots — "everything under this repo at
    any depth", the reference's partOf chains flattened at query
    time). The "+"-leg becomes the transitive closure of the
    pred-filtered scan (iterative doubling, set semantics — SPARQL
    path semantics), joined with the plain ?d inLang ?l leg on the
    shared variable. The oracle is DuckDB's native recursive-CTE
    reachability joined the same way — an independent evaluation
    strategy for the path leg."""
    from mel_tnnt_spark.operators.graph_query import bgp_match

    docs = _t(spark, sf_dir, "documents")

    def _pfx(tag, col_expr):
        return F.concat(F.lit(tag), col_expr.cast("string"))

    doc_part = docs.select(
        _pfx("doc:", F.col("doc_id")).alias("subj"),
        F.lit("partOf").alias("pred"),
        _pfx("folder:", F.expr("doc_id div 25")).alias("obj"),
    )
    folder_part = docs.select(
        _pfx("folder:", F.expr("doc_id div 25")).alias("subj"),
        F.lit("partOf").alias("pred"),
        _pfx("root:", F.expr("doc_id div 125")).alias("obj"),
    ).distinct()
    lang_t = docs.select(
        _pfx("doc:", F.col("doc_id")).alias("subj"),
        F.lit("inLang").alias("pred"),
        F.col("lang").alias("obj"),
    )
    triples = doc_part.unionByName(folder_part).unionByName(lang_t)
    return bgp_match(
        triples,
        [("?d", "partOf+", "?c"), ("?d", "inLang", "?l")],
        max_depth=16,
    ).select("d", "c", "l")


@_q(
    "q110_kg_bounded_shortest_paths",
    """
    WITH RECURSIVE r AS (SELECT row_number() OVER (ORDER BY doc_id) - 1
                                AS id
                         FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM r),
    e AS (SELECT id AS src, (id + 1) % n AS dst FROM r CROSS JOIN nn
          UNION
          SELECT id, (id + 7) % n FROM r CROSS JOIN nn),
    p AS (
      SELECT src, dst, 1::BIGINT AS dist FROM e
      UNION
      SELECT p.src, e.dst, p.dist + 1
      FROM p JOIN e ON p.dst = e.src WHERE p.dist < 6)
    SELECT src, dst, min(dist)::BIGINT AS dist FROM p GROUP BY 1, 2
    """,
)
def q110(spark, sf_dir):
    """Bounded-hop shortest-path distances (shortest_paths): every
    pair within 6 directed hops on the ring+chord graph (steps +1 and
    +7 over dense doc ids) — the entity-neighborhood radius query
    ("everything within k hops") as the MIN-PLUS semiring twin of
    q103's closure. The engine runs min-plus DOUBLING
    (ceil(log2 6) = 3 join+min rounds, per-round dist<=6 pruning —
    lossless by subpath optimality); the oracle is DuckDB's
    depth-at-a-time recursive UNION with a final min — an independent
    evaluation strategy, so the hash match certifies the doubling
    algebra on a CYCLIC graph (no acyclicity crutch)."""
    from pyspark.sql import Window

    from mel_tnnt_spark.operators.graph_query import shortest_paths

    docs = _t(spark, sf_dir, "documents", repartition=False)
    r = docs.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1)
        .cast("long")
        .alias("id")
    )
    nn = r.agg(F.count(F.lit(1)).alias("n"))
    w = r.join(F.broadcast(nn), F.lit(True))
    edges = (
        w.select(
            F.col("id").alias("src"), ((F.col("id") + 1) % F.col("n")).alias("dst")
        )
        .unionByName(
            w.select(
                F.col("id").alias("src"),
                ((F.col("id") + 7) % F.col("n")).alias("dst"),
            )
        )
    )
    return shortest_paths(edges, "src", "dst", max_hops=6)


@_q(
    "q111_s2_exact_quantiles",
    """
    WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
               WHERE n_chars IS NOT NULL),
    n AS (SELECT count(*)::BIGINT AS n FROM d),
    r AS (SELECT v, row_number() OVER (ORDER BY v) AS rank FROM d),
    t AS (SELECT q, CAST(floor(q * (n.n - 1)) + 1 AS BIGINT) AS rank
          FROM (VALUES (0.1), (0.25), (0.5), (0.75), (0.9), (0.99))
            AS qs(q) CROSS JOIN n)
    SELECT t.q, t.rank, r.v AS value FROM t JOIN r USING (rank)
    """,
)
def q111(spark, sf_dir):
    """Exact rank-based corpus quantiles (exact_quantiles): the doc-
    length distribution points (p10/p25/p50/p75/p90/p99) curation
    thresholds come from — rank-exact ("lower" empirical quantile at
    global rank floor(q*(n-1))+1), deterministic and engine-portable
    (no interpolation, no sampled sketch). The engine transposes the
    q100 two-level VALUE-RANGE-bucketed scan to ascending rank (never
    a single-partition global window); the oracle IS the single
    global window, so the hash match certifies bucketed == global."""
    from mel_tnnt_spark.operators.metadata import exact_quantiles

    docs = _t(spark, sf_dir, "documents")
    return exact_quantiles(
        docs, "n_chars", [0.1, 0.25, 0.5, 0.75, 0.9, 0.99], n_buckets=64
    )


@_q(
    "q112_cur_temperature_mixture",
    r"""
    WITH d AS (SELECT lang,
                      len(list_filter(string_split_regex(coalesce(text, ''),
                                                         '\s+'),
                                      x -> x != ''))::BIGINT AS t
               FROM documents),
    g AS (SELECT lang, sum(t)::BIGINT AS n_tokens FROM d GROUP BY 1
          HAVING sum(t) > 0),
    z AS (SELECT sum(pow(n_tokens, 0.3)) AS z FROM g)
    SELECT g.lang, g.n_tokens,
           round(pow(g.n_tokens, 0.3) / z.z, 6) AS weight
    FROM g CROSS JOIN z
    """,
)
def q112(spark, sf_dir):
    """Temperature-scaled domain mixture (temperature_weights — the
    mT5/XLM-R multilingual recipe): p_lang = tokens^0.3 / sum, the
    alpha<1 upsampling that keeps low-resource languages from
    drowning in the crawl share. Exactly-reproducible mixture table
    (shared _ws_tokens tokenization, weight rounded to 6 past libm-pow
    ulp); feed weight/n_docs into weighted_sample (q96/q99) for the
    document pick — the composition IS the published recipe. One
    aggregate + a 1-row total broadcast."""
    from mel_tnnt_spark.operators.curation import temperature_weights

    docs = _t(spark, sf_dir, "documents")
    return temperature_weights(docs, "lang", "text", alpha=0.3)


@_q(
    "q113_contrastive_triplets",
    """
    WITH b AS (SELECT doc_id AS id, lang AS grp FROM documents),
    a AS (SELECT id AS anchor_id, grp,
                 lag(id) OVER (PARTITION BY grp ORDER BY id)
                   AS positive_id
          FROM b),
    an AS (SELECT * FROM a WHERE positive_id IS NOT NULL),
    dim AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cand_rid,
                   id AS cand_id, grp AS cand_grp
            FROM b),
    n AS (SELECT count(*)::BIGINT AS n FROM b),
    c AS (SELECT an.anchor_id, an.grp, an.positive_id, offs.off,
                 (('0x' || substr(md5('neg|' || anchor_id), 1, 15))
                    ::UBIGINT::BIGINT + offs.off) % n.n AS cand_rid
          FROM an CROSS JOIN n
          CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS off) offs),
    p AS (SELECT c.anchor_id, c.positive_id,
                 arg_min(dim.cand_id, c.off) AS negative_id
          FROM c JOIN dim USING (cand_rid)
          WHERE dim.cand_grp != c.grp
          GROUP BY 1, 2)
    SELECT an.anchor_id, an.positive_id, p.negative_id
    FROM an LEFT JOIN p USING (anchor_id, positive_id)
    """,
)
def q113(spark, sf_dir):
    """Contrastive training-triplet mining (contrastive_triplets):
    (anchor, positive, negative) rows for embedding-model training —
    in-group predecessor positives (the weak-supervision standard when
    no near-dup pair exists), md5-derived cross-group negatives
    advancing through up to 3 candidate ranks (NULL on the
    all-one-group degenerate corpus). Deterministic end-to-end (no RNG
    state), so the oracle re-derives the identical triplet table.
    Bounded 3-fanout candidate equi-join; per-group lag window."""
    from mel_tnnt_spark.operators.sampling import contrastive_triplets

    docs = _t(spark, sf_dir, "documents")
    return contrastive_triplets(docs, "doc_id", "lang")


@_q(
    "q114_kg_khop_aggregate",
    """
    WITH RECURSIVE r AS (SELECT row_number() OVER (ORDER BY doc_id) - 1
                                AS id
                         FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM r),
    e AS (SELECT id AS src, (id + 1) % n AS dst FROM r CROSS JOIN nn
          UNION
          SELECT id, (id + 7) % n FROM r CROSS JOIN nn),
    p AS (SELECT src, dst, 1::BIGINT AS dist FROM e
          UNION
          SELECT p.src, e.dst, p.dist + 1
          FROM p JOIN e ON p.dst = e.src WHERE p.dist < 4),
    reach AS (SELECT DISTINCT src, dst FROM p),
    f AS (SELECT id AS dst, (id * 7) % 13 AS f FROM r)
    SELECT reach.src AS node, count(*)::BIGINT AS n_neighbors,
           sum(f.f)::BIGINT AS feature_sum
    FROM reach JOIN f USING (dst) GROUP BY 1
    """,
)
def q114(spark, sf_dir):
    """K-hop neighborhood feature aggregation (khop_aggregate — the
    GNN message-passing primitive done relationally): for every node
    of the ring+chord graph, the exact integer feature sum over all
    nodes within 4 directed hops, each reachable neighbor counted
    ONCE regardless of path multiplicity (shortest_paths dedups to
    min distance per pair). Integer features keep the aggregate
    engine-exact; the oracle re-derives reachability by recursive
    UNION — an independent strategy under the same aggregation."""
    from pyspark.sql import Window

    from mel_tnnt_spark.operators.graph_query import khop_aggregate

    docs = _t(spark, sf_dir, "documents", repartition=False)
    r = docs.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1)
        .cast("long")
        .alias("id")
    )
    nn = r.agg(F.count(F.lit(1)).alias("n"))
    w = r.join(F.broadcast(nn), F.lit(True))
    edges = (
        w.select(
            F.col("id").alias("src"), ((F.col("id") + 1) % F.col("n")).alias("dst")
        )
        .unionByName(
            w.select(
                F.col("id").alias("src"),
                ((F.col("id") + 7) % F.col("n")).alias("dst"),
            )
        )
    )
    feats = r.select("id", ((F.col("id") * 7) % 13).alias("f"))
    return khop_aggregate(edges, feats, "src", "dst", "id", "f", k=4)


@_q(
    "q115_kg_edge_jaccard",
    """
    WITH r AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
               FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM r),
    e AS (SELECT LEAST(id, (id + 1) % n) AS lo,
                 GREATEST(id, (id + 1) % n) AS hi
          FROM r CROSS JOIN nn
          UNION
          SELECT LEAST(id, (id + 2) % n), GREATEST(id, (id + 2) % n)
          FROM r CROSS JOIN nn),
    adj AS (SELECT lo AS node, hi AS nb FROM e
            UNION ALL SELECT hi, lo FROM e),
    deg AS (SELECT node, count(*)::BIGINT AS d FROM adj GROUP BY 1),
    sh AS (SELECT e.lo, e.hi, count(*)::BIGINT AS n_shared
           FROM e
           JOIN adj a ON a.node = e.lo
           JOIN adj b ON b.node = e.hi AND b.nb = a.nb
           GROUP BY 1, 2)
    SELECT e.lo, e.hi, coalesce(sh.n_shared, 0)::BIGINT AS n_shared,
           round(coalesce(sh.n_shared, 0)
                 / (dl.d + dh.d - coalesce(sh.n_shared, 0)), 6) AS jaccard
    FROM e
    JOIN deg dl ON dl.node = e.lo
    JOIN deg dh ON dh.node = e.hi
    LEFT JOIN sh ON sh.lo = e.lo AND sh.hi = e.hi
    """,
)
def q115(spark, sf_dir):
    """Per-edge neighborhood Jaccard (edge_neighborhood_jaccard) —
    the link-prediction / graph-dedup feature: |N(u) n N(v)| /
    |N(u) u N(v)| for every edge of the dense-id +1/+2 ring (every
    edge shares exactly 1–2 neighbors by construction, wrap-around
    included). The engine expands common-neighbor candidates from the
    LOWER-degree endpoint (the q105 orientation argument: total
    candidates O(sum min-deg) = O(m^1.5), star-proof); the oracle
    joins both adjacency sides symmetrically — an independent
    formulation, so the hash match certifies the oriented expansion."""
    from pyspark.sql import Window

    from mel_tnnt_spark.operators.graph_query import edge_neighborhood_jaccard

    docs = _t(spark, sf_dir, "documents", repartition=False)
    r = docs.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1)
        .cast("long")
        .alias("id")
    )
    nn = r.agg(F.count(F.lit(1)).alias("n"))
    w = r.join(F.broadcast(nn), F.lit(True))
    edges = (
        w.select(
            F.col("id").alias("a"), ((F.col("id") + 1) % F.col("n")).alias("b")
        )
        .unionByName(
            w.select(
                F.col("id").alias("a"),
                ((F.col("id") + 2) % F.col("n")).alias("b"),
            )
        )
    )
    return edge_neighborhood_jaccard(edges, "a", "b")
