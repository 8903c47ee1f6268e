"""MEL stage: general metadata + text analysis as derived columns.

Re-expresses the reference's per-file metadata extraction
(Directory.scanAndBuildStructure, code/MEL/__init__.py:2131-2166, and
File.extractMetadata, code/MEL/__init__.py:1112-1164) as one declarative
projection over the source table. Everything except the NFKD fold is
JVM-side and stays inside whole-stage codegen; filters are plain
predicates Catalyst can push into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from mel_tnnt_spark.config import EXTENSION_MAPPINGS, MIME_TYPES
from mel_tnnt_spark.functions.text import clean_text_udf, preprocess_text_col


def _map_literal(mapping: dict[str, str]) -> Column:
    """Build a MapType literal for a small dict (broadcast-inlined)."""
    kv: list[Column] = []
    for k, v in mapping.items():
        kv.append(F.lit(k))
        kv.append(F.lit(v))
    return F.create_map(*kv)


def with_general_metadata(src: DataFrame) -> DataFrame:
    """Derive the reference's General-Metadata fields (FILENAME, PARENT,
    ABSOLUTEPATH, FILELENGTH, EXTENSION, TYPE — code/MEL/__init__.py:
    2140-2162) from (repo, path, commit, lang, content).

    Also assigns `doc_id` — the stable document key. The reference keys
    output files by blake2s(digest_size=7) of ABSOLUTEPATH
    (code/MEL/__init__.py:2386-2389); we use sha2(repo||path||commit)
    (documented divergence: same role, different hash — byte-parity of
    the key itself is not part of the extraction contract).
    """
    ext = F.upper(F.regexp_extract("path", r"\.([A-Za-z0-9]+)$", 1))
    return (
        src.withColumn("abs_path", F.concat_ws("/", "repo", "path"))
        .withColumn("doc_id", F.sha2(F.concat_ws("|", "repo", "path", "commit"), 256))
        .withColumn("filename", F.element_at(F.split("path", "/"), -1))
        .withColumn("parent", F.regexp_extract("path", r"^(.*)/[^/]+$", 1))
        .withColumn("extension", ext)
        .withColumn("file_length", F.octet_length(F.coalesce("content", F.lit(""))))
        .withColumn(
            "mime_type",
            F.coalesce(
                _map_literal(MIME_TYPES)[F.col("extension")],
                F.lit("application/octet-stream"),
            ),
        )
        .withColumn(
            "extractor",
            F.coalesce(_map_literal(EXTENSION_MAPPINGS)[F.col("extension")], F.lit("TXT")),
        )
    )


def filter_processable(df: DataFrame) -> DataFrame:
    """P3: drop empty files (File.isEmpty, code/MEL/__init__.py:1094-1096)
    and protected "~$" temp files (File.isProtected, 1098-1105)."""
    return df.where(
        (F.col("file_length") > 0) & ~F.col("filename").startswith("~$")
    )


def latest_commit_only(df: DataFrame) -> DataFrame:
    """W3 latest-wins dedup: keep one row per (repo, path) — the newest
    `committed_at`, tie-broken by (commit, doc_id) for determinism when
    two commits share a timestamp. Reference analogue: newest-mtime file
    wins among outputs sharing a base name
    (code/NLP_NER_API/interface/fileinfo.py:11-13).

    Implemented as a single-pass max_by aggregation: one shuffle moving
    each surviving row once, with map-side partial aggregation dropping
    stale versions before they ever hit the wire. The alternatives all
    cost more: a row_number window sorts and shuffles everything twice;
    a key-only agg + join back either re-shuffles the wide rows or
    builds a driver broadcast of every winning id (driver heap + GC).

    Scale note: at 10^12 files the source table is bucketed by
    (repo, path), making this aggregation shuffle-free, or the dedup
    happens at ingest via Iceberg MERGE; this operator is the
    unbucketed-table fallback.
    """
    cols = ", ".join(df.columns)
    return (
        df.groupBy("repo", "path")
        .agg(
            F.expr(f"max_by(struct({cols}), struct(committed_at, commit, doc_id))").alias("_r")
        )
        .select("_r.*")
    )


def latest_commit_keys(df: DataFrame) -> DataFrame:
    """Key-only variant of latest_commit_only: (repo, path, doc_id) of
    the winning commit per path. Shuffles only the key columns — use it
    for consumers that don't need text (doc dims, lineage), so the scan
    stays column-pruned and no content byte moves."""
    return (
        df.select("repo", "path", "committed_at", "commit", "doc_id", "content_sha")
        .groupBy("repo", "path")
        .agg(
            F.max(
                F.struct(
                    F.col("committed_at"), F.col("commit"), F.col("doc_id"), F.col("content_sha")
                )
            ).alias("_p")
        )
        .select(
            "repo",
            "path",
            F.col("_p.doc_id").alias("doc_id"),
            F.col("_p.content_sha").alias("content_sha"),
        )
    )


def with_text_analysis(df: DataFrame) -> DataFrame:
    """Text.analysis() (code/MEL/__init__.py:971-982) as columns:
    clean_text (F1+F2, pandas UDF), preproc_text (F3, codegen),
    n_chars. The counting maps (keywords A2 / pattern-matching A3) are
    produced as exploded side tables by
    mel_tnnt_spark.functions.text.keyword_counts / pattern_match_counts —
    long-form rows scale; per-row JSON maps don't."""
    return (
        df.withColumn("clean_text", clean_text_udf(F.col("content")))
        .withColumn("preproc_text", preprocess_text_col(F.col("clean_text")))
        .withColumn("n_chars", F.length("content"))
    )


def mel_stage(src: DataFrame) -> DataFrame:
    """Full MEL metadata stage: general metadata -> processable filter ->
    latest-commit dedup -> text analysis."""
    return with_text_analysis(latest_commit_only(filter_processable(with_general_metadata(src))))


def profile_columns(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One-pass dataset profiler: for every column, (column, n_rows,
    n_nulls, n_distinct, min_repr, max_repr) — the generalization of
    the reference's structure scan (code/NLP_NER_API's general-
    metadata summaries) to arbitrary tables, and the first thing a
    curation run does to a new 100 TB delivery (null explosions,
    cardinality blowups, truncated value ranges all show up here
    before any operator runs).

    Shape: ONE aggregate computes every column's stats in a single
    scan (count/count-distinct/min/max are all map-side partial
    aggregates), then the 1-row result unpivots driver-side into one
    row per column via an n_columns-element stack — no per-column
    scans, no second pass. min/max are emitted as strings so mixed
    column types share one output schema (the profiler contract, not
    a cast in the data path)."""
    cols = list(columns) if columns is not None else list(df.columns)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"_null_{c}"),
            F.countDistinct(F.col(c)).alias(f"_dist_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n_rows"),
                F.col(f"_null_{c}").alias("n_nulls"),
                F.col(f"_dist_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_repr"),
                F.col(f"_max_{c}").alias("max_repr"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(per_col).alias("p")).select("p.*")


def _has_map(t: DataType) -> bool:
    if isinstance(t, ArrayType):
        return _has_map(t.elementType)
    if isinstance(t, StructType):
        return any(_has_map(f.dataType) for f in t.fields)
    return isinstance(t, MapType)


def exact_quantiles(
    df: DataFrame, value_col: str, quantiles: list[float], n_buckets: int = 1024
) -> DataFrame:
    """EXACT rank-based quantiles of one column — (q, rank, value) with
    value = the element at global rank floor(q * (n - 1)) + 1 in
    ascending order (the "lower" empirical quantile, deterministic and
    engine-portable; interpolation would reintroduce float averaging).
    The profiling companion to profile_columns: curation thresholds
    ("drop below p10 length", "flag above p99 repetition") should come
    from exact corpus quantiles, not sampled sketches, when one extra
    pass is affordable.

    Scale shape: the top_fraction two-level scan transposed to
    ascending order — bucket by VALUE RANGE (bounds from a tiny
    min/max aggregate), intra-bucket row_number + ascending prefix
    counts over the n_buckets-row totals frame == the exact global
    rank; never a single-partition global window. NULLs are excluded
    (a quantile over NULLs is undefined; profile_columns reports the
    null count).

    TIE SKEW (one value carrying a big corpus share — zero-length
    docs, a constant column) splits adaptively like
    curation.top_fraction, and more freely: a bucket holding ONE
    distinct value can sub-bucket its rows ARBITRARILY (every row
    carries the same value, so whichever row lands on the target rank
    emits the identical answer) — sub-bucket by a DETERMINISTIC
    per-row hash of the input row (xxhash64 over every input column
    whose type holds no map: Spark cannot hash maps), result-invariant
    by construction. The hash replaced
    monotonically_increasing_id (round-6 ADVICE): the ranking branch
    and the totals branch evaluate the sub-bucket expression
    independently, and a non-deterministic id could assign a row to
    different sub-buckets per branch under task retry or partition
    changes, skipping/duplicating global ranks. Rows equal on hashed
    columns share a sub-bucket (hash collision by value), which at worst
    weakens the split back to the unsplit case — never the answer.
    Mixed buckets keep the plain in-bucket window."""
    for q in quantiles:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"exact_quantiles: quantile {q} outside [0, 1]")
    if not quantiles:
        raise ValueError("exact_quantiles: need at least one quantile")
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("_v"),
        F.xxhash64(
            *[F.col(f.name) for f in df.schema.fields if not _has_map(f.dataType)]
        ).alias("_rk"),
    )
    bounds = base.agg(
        F.min("_v").alias("lo"),
        F.max("_v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    span = (F.col("hi") - F.col("lo")) / F.lit(n_buckets)
    bucketed = base.join(F.broadcast(bounds), F.lit(True)).withColumn(
        "_b",
        F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
            F.least(
                F.floor((F.col("_v") - F.col("lo")) / span),
                F.lit(n_buckets - 1),
            )
        ),
    )
    tie_subbuckets = 64
    stats = bucketed.groupBy("_b").agg(F.countDistinct("_v").alias("_bd"))
    with_b2 = bucketed.join(F.broadcast(stats), "_b").withColumn(
        "_b2",
        F.when(
            F.col("_bd") == 1,
            F.pmod(F.col("_rk"), F.lit(tie_subbuckets)),
        ).otherwise(F.lit(0)),
    )
    intra = Window.partitionBy("_b", "_b2").orderBy(F.asc("_v"))
    with_rank = with_b2.withColumn("_rn", F.row_number().over(intra))
    totals2 = with_b2.groupBy("_b", "_b2").agg(F.count(F.lit(1)).alias("_cnt2"))
    prefix2 = totals2.select(
        "_b",
        "_b2",
        (
            F.sum("_cnt2").over(Window.partitionBy("_b").orderBy(F.asc("_b2")))
            - F.col("_cnt2")
        ).alias("_prefix2"),
    )
    totals = bucketed.groupBy("_b").agg(F.count(F.lit(1)).alias("_cnt"))
    prefix = totals.select(
        "_b",
        (F.sum("_cnt").over(Window.orderBy(F.asc("_b"))) - F.col("_cnt")).alias(
            "_prefix"
        ),
    )
    ranked = (
        with_rank.join(F.broadcast(prefix2), ["_b", "_b2"])
        .join(F.broadcast(prefix), "_b")
        .select(
            (F.col("_prefix") + F.col("_prefix2") + F.col("_rn")).alias("rank"),
            F.col("_v"),
            F.col("n"),
        )
    )
    targets = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"),
                (
                    F.floor(F.lit(float(q)) * (F.col("n") - 1)) + 1
                ).alias("rank"),
            )
            for q in quantiles
        ]
    )
    tdim = (
        bounds.select(F.explode(targets).alias("t"))
        .select("t.q", "t.rank")
    )
    return (
        ranked.join(F.broadcast(tdim), "rank")
        .select("q", "rank", F.col("_v").alias("value"))
    )
