"""SparkSession factory tuned for the KG-construction workload.

Scale posture (targets a multi-executor cluster; tested on local[N]):
- AQE on, including skew-join splitting — giant repos/files produce
  skewed `repo` / `doc_id` keys (reference acknowledges this only via
  file-size buckets, code/NLP_NER/Sampling.py:126-136).
- Arrow enabled and batch size bounded so pandas-UDF detector batches
  stay memory-safe even with multi-MB `content` values (reference
  precedent: recursive punctuation splitting to bound sequence length,
  code/NLP_NER/EntityRecognition.py:649-661).
- Python worker reuse so detector "models" are loaded once per worker
  (reference: NER.loaded one-time model loading, code/MEL/__init__.py:2351-2356).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = 32
# The one "small enough for the driver" size, in rows: an input this
# small (graph edges, the entity dim, a similarity graph) is collected
# and finished in plain Python, because a Spark loop over it pays a
# fixed per-job cost many times over ("Scalability! But at what
# COST?", McSherry et al., HotOS 2015). Read at call time, so a test
# can set it to 0 to run the distributed tier on small inputs.
DRIVER_ROWS = 200_000


def get_spark(
    app_name: str = "mel-tnnt-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned session.

    `master` defaults to local[$SPARK_GRAFT_CPUS] (env) or local[*].
    On a real cluster, leave `master` unset and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    nshuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-plan, partition coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        # Arrow boundary: vectorized pandas UDFs only; bound batch rows so a
        # batch of large `content` strings cannot blow the python worker.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"),
        )
        .config("spark.python.worker.reuse", "true")
        # 128 MB scan splits: good parallelism at 100 TB without tiny tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # openCostInBytes stays at its 4 MB default: lowering it to
        # split small files finer was measured a NET LOSS (round 7 A/B:
        # +0.3-1.5 s/query scheduling overhead across the register) —
        # finer splits cannot help single-row-group parquet anyway
        # (row groups are the parallelism unit); the targeted
        # repartition-after-read in the query layer handles that case.
        # Broadcast thresholds (guide §3.1): plan-time decisions run on
        # SIZE ESTIMATES, which overshoot badly after string-building
        # projections — a 64 MB plan-time threshold broadcast a 6M-row
        # 300+ MB string relation in the BGP path (13.4s). Keep the
        # plan-time threshold at the conservative 10 MB default and
        # let AQE upgrade joins to broadcast from ACCURATE runtime
        # sizes up to 64 MB (q102 13.4 -> 3.3s; genuinely small dims
        # still broadcast, now based on real bytes).
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get(
                "SPARK_GRAFT_AUTOBROADCAST", str(10 * 1024 * 1024)
            ),
        )
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            os.environ.get(
                "SPARK_GRAFT_AQE_AUTOBROADCAST", str(64 * 1024 * 1024)
            ),
        )
        # Joins (guide §3.1): allow shuffled-hash join when its size
        # conditions are met instead of always sort-merge — the graph /
        # dedup paths join multi-million-row string-keyed tables where
        # the two SMJ sorts are pure overhead. AQE additionally
        # rewrites SMJ->SHJ at runtime when every post-shuffle
        # partition is under the local-map threshold (64 MB default
        # here; both knobs env-overridable for cluster deployments
        # where per-task memory is tighter).
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP_THRESHOLD", "67108864"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Whole-stage codegen emits large straight-line methods (wide
        # aggregates, expanded dot products); HotSpot refuses to JIT
        # methods over 8 KB of bytecode by default, silently running
        # them in the bytecode interpreter (~10x slower). Standard
        # Spark practice is to lift that cap (set the same flag in
        # spark.executor.extraJavaOptions on a real cluster — local
        # mode executes in the driver JVM). This setting only applies
        # when this process launches the JVM (plain `python`): under
        # spark-submit the driver JVM is already running and drops it
        # silently, so pass `--driver-java-options
        # -XX:-DontCompileHugeMethods` to spark-submit instead.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:-DontCompileHugeMethods"
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_dim(spark: SparkSession, rows, schema: str | StructType):
    """Config-sized dimension table as a JVM LocalRelation.

    Plain `createDataFrame(list)` parallelizes even 20 rows over
    defaultParallelism Python partitions, so every action that builds
    a broadcast from it runs a 32-task Python job — and the historical
    `.coalesce(1)` "fix" was worse: a CoalescedRDD evaluates all 32
    parent partitions through Python workers in ONE sequential task,
    measured ~5 s PER ACTION on the q82 tail (the real cause of the
    round-4 "q82 cost anomaly"; the suspected md5 gram hash A/B'd as
    a null result). The Arrow path converts the rows driver-side into
    a LocalRelation: zero runtime job, constant-foldable, and a
    crossJoin of two such dims plans 1x1, not 32x32 tasks. Zero rows
    plan as an empty LocalRelation (the Arrow path would not), so a
    join against an empty dim folds away. Falls back to single-slice
    parallelize when pandas/Arrow is unavailable. `schema` is a DDL
    string or a StructType."""
    # Materialize up front: the pandas attempt below consumes `rows`,
    # and a generator input would otherwise leave the fallback an
    # exhausted iterator (silently-empty dim).
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema).where(F.lit(False))
    try:
        import pandas as pd

        from pyspark.sql.types import _parse_datatype_string

        st = _parse_datatype_string(schema) if isinstance(schema, str) else schema
        pdf = pd.DataFrame(
            [tuple(r) for r in rows], columns=[f.name for f in st.fields]
        )
        df = spark.createDataFrame(pdf, schema=st)
        if "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString():
            return df
    except Exception:
        pass
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def collect_small(df: DataFrame) -> list | None:
    """The rows of `df` when it has at most DRIVER_ROWS of them, else
    None. One `limit(DRIVER_ROWS + 1)` take, which Spark runs
    incrementally (one partition first, then a growing share of the
    rest) and stops once it holds more. The take is held on the JVM,
    and only a result that fits crosses to Python as a no-job
    LocalRelation collect: a frame over the gate costs its take and no
    Python Row objects (200,001 of them cost ~1 s on a 4-vCPU VM, the
    take ~0.2 s). No job at all when DRIVER_ROWS is 0 (the driver tier
    is off)."""
    if DRIVER_ROWS <= 0:
        return None
    rows = df.limit(DRIVER_ROWS + 1)._jdf.collectAsList()
    if rows.size() > DRIVER_ROWS:
        return None
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(rows, df._jdf.schema())
    return DataFrame(jdf, spark).collect()


def pin_observed(df: DataFrame, *metrics: Column) -> tuple[DataFrame, tuple]:
    """`df.localCheckpoint(eager=True)` plus the values of the aggregate
    `metrics` over the pinned rows, observed in the checkpoint's own
    job: no second action (a `.count()` after the pin is two more
    jobs)."""
    obs = Observation()
    pinned = df.observe(
        obs, *[m.alias(f"_m{i}") for i, m in enumerate(metrics)]
    ).localCheckpoint(eager=True)
    got = obs.get
    return pinned, tuple(got[f"_m{i}"] for i in range(len(metrics)))
