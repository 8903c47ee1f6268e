"""Graph materialization: (subj, pred, obj) triples.

The reference pushes RDF into Virtuoso via SPARQL
(code/MEL/__init__.py:2626-2670, default graph at 2634). The rebuild
materializes the same assertions as a partitioned columnar triples
table, queryable with Spark SQL (FIXTURES.md §4 golden shape):

    (doc_id,     tnnt:mentions, canonical_entity_id)
    (entity_id,  rdf:type,      tnnt:* label)
    (entity_id,  tnnt:label,    canonical surface)
    (doc_id,     tnnt:partOf,   repo)

Write layout: partition by `pred` (few, large partitions) for
predicate-pruned scans, and a rebalance on subj whose partition count
AQE sizes from the shuffled bytes (coalescing small partitions and
splitting skewed ones to the advisory size), so the file count follows
the data rather than a constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRIPLE_COLS = ("subj", "pred", "obj")


def build_triples(
    docs: DataFrame,
    linked: DataFrame,
    entities: DataFrame,
    ent_dim: DataFrame | None = None,
    ent_triples: DataFrame | None = None,
) -> DataFrame:
    """docs: one (doc_id, repo) row per doc; linked: output of
    link_mentions; entities: (entity_id, canonical_id) from
    canonical_entities; ent_dim: optional pre-distincted (entity_id,
    canonical, linked_label) dim (pass it to avoid recomputing the
    distinct); ent_triples: optional deduplicated rdf:type/tnnt:label
    (subj, pred, obj) rows built on the driver, with `entities` then
    covering every entity_id of `linked`.

    Shuffle budget: with `ent_triples`, exactly ONE shuffle — the
    distinct of the broadcast-joined (doc_id, canonical_id) pairs; the
    entity rows are used as given and the partOf rows need no distinct
    because `docs` is one row per doc. Without it, the mention branch
    distincts (doc_id, entity_id) before the join and once more after
    it, and the entity-level triples derive from the tiny dim."""

    def mentions_of(doc_ent: DataFrame, canonical: DataFrame) -> DataFrame:
        return (
            doc_ent.join(F.broadcast(canonical), "entity_id")
            .select(
                F.col("doc_id").alias("subj"),
                F.lit("tnnt:mentions").alias("pred"),
                F.col("canonical_id").alias("obj"),
            )
            .distinct()  # several entity_ids may share a canonical_id
        )

    part_t = docs.select(
        F.col("doc_id").alias("subj"),
        F.lit("tnnt:partOf").alias("pred"),
        F.col("repo").alias("obj"),
    )
    if ent_triples is not None:
        mentions_t = mentions_of(linked.select("doc_id", "entity_id"), entities)
        return mentions_t.unionByName(ent_triples).unionByName(part_t)

    pin = ent_dim is None
    if ent_dim is None:
        ent_dim = linked.select("entity_id", "canonical", "linked_label").distinct()
    ent_resolved = (
        ent_dim.join(entities, "entity_id", "left")
        .withColumn("canonical_id", F.coalesce("canonical_id", F.col("entity_id")))
    )
    if pin:
        # The resolved dim feeds three union branches + a broadcast —
        # pin it so each branch doesn't re-run the big distinct. When
        # the caller passes a pre-materialized (or driver-local) dim,
        # re-evaluating it per branch is free and the extra job isn't.
        ent_resolved = ent_resolved.localCheckpoint(eager=True)
    mentions_t = mentions_of(
        linked.select("doc_id", "entity_id").distinct(),  # the big shuffle
        ent_resolved.select("entity_id", "canonical_id"),
    )
    type_t = ent_resolved.select(
        F.col("canonical_id").alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.col("linked_label").alias("obj"),
    ).distinct()
    label_t = ent_resolved.select(
        F.col("canonical_id").alias("subj"),
        F.lit("tnnt:label").alias("pred"),
        F.col("canonical").alias("obj"),
    ).distinct()
    return mentions_t.unionByName(type_t).unionByName(label_t).unionByName(part_t)


def write_triples(
    triples: DataFrame,
    path: str,
    batch_id: str | None = None,
    full: bool = False,
) -> None:
    """Persist partitioned by pred, rebalanced on subj into as many
    partitions as AQE's advisory size gives for the data.

    Modes:
    - batch_id=None: one-shot full run — static overwrite, `pred=`
      layout only. For self-contained outputs (bench/scaling) that are
      never appended to; NEVER mix with the batch layout in one dir.
    - batch_id set, full=True: fresh run of a resumable table — static
      overwrite of the WHOLE table, `batch_id=/pred=` layout, so later
      incremental batches share one consistent partitioning.
    - batch_id set, full=False: incremental batch — rows land under the
      `batch_id=...` partition with DYNAMIC partition overwrite, so
      replaying a failed batch rewrites exactly its own partitions
      (idempotent) and never touches earlier batches' output. This is
      the parquet stand-in for an Iceberg `MERGE`/`replaceWhere`
      snapshot commit; on a real cluster this is
      `triples.writeTo("catalog.kg.triples").partitionedBy(bucket(256,'subj'),'pred')`.
    """
    out = triples.hint("rebalance", "subj")
    if batch_id is None:
        out.write.mode("overwrite").partitionBy("pred").parquet(path)
        return
    if full:
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id", "pred")
            .parquet(path)
        )
        return
    (
        out.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "pred")
        .parquet(path)
    )
