"""End-to-end KG-construction pipeline (the reference's MEL.process(),
code/MEL/__init__.py:2719-2723, re-expressed as one lazy DataFrame DAG).

    source -> sha invariant -> MEL metadata -> [resume anti-join]
           -> TNNT mentions (mapInPandas) -> canonical label join
           -> linking (broadcast alias dict) -> connected components
           -> triples + summaries

Every stage returns a DataFrame. Two tables are always pinned: the
per-doc table and the distinct linked mention rows. The driver collects
only the entity dim, bounded by the alias dictionary.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from mel_tnnt_spark.operators import components, linking, lineage, mentions, metadata, summaries, triples
from mel_tnnt_spark.session import collect_small, local_dim


@dataclass
class PipelineResult:
    source_valid: DataFrame
    quarantined: DataFrame
    metadata: DataFrame
    mentions: DataFrame
    canon: DataFrame
    linked: DataFrame
    entities: DataFrame
    triples: DataFrame
    summary_fine: DataFrame
    summary_totals: DataFrame
    summary_by_category: DataFrame


def run_pipeline(
    spark: SparkSession,
    src: DataFrame,
    lineage_path: str | None = None,
    stage: str = "kg",
) -> PipelineResult:
    valid, quarantined = lineage.enforce_sha_invariant(src)
    proc = metadata.filter_processable(metadata.with_general_metadata(valid))
    meta_raw = metadata.latest_commit_only(proc)
    docs = metadata.latest_commit_keys(proc)

    if lineage_path is not None:
        lin = lineage.read_lineage(spark, lineage_path)
        meta_raw = lineage.pending_only(meta_raw, lin, stage)
        docs = lineage.pending_only(docs, lin, stage)

    # The per-doc table, derived once: the key-only dedup (no content
    # byte shuffles) pinned as (doc_id, repo, content_sha). The partOf
    # triples, the exposed metadata and `record_done` all read it, so
    # none of them re-runs sha256, the dedup or the resume anti-join.
    docs = docs.select("doc_id", "repo", "content_sha").localCheckpoint(eager=True)

    # The exposed metadata frame is the pinned table left-joined to the
    # lazy text-analysis columns. A consumer that reads only the pinned
    # columns (record_done's `select(doc_id, content_sha).distinct()`)
    # gets the join removed by the optimizer and never scans the
    # source; one that reads text re-derives it from `meta_raw`. The
    # mention stage takes RAW content and fuses clean+preprocess into
    # its own mapInPandas (one Arrow crossing of the content bytes
    # instead of three — see detect_mentions).
    text = metadata.with_text_analysis(meta_raw).select(
        "doc_id", "path", "commit", "lang", "preproc_text"
    )
    meta = docs.join(text, "doc_id", "left").select(
        "doc_id", "repo", "path", "commit", "lang", "content_sha", "preproc_text"
    )

    ments = mentions.detect_mentions(
        meta_raw.select("doc_id", "content"), text_col="content", preprocess=True
    )
    label_map = summaries.label_classification_df(spark)
    canon = summaries.canonicalize(ments, label_map)

    aliases = linking.alias_dict_df(spark)
    linked = linking.link_mentions(canon, aliases)
    # linking feeds CC + triples; materialize ONCE — but only the
    # distinct values of the four columns those consumers read (doc_id,
    # entity_id, canonical, linked_label). Every consumer reads distinct
    # values anyway, and the full 10-column mention-level table (7.2M
    # rows at the 1M-doc bench) paid block-manager churn for columns and
    # repeats nobody downstream touches — guide §8's "materialize the
    # small decision table" applied to the pipeline spine. The exposed
    # `linked` frame keeps the full schema lazily.
    linked_slim = (
        linked.select("doc_id", "entity_id", "canonical", "linked_label")
        .distinct()
        .localCheckpoint(eager=True)
    )

    # One distinct over the big table yields the tiny entity dim shared
    # by identity canonicalization and the entity-level triples. The
    # dim is bounded by the alias dictionary, so when it fits on the
    # driver (`collect_small`: at most session.DRIVER_ROWS rows, the
    # same size gate as graph_query and connected_components) we
    # collect it ONCE and build the canonical mapping and the
    # rdf:type / tnnt:label triples there (no job and no shuffle for
    # them — at 10^12 files the per-job scheduling cost is noise, but
    # the collected dim is exactly as small, so the fast path holds at
    # every scale as long as the dictionary does). Distributed CC
    # remains the fallback for unbounded entity universes.
    dim_rows = collect_small(
        linked_slim.select("entity_id", "canonical", "linked_label").distinct()
    )
    doc_repo = docs.select("doc_id", "repo")
    if dim_rows is not None:
        canon_of = dict(
            components.canonical_entities_local(
                [(r["entity_id"], r["canonical"]) for r in dim_rows]
            )
        )
        ents = local_dim(
            spark, list(canon_of.items()), "entity_id string, canonical_id string"
        )
        ent_triples = local_dim(
            spark,
            {(canon_of[r["entity_id"]], "rdf:type", r["linked_label"]) for r in dim_rows}
            | {(canon_of[r["entity_id"]], "tnnt:label", r["canonical"]) for r in dim_rows},
            "subj string, pred string, obj string",
        )
        trip = triples.build_triples(doc_repo, linked_slim, ents, ent_triples=ent_triples)
    else:
        ent_dim = (
            linked_slim.select("entity_id", "canonical", "linked_label")
            .distinct()
            .localCheckpoint(eager=True)
        )
        ents = components.canonical_entities(
            linked_slim, ent_dim=ent_dim
        ).localCheckpoint(eager=True)
        trip = triples.build_triples(doc_repo, linked_slim, ents, ent_dim=ent_dim)

    return PipelineResult(
        source_valid=valid,
        quarantined=quarantined,
        metadata=meta,
        mentions=ments,
        canon=canon,
        linked=linked,
        entities=ents,
        triples=trip,
        summary_fine=summaries.ner_summary(ments),
        summary_totals=summaries.ner_summary_totals(ments),
        summary_by_category=summaries.summary_by_category(canon),
    )
