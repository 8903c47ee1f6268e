"""Unit tests for the corpus-composition curation operators
(curation.py: cap_per_group / token_budget_select / mixture_sample),
SemDeDup (dedup.semantic_dedup) and balanced shard assignment
(packing.assign_shards) — the properties the q89-q93 oracles can't
see: skew-hardened == plain-window equivalence on a mega-group,
quota shortfall, zero-norm safety, survivor convention, tie-breaks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mel_tnnt_spark.operators.curation import (
    cap_per_group,
    mixture_sample,
    token_budget_select,
)
from mel_tnnt_spark.operators.dedup import semantic_dedup
from mel_tnnt_spark.operators.packing import assign_shards


def _skewed_docs(spark, mega=3000, minor=17):
    """One pathological mega-group plus small groups — the per-host
    skew case the salted two-stage rank exists for."""
    rows = [(i, "mega") for i in range(mega)]
    rows += [(mega + i, f"g{i % 5}") for i in range(minor * 5)]
    return spark.createDataFrame(rows, "id long, grp string")


def test_cap_per_group_equals_plain_window_on_mega_group(spark):
    docs = _skewed_docs(spark)
    got = cap_per_group(docs, "grp", "id", cap=7, n_salts=8).select(
        "id", "grp", "rank_in_group"
    )
    w = Window.partitionBy("grp").orderBy("id")
    exp = (
        docs.withColumn("rank_in_group", F.row_number().over(w))
        .where(F.col("rank_in_group") <= 7)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    # every group capped, mega-group included
    per = {r["grp"]: r["n"] for r in got.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert per["mega"] == 7 and all(v <= 7 for v in per.values())


def test_cap_per_group_cap_exceeding_group_keeps_all(spark):
    docs = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "id long, grp string")
    got = cap_per_group(docs, "grp", "id", cap=100).collect()
    assert len(got) == 3
    with pytest.raises(ValueError):
        cap_per_group(docs, "grp", "id", cap=0)


def test_token_budget_prefix_rule_closed_form(spark):
    docs = spark.createDataFrame(
        [
            (1, "a", "w w w"),        # 3 tokens, cum 3  -> kept
            (2, "a", "w w w w"),      # 4 tokens, cum 7  -> kept
            (3, "a", "w w"),          # 2 tokens, cum 9  -> dropped (budget 8)
            (4, "a", ""),             # 0 tokens, cum 9  -> dropped (prefix rule)
            (5, "b", None),           # NULL text: 0 tokens, cum 0 -> kept
        ],
        "id long, grp string, text string",
    )
    got = {r["id"]: r for r in token_budget_select(docs, "grp", "id", "text", budget=8).collect()}
    assert [got[i]["kept"] for i in (1, 2, 3, 4, 5)] == [True, True, False, False, True]
    assert got[3]["cum_tokens"] == 9 and got[5]["n_tokens"] == 0


def test_mixture_sample_quota_shortfall_and_missing_group(spark):
    rows = [(i, "big") for i in range(50)] + [(100 + i, "tiny") for i in range(3)]
    rows += [(200 + i, "unlisted") for i in range(10)]
    docs = spark.createDataFrame(rows, "id long, grp string")
    got = mixture_sample(docs, "grp", "id", {"big": 0.5, "tiny": 0.5}, total_docs=20)
    per = {r["grp"]: r["n"] for r in got.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    # big fills its quota of 10; tiny is short (3 of 10); unlisted dropped
    assert per == {"big": 10, "tiny": 3}
    # deterministic across runs (md5 order, no RNG)
    again = mixture_sample(docs, "grp", "id", {"big": 0.5, "tiny": 0.5}, total_docs=20)
    assert sorted(r["id"] for r in got.collect()) == sorted(r["id"] for r in again.collect())


def test_mixture_sample_equals_plain_window_on_skew(spark):
    docs = _skewed_docs(spark, mega=2000, minor=10)
    shares = {"mega": 0.6, "g0": 0.2, "g3": 0.2}
    got = mixture_sample(docs, "grp", "id", shares, total_docs=50, n_salts=4)
    quotas = {g: int(s * 50 + 0.5) for g, s in shares.items()}
    qdf = spark.createDataFrame(list(quotas.items()), "grp string, quota long")
    w = Window.partitionBy("grp").orderBy(F.md5(F.col("id").cast("string")), "id")
    exp = (
        docs.join(qdf, "grp")
        .withColumn("rank_in_group", F.row_number().over(w))
        .where(F.col("rank_in_group") <= F.col("quota"))
        .select("id", "grp", "rank_in_group", "quota")
    )
    assert sorted(map(tuple, got.select("id", "grp", "rank_in_group", "quota").collect())) == \
        sorted(map(tuple, exp.collect()))


def test_semantic_dedup_keep_lowest_id_zero_norm_safe(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.001]),   # near-dup of 0 -> dropped (0 survives)
            (2, [-1.0, 0.0]),    # opposite: cosine -1, kept
            (3, [0.0, 0.0]),     # zero-norm: NULL cosine, never dropped
            (4, [1.0, 0.0]),     # exact dup of 0 -> dropped
        ],
        "vec_id long, embedding array<float>",
    )
    got = {r["id"]: r["keep"] for r in
           semantic_dedup(emb, "vec_id", "embedding", n_clusters=1,
                          threshold=0.9, pivots=[[1.0, 0.0]]).collect()}
    assert got == {0: True, 1: False, 2: True, 3: True, 4: False}


def test_semantic_dedup_ragged_dimensions_exact(spark):
    """Round-7 pair-stage restriction to size(v) == pivot-dim rows,
    justified by: a ragged v null-pads every centroid distance, so its
    assigned centroid is NULL and the centroid-equality pair join can
    never match it (this was already the pre-round-7 behavior — the
    cluster id IS the candidate structure). Pins that ragged rows are
    (a) never dropped, (b) never drop others, (c) still present in
    the output with a NULL cluster_id, while conforming near-dups
    still drop through the codegen dot path."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),          # conforming (pivot dim 2)
            (1, [1.0, 0.001]),        # conforming near-dup of 0 -> dropped
            (2, [1.0, 0.0, 0.0]),     # ragged len-3: NULL centroid
            (3, [1.0, 0.001, 0.0]),   # ragged len-3: NULL centroid
            (4, [5.0]),               # ragged len-1: NULL centroid
        ],
        "vec_id long, embedding array<float>",
    )
    rows = semantic_dedup(emb, "vec_id", "embedding", n_clusters=1,
                          threshold=0.9, pivots=[[1.0, 0.0]]).collect()
    got = {r["id"]: r["keep"] for r in rows}
    assert got == {0: True, 1: False, 2: True, 3: True, 4: True}
    clusters = {r["id"]: r["cluster_id"] for r in rows}
    assert clusters[0] == 0 and clusters[1] == 0
    assert clusters[2] is None and clusters[3] is None and clusters[4] is None


def test_semantic_dedup_empty_input_and_default_pivots(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semantic_dedup(empty, "vec_id", "embedding").count() == 0
    # default pivots derive from the n_clusters smallest ids
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], "vec_id long, embedding array<float>"
    )
    out = semantic_dedup(emb, "vec_id", "embedding", n_clusters=2, threshold=1.1)
    # threshold > 1: nothing ever dropped, every row assigned a cluster
    rows = out.collect()
    assert len(rows) == 6 and all(r["keep"] for r in rows)
    assert {r["cluster_id"] for r in rows} <= {0, 1}


def test_assign_shards_equals_plain_global_rank_with_ties(spark):
    import random

    rng = random.Random(7)
    docs = spark.createDataFrame(
        [(i, "w " * rng.randint(0, 12)) for i in range(500)],
        "id long, text string",
    )
    got = assign_shards(docs, "id", "text", n_shards=8, n_buckets=16)
    n_tok = F.size(
        F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                 lambda t: t != F.lit(""))
    ).cast("long")
    exp = (
        docs.select("id", n_tok.alias("n_tokens"))
        .withColumn("global_rank",
                    F.row_number().over(Window.orderBy(F.desc("n_tokens"), F.asc("id"))))
        .select("id", "n_tokens", "global_rank",
                F.pmod(F.col("global_rank") - 1, F.lit(8)).alias("shard"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    # round-robin: shard doc counts differ by at most 1
    per = [r["n"] for r in got.groupBy("shard").agg(F.count("*").alias("n")).collect()]
    assert len(per) == 8 and max(per) - min(per) <= 1


def test_assign_shards_validation(spark):
    docs = spark.createDataFrame([(1, "a b")], "id long, text string")
    with pytest.raises(ValueError):
        assign_shards(docs, "id", "text", n_shards=0)


def test_maintain_pack_layout_chained_equals_scratch_and_replay(spark, tmp_path):
    import os

    from mel_tnnt_spark.operators.packing import maintain_pack_layout, pack_sequences
    from mel_tnnt_spark.state import read_json

    batches = [
        [(1, "a b c"), (2, "d e")],
        [(10, "f g h i j"), (11, "")],
        [(20, "k l m n o p q r s t u v")],
    ]
    state = str(tmp_path / "pstate")
    chained = []
    for rows in batches:
        b = spark.createDataFrame(rows, "id long, text string")
        chained += [tuple(r) for r in
                    maintain_pack_layout(spark, state, b, "id", "text", capacity=4).collect()]
    scratch = [tuple(r) for r in pack_sequences(
        spark.createDataFrame([r for bb in batches for r in bb], "id long, text string"),
        "id", "text", capacity=4,
    ).collect()]
    assert sorted(chained) == sorted(scratch)
    total_before = read_json(os.path.join(state, "_state.json"))["total"]
    assert total_before == sum(
        len(t.split()) for _, t in (r for bb in batches for r in bb)
    )
    # replay batch 2: identical rows, total unchanged
    b2 = spark.createDataFrame(batches[1], "id long, text string")
    replayed = [tuple(r) for r in
                maintain_pack_layout(spark, state, b2, "id", "text", capacity=4).collect()]
    orig_b2 = [c for c in chained if c[0] in (10, 11)]
    assert sorted(replayed) == sorted(orig_b2)
    assert read_json(os.path.join(state, "_state.json"))["total"] == total_before


def test_stream_pack_layout_equals_scratch_and_restart_noop(spark, tmp_path):
    """Streaming packing layout: micro-batched doc arrivals laid out
    against the persisted offset state equal pack_sequences on the
    concatenated corpus (ids ordered with arrival; one file per
    trigger), and a restart over the same source re-applies nothing."""
    import os

    from mel_tnnt_spark.operators.packing import maintain_pack_layout, pack_sequences
    from mel_tnnt_spark.streaming.incremental import read_stream_output, stream_maintain

    batches = [
        [(1, "a b c d e"), (2, "f g")],
        [(10, "h i j k l m n"), (11, None)],
        [(20, "o p q")],
    ]
    src = str(tmp_path / "psrc")
    for rows in batches:
        spark.createDataFrame(rows, "id bigint, text string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state = str(tmp_path / "pstate2")
    out_path = str(tmp_path / "pout")

    def go():
        stream = (
            spark.readStream.schema("id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_maintain(
            stream,
            lambda df, _txn: maintain_pack_layout(
                df.sparkSession, state, df, "id", "text", capacity=4
            ),
            str(tmp_path / "pckpt"),
            out_path,
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    go()
    got = sorted(tuple(r) for r in read_stream_output(spark, out_path).collect())
    scratch = sorted(tuple(r) for r in pack_sequences(
        spark.createDataFrame([r for bb in batches for r in bb], "id bigint, text string"),
        "id", "text", capacity=4,
    ).collect())
    assert got == scratch

    before = {
        d: sorted(os.listdir(os.path.join(out_path, d)))
        for d in os.listdir(out_path)
    }
    go()  # restart: checkpoint -> no-op
    after = {
        d: sorted(os.listdir(os.path.join(out_path, d)))
        for d in os.listdir(out_path)
    }
    assert after == before


def test_lm_bigram_scores_closed_form(spark):
    from math import log

    from mel_tnnt_spark.operators.textstats import lm_bigram_scores

    # corpus bigrams: "a b" x2 (docs 1, 2), "b a" x1 (doc 2)
    # ctx(a)=2, ctx(b)=1, V = |{b, a}| = 2, k=1:
    #   P(b|a) = (2+1)/(2+2) = 0.75 ; P(a|b) = (1+1)/(1+2) = 2/3
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b a"), (3, "solo"), (4, None)],
        "id long, text string",
    )
    got = {r["id"]: r for r in lm_bigram_scores(docs, "id", "text").collect()}
    assert got[1]["n_bigrams"] == 1
    assert abs(got[1]["avg_logprob"] - round(log(0.75), 6)) < 1e-9
    assert got[2]["n_bigrams"] == 2
    assert abs(got[2]["avg_logprob"] - round((log(0.75) + log(2 / 3)) / 2, 6)) < 1e-9
    assert got[3]["n_bigrams"] == 0 and got[3]["avg_logprob"] is None
    assert got[4]["n_bigrams"] == 0 and got[4]["avg_logprob"] is None


def test_lm_bigram_scores_hot_cold_split_equals_unsplit(spark):
    import random

    from mel_tnnt_spark.operators.textstats import lm_bigram_scores

    rng = random.Random(11)
    vocab = "the of a to spark query join data".split()
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, k=rng.randint(0, 25)))) for i in range(300)],
        "id long, text string",
    )
    plain = sorted(map(tuple, lm_bigram_scores(docs, "id", "text").collect()))
    for hot_df in (1, 5, 10**9):  # all-hot, mixed, all-cold
        split = sorted(map(tuple, lm_bigram_scores(docs, "id", "text", hot_df=hot_df).collect()))
        assert split == plain, f"hot_df={hot_df} diverges from unsplit"


def test_weighted_sample_properties(spark):
    from mel_tnnt_spark.operators.sampling import weighted_sample

    docs = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (3, None), (4, 0.0), (5, -2.0), (6, 100.0)],
        "id long, w double",
    )
    # k >= n: every positive-weight row, never null/zero/negative
    all_pos = weighted_sample(docs, "id", "w", k=100)
    assert sorted(r["id"] for r in all_pos.collect()) == [1, 2, 6]
    assert weighted_sample(docs, "id", "w", k=0).count() == 0
    with pytest.raises(ValueError):
        weighted_sample(docs, "id", "w", k=-1)
    # scale invariance: multiplying all weights by a constant keeps
    # the SAMPLE (keys rescale by 1/c, order preserved)
    big = spark.createDataFrame(
        [(i, float((i * 37) % 11 + 1)) for i in range(400)], "id long, w double"
    )
    s1 = sorted(r["id"] for r in weighted_sample(big, "id", "w", k=50).collect())
    scaled = big.withColumn("w", F.col("w") * 1000.0)
    s2 = sorted(r["id"] for r in weighted_sample(scaled, "id", "w", k=50).collect())
    assert s1 == s2
    # partitioning invariance
    s3 = sorted(r["id"] for r in weighted_sample(big.repartition(13), "id", "w", k=50).collect())
    assert s1 == s3
    # weight-proportionality sanity: the heaviest-weight stratum is
    # overrepresented relative to its population share
    strat = spark.createDataFrame(
        [(i, 100.0 if i % 10 == 0 else 1.0) for i in range(1000)], "id long, w double"
    )
    got = weighted_sample(strat, "id", "w", k=100).collect()
    heavy = sum(1 for r in got if r["id"] % 10 == 0)
    assert heavy > 30  # 10% of the population, >30% of the sample


def test_epoch_mixture_integer_epoch_math(spark):
    from mel_tnnt_spark.operators.curation import epoch_mixture

    # group "a": 3 docs x 4 tokens = 12 dom tokens, target 30
    #   -> repeats = 2 (epochs 0,1 for all), rem = 6 -> fractional
    #      epoch 2 holds the first md5-ordered docs while cum <= 6
    # group "b": dom 5, target 3 -> repeats 0, rem 3 -> only a
    #      fractional epoch 0 (docs while cum <= 3)
    # group "z": zero tokens -> dropped; group "c": not targeted
    docs = spark.createDataFrame(
        [(1, "a", "w w w w"), (2, "a", "w w w w"), (3, "a", "w w w w"),
         (10, "b", "w w w w w"), (11, "b", ""),
         (20, "z", ""), (30, "c", "w w")],
        "id long, grp string, text string",
    )
    got = epoch_mixture(docs, "grp", "id", "text", {"a": 30, "b": 3, "z": 9})
    rows = got.collect()
    a_full = [(r["id"], r["epoch"]) for r in rows if r["grp"] == "a" and r["epoch"] < 2]
    assert sorted(a_full) == [(1, 0), (1, 1), (2, 0), (2, 1), (3, 0), (3, 1)]
    a_frac = [r for r in rows if r["grp"] == "a" and r["epoch"] == 2]
    assert len(a_frac) == 1 and a_frac[0]["n_tokens"] == 4  # 4 <= 6 < 8
    # b: no full epochs; rem 3 < 5 so only the md5-first doc IF it is
    # the empty one (0 tokens <= 3); doc 10 (5 tokens) can only appear
    # if ordered first AND 5 <= 3 — never
    b_rows = [(r["id"], r["epoch"]) for r in rows if r["grp"] == "b"]
    assert all(e == 0 for _, e in b_rows) and (10, 0) not in b_rows
    assert not [r for r in rows if r["grp"] in ("z", "c")]
    # token accounting: emitted tokens per group == repeats*dom + spent rem
    a_tok = sum(r["n_tokens"] for r in rows if r["grp"] == "a")
    assert a_tok == 2 * 12 + 4


def test_maintain_domain_caps_chained_replay_and_bounded_state(spark, tmp_path):
    import os

    from mel_tnnt_spark.operators.curation import cap_per_group, maintain_domain_caps

    state = str(tmp_path / "capstate")
    batches = [
        [(1, "a"), (2, "a"), (3, "b")],
        [(10, "a"), (11, "a"), (12, "b")],
        [(20, "a"), (21, "b"), (22, "c")],
    ]
    decisions = {}
    for rows in batches:
        b = spark.createDataFrame(rows, "id long, grp string")
        out = maintain_domain_caps(spark, state, b, "grp", "id", cap=3).collect()
        decisions.update({r["id"]: r["accepted"] for r in out})
    union = spark.createDataFrame(
        [r for bb in batches for r in bb], "id long, grp string"
    )
    scratch_kept = {r["id"] for r in cap_per_group(union, "grp", "id", cap=3).collect()}
    assert {i for i, a in decisions.items() if a} == scratch_kept
    # a: 1,2,10 accepted (11, 20 over cap); b: all 3; c: 22
    assert decisions[11] is False and decisions[20] is False
    # bounded state: the log never exceeds n_groups * cap rows
    log = spark.read.parquet(str(tmp_path / "capstate" / "accepted" / "batch=*"))
    assert log.count() == len(scratch_kept) <= 3 * 3
    # replay batch 2: identical decisions, log unchanged
    b2 = spark.createDataFrame(batches[1], "id long, grp string")
    replayed = {r["id"]: r["accepted"]
                for r in maintain_domain_caps(spark, state, b2, "grp", "id", cap=3).collect()}
    assert replayed == {i: decisions[i] for i in (10, 11, 12)}
    assert spark.read.parquet(str(tmp_path / "capstate" / "accepted" / "batch=*")).count() == len(scratch_kept)
    with pytest.raises(ValueError):
        maintain_domain_caps(spark, state, b2, "grp", "id", cap=0)


def test_stream_domain_caps_equals_scratch_and_restart_noop(spark, tmp_path):
    import os

    from mel_tnnt_spark.operators.curation import cap_per_group, maintain_domain_caps
    from mel_tnnt_spark.streaming.incremental import read_stream_output, stream_maintain

    batches = [
        [(1, "web"), (2, "web"), (3, "wiki")],
        [(10, "web"), (11, "wiki"), (12, "wiki")],
        [(20, "web"), (21, "wiki"), (22, "code")],
    ]
    src = str(tmp_path / "capsrc")
    for rows in batches:
        spark.createDataFrame(rows, "id bigint, source string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state = str(tmp_path / "capstate2")
    out_path = str(tmp_path / "capout")

    def go():
        stream = (
            spark.readStream.schema("id bigint, source string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_maintain(
            stream,
            lambda df, _txn: maintain_domain_caps(
                df.sparkSession, state, df, "source", "id", cap=2
            ),
            str(tmp_path / "capckpt"),
            out_path,
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    go()
    got = {
        r["id"]: r["accepted"]
        for r in read_stream_output(spark, out_path).collect()
    }
    union = spark.createDataFrame(
        [r for bb in batches for r in bb], "id bigint, source string"
    )
    scratch = {r["id"] for r in cap_per_group(union, "source", "id", cap=2).collect()}
    assert {i for i, a in got.items() if a} == scratch and len(got) == 9

    before = {
        d: sorted(os.listdir(os.path.join(out_path, d)))
        for d in os.listdir(out_path)
    }
    go()
    after = {
        d: sorted(os.listdir(os.path.join(out_path, d)))
        for d in os.listdir(out_path)
    }
    assert after == before


def test_top_fraction_equals_plain_global_rank(spark):
    import random

    from mel_tnnt_spark.operators.curation import top_fraction

    rng = random.Random(3)
    rows = [(i, rng.uniform(-5, 5) if i % 7 else None) for i in range(400)]
    docs = spark.createDataFrame(rows, "id long, score double")
    got = top_fraction(docs, "score", "id", fraction=0.3, n_buckets=16)
    w = Window.orderBy(F.desc("score"), F.asc("id"))
    exp = (
        docs.withColumn("global_rank", F.row_number().over(w))
        .withColumn("cutoff", F.lit(120))
        .where(F.col("global_rank") <= 120)
    )
    assert sorted(map(tuple, got.select("id", "score", "global_rank", "cutoff").collect())) == \
        sorted(map(tuple, exp.select("id", "score", "global_rank", "cutoff").collect()))
    # degenerate corpora: all-equal scores, all-null scores, tiny n
    same = spark.createDataFrame([(i, 1.0) for i in range(10)], "id long, score double")
    assert sorted(r["id"] for r in top_fraction(same, "score", "id", 0.5).collect()) == list(range(5))
    nulls = spark.createDataFrame([(i, None) for i in range(4)], "id long, score double")
    assert sorted(r["id"] for r in top_fraction(nulls, "score", "id", 0.5).collect()) == [0, 1]
    assert top_fraction(same, "score", "id", 0.0).count() == 0
    with pytest.raises(ValueError):
        top_fraction(same, "score", "id", 1.5)


def test_profile_columns_one_pass_stats(spark):
    from mel_tnnt_spark.operators.metadata import profile_columns

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 1.5), (3, None, 2.5), (4, "b", None)],
        "id long, s string, v double",
    )
    got = {r["column"]: r for r in profile_columns(df).collect()}
    assert set(got) == {"id", "s", "v"}
    assert all(r["n_rows"] == 4 for r in got.values())
    assert (got["s"]["n_nulls"], got["s"]["n_distinct"]) == (1, 2)
    assert (got["v"]["n_nulls"], got["v"]["n_distinct"]) == (2, 2)
    assert got["id"]["min_repr"] == "1" and got["id"]["max_repr"] == "4"
    assert got["v"]["min_repr"] == "1.5" and got["v"]["max_repr"] == "2.5"
    # column subset
    sub = profile_columns(df, ["id"]).collect()
    assert len(sub) == 1 and sub[0]["column"] == "id"


def test_maintain_weighted_sample_chained_equals_scratch_any_order(spark, tmp_path):
    import random

    from mel_tnnt_spark.operators.sampling import (
        maintain_weighted_sample,
        weighted_sample,
    )

    rng = random.Random(5)
    rows = [(i, float((i * 13) % 9 + 1)) for i in range(300)]
    rng.shuffle(rows)  # NO id-order caveat: A-ES top-k is mergeable
    slices = [rows[:100], rows[100:220], rows[220:]]
    state = str(tmp_path / "wstate")
    out = None
    for sl in slices:
        b = spark.createDataFrame(sl, "id long, w double")
        out = maintain_weighted_sample(spark, state, b, "id", "w", k=40)
    scratch = weighted_sample(
        spark.createDataFrame(rows, "id long, w double"), "id", "w", k=40
    ).select("id", F.col("w"), "es_key")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, scratch.collect()))
    # replay the middle batch: reservoir unchanged
    b2 = spark.createDataFrame(slices[1], "id long, w double")
    replayed = maintain_weighted_sample(spark, state, b2, "id", "w", k=40)
    assert sorted(map(tuple, replayed.collect())) == sorted(map(tuple, out.collect()))
    # state bounded at k rows, old versions pruned
    import os

    vdirs = sorted(os.listdir(state))
    vdirs = [d for d in vdirs if d.startswith("v=")]
    assert len(vdirs) <= 2  # latest + one crash-safety predecessor
    assert spark.read.parquet(os.path.join(state, vdirs[-1])).count() <= 40


def test_exact_quantiles_matches_sorted_reference(spark):
    import math
    import random

    from mel_tnnt_spark.operators.metadata import exact_quantiles

    rng = random.Random(3)
    vals = [rng.uniform(-10, 10) for _ in range(997)] + [None] * 3
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    qs = [0.0, 0.1, 0.5, 0.9, 0.99, 1.0]
    got = {
        r["q"]: (r["rank"], r["value"])
        for r in exact_quantiles(df, "x", qs, n_buckets=32).collect()
    }
    s = sorted(v for v in vals if v is not None)
    want = {
        q: (math.floor(q * (len(s) - 1)) + 1, s[math.floor(q * (len(s) - 1))])
        for q in qs
    }
    assert got == want
    # degenerate: all-equal column (single bucket), invalid quantile
    same = spark.createDataFrame([(1.5,)] * 10, "x double")
    assert {
        r["q"]: r["value"] for r in exact_quantiles(same, "x", [0.5]).collect()
    } == {0.5: 1.5}
    with pytest.raises(ValueError):
        exact_quantiles(df, "x", [1.5])
    with pytest.raises(ValueError):
        exact_quantiles(df, "x", [])


def test_exact_quantiles_map_column_matches_sorted_reference(spark):
    """A map column (top-level or nested in a struct) is left out of the
    tie-split hash instead of failing analysis with HASH_MAP_TYPE."""
    import math

    from mel_tnnt_spark.operators.metadata import exact_quantiles

    df = spark.range(100).select(
        (F.col("id") % 5).cast("double").alias("x"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.create_map(F.col("id"), F.lit("v")).alias("m")).alias("s"),
        F.col("id"),
    )
    qs = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {
        r["q"]: (r["rank"], r["value"])
        for r in exact_quantiles(df, "x", qs, n_buckets=4).collect()
    }
    s = sorted(float(i % 5) for i in range(100))
    want = {
        q: (math.floor(q * (len(s) - 1)) + 1, s[math.floor(q * (len(s) - 1))])
        for q in qs
    }
    assert got == want


def test_contrastive_triplets_deterministic_reference(spark):
    import hashlib

    from mel_tnnt_spark.operators.sampling import contrastive_triplets

    rows = [(i, ["en", "fr", "de"][i % 3]) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, lang string")
    got = {
        r["anchor_id"]: (r["positive_id"], r["negative_id"])
        for r in contrastive_triplets(df, "id", "lang").collect()
    }
    ids = sorted(i for i, _ in rows)
    grp = dict(rows)
    want = {}
    for g in ("en", "fr", "de"):
        members = [i for i in ids if grp[i] == g]
        for prev, cur in zip(members, members[1:]):
            h = int(
                hashlib.md5(f"neg|{cur}".encode()).hexdigest()[:15], 16
            )
            neg = None
            for off in range(3):
                cand = ids[(h + off) % len(ids)]
                if grp[cand] != g:
                    neg = cand
                    break
            want[cur] = (prev, neg)
    assert got == want
    # all-one-group corpus: negatives are NULL, triplets still emitted
    one = spark.createDataFrame([(i, "en") for i in range(5)], "id long, lang string")
    g2 = contrastive_triplets(one, "id", "lang").collect()
    assert len(g2) == 4 and all(r["negative_id"] is None for r in g2)


def test_top_fraction_adaptive_tie_split_equals_plain_window(spark):
    """Tie-skew hardening: with only 3 distinct scores (plus a
    null-mixed low bucket), the mega-tie buckets sub-bucket by id
    range — result must equal the plain global window exactly."""
    from pyspark.sql import Window

    from mel_tnnt_spark.operators.curation import top_fraction

    rows = [(i, float(i % 3)) for i in range(3000)]
    rows += [(i, None) for i in range(3000, 3060)]  # nulls share bucket 0
    docs = spark.createDataFrame(rows, "id long, score double")
    got = top_fraction(docs, "score", "id", fraction=0.4, n_buckets=8)
    w = Window.orderBy(F.desc("score"), F.asc("id"))
    cut = int(0.4 * len(rows))
    exp = (
        docs.withColumn("global_rank", F.row_number().over(w))
        .withColumn("cutoff", F.lit(cut).cast("long"))
        .where(F.col("global_rank") <= cut)
    )
    assert sorted(
        map(tuple, got.select("id", "score", "global_rank", "cutoff").collect())
    ) == sorted(
        map(tuple, exp.select("id", "score", "global_rank", "cutoff").collect())
    )
    # the split actually engages: a single-score corpus ranks across
    # multiple (_b, _b2) partitions — verified behaviorally (string
    # ids disable the split and must still be exact)
    sdocs = spark.createDataFrame(
        [(f"d{i:04d}", 1.0) for i in range(200)], "id string, score double"
    )
    got_s = sorted(
        r["id"] for r in top_fraction(sdocs, "score", "id", 0.5).collect()
    )
    assert got_s == [f"d{i:04d}" for i in range(100)]
