"""Graph-query operator tests: BGP matching, transitive closure,
micro-integer PageRank, degree-ordered triangle counting — each pinned
against an independent closed-form or brute-force computation."""

from __future__ import annotations

import inspect
import itertools
import random

import pytest
from pyspark.sql import functions as F

from mel_tnnt_spark import session
from mel_tnnt_spark.operators.graph_query import (
    bgp_match,
    maintain_transitive_closure,
    pagerank_micro,
    reachability_pairs,
    shortest_paths,
    transitive_closure,
    triangle_count,
)


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("order:1", "placedBy", "cust:10"),
        ("order:2", "placedBy", "cust:11"),
        ("order:3", "placedBy", "cust:10"),
        ("cust:10", "inNation", "nation:1"),
        ("cust:11", "inNation", "nation:2"),
        ("supp:20", "inNation", "nation:1"),
        ("supp:21", "inNation", "nation:2"),
        ("order:1", "suppliedBy", "supp:20"),
        ("order:1", "suppliedBy", "supp:21"),
        ("order:2", "suppliedBy", "supp:20"),
        ("order:3", "suppliedBy", "supp:20"),
        ("loop:x", "selfPred", "loop:x"),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_bgp_single_pattern_literal_filter(triples):
    got = bgp_match(triples, [("?o", "placedBy", "cust:10")])
    assert sorted(r["o"] for r in got.collect()) == ["order:1", "order:3"]


def test_bgp_local_supplier_cycle(triples):
    # order placed by a customer in the same nation as a supplier of it
    got = bgp_match(
        triples,
        [
            ("?o", "placedBy", "?c"),
            ("?c", "inNation", "?n"),
            ("?o", "suppliedBy", "?s"),
            ("?s", "inNation", "?n"),
        ],
    )
    rows = {(r["o"], r["c"], r["s"], r["n"]) for r in got.collect()}
    # order:2's customer is in nation:2 but its only supplier is in
    # nation:1 — the cycle pattern correctly excludes it
    assert rows == {
        ("order:1", "cust:10", "supp:20", "nation:1"),
        ("order:3", "cust:10", "supp:20", "nation:1"),
    }


def test_bgp_repeated_variable_within_pattern(triples):
    got = bgp_match(triples, [("?x", "selfPred", "?x")])
    assert [r["x"] for r in got.collect()] == ["loop:x"]


def test_bgp_bag_semantics_duplicates_preserved(spark):
    t = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "b")], "subj string, pred string, obj string"
    )
    assert bgp_match(t, [("?s", "p", "?o")]).count() == 2


def test_bgp_connected_via_later_leg(spark):
    """Round-6 advice: a BGP connected only THROUGH a later leg must
    not be rejected. [(?a,knows,?b), (alice,knows,?a), (?b,worksAt,acme)]
    sorted purely by literal count put the two 1-literal legs first
    ({a} then {b}, no shared variable) and errored; the greedy
    connected ordering now routes through the 0-literal leg."""
    rows = [
        ("alice", "knows", "bob"),
        ("bob", "knows", "carol"),
        ("carol", "worksAt", "acme"),
        ("bob", "worksAt", "initech"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = bgp_match(
        t,
        [
            ("?a", "knows", "?b"),
            ("alice", "knows", "?a"),
            ("?b", "worksAt", "acme"),
        ],
    )
    assert {(r["a"], r["b"]) for r in got.collect()} == {("bob", "carol")}


def test_bgp_property_path_cyclic_predicate(spark):
    """Round-6 advice: 'p+' must be cycle-safe (SPARQL one-or-more is
    set-semantics reachability, well-defined on cycles). A sameAs
    2-cycle previously made the depth-tracking closure raise."""
    rows = [
        ("x", "sameAs", "y"),
        ("y", "sameAs", "x"),
        ("y", "sameAs", "z"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {
        (r["s"], r["t"])
        for r in bgp_match(t, [("?s", "sameAs+", "?t")]).collect()
    }
    assert got == {
        ("x", "y"), ("x", "z"), ("x", "x"),
        ("y", "x"), ("y", "z"), ("y", "y"),
    }


def test_bgp_errors(triples):
    with pytest.raises(ValueError, match="disconnected"):
        bgp_match(
            triples,
            [("?o", "placedBy", "?c"), ("?s", "inNation", "?n")],
        )
    with pytest.raises(ValueError, match="binds no variable"):
        bgp_match(triples, [("order:1", "placedBy", "cust:10")])
    with pytest.raises(ValueError, match="at least one"):
        bgp_match(triples, [])


def test_transitive_closure_chain_depth_exact(spark):
    # 0 <- 1 <- 2 <- ... <- 20 (child -> parent), depth d exact
    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 21)], "child long, parent long"
    )
    got = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in transitive_closure(edges, "child", "parent").collect()
    }
    want = {(i, j): i - j for i in range(1, 21) for j in range(i)}
    assert got == want


def test_transitive_closure_ternary_tree(spark):
    # parent(i) = (i - 1) // 3 over 0..80
    edges = spark.createDataFrame(
        [(i, (i - 1) // 3) for i in range(1, 81)], "child long, parent long"
    )
    got = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in transitive_closure(edges, "child", "parent").collect()
    }

    def ancestors(i):
        d = 0
        while i > 0:
            i = (i - 1) // 3
            d += 1
            yield i, d

    want = {(i, a): d for i in range(1, 81) for a, d in ancestors(i)}
    assert got == want


def test_transitive_closure_cycle_raises(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="cyclic|max_depth"):
        transitive_closure(edges, "child", "parent", max_depth=64)


def _pagerank_ref(edge_list, iterations):
    """Independent integer-math reference implementation."""
    MICRO = 10**12
    edges = sorted(set(edge_list))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    outdeg = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    rank = {n: MICRO for n in nodes}
    for _ in range(iterations):
        inflow = {n: 0 for n in nodes}
        for a, b in edges:
            inflow[b] += rank[a] // outdeg[a]
        rank = {n: MICRO * 3 // 20 + inflow[n] * 17 // 20 for n in nodes}
    return rank


def test_pagerank_micro_matches_integer_reference(spark):
    rng = random.Random(7)
    edge_list = [
        (f"n{rng.randint(0, 29)}", f"n{rng.randint(0, 29)}") for _ in range(120)
    ]
    edge_list = [(a, b) for a, b in edge_list if a != b]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(edges, "src", "dst", iterations=4).collect()
    }
    assert got == _pagerank_ref(edge_list, 4)


def test_pagerank_micro_dangling_and_zero_iters(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    r0 = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(edges, "src", "dst", iterations=0).collect()
    }
    assert r0 == {"a": 10**12, "b": 10**12, "c": 10**12}
    r1 = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(edges, "src", "dst", iterations=1).collect()
    }
    # c is dangling (no out-edges): it receives but never emits
    assert r1 == _pagerank_ref([("a", "b"), ("b", "c")], 1)
    assert r1["a"] == 10**12 * 3 // 20  # no inbound
    with pytest.raises(ValueError):
        pagerank_micro(edges, "src", "dst", iterations=-1)


def _triangles_brute(edge_list):
    nodes = sorted({a for a, _ in edge_list} | {b for _, b in edge_list})
    es = {frozenset((a, b)) for a, b in edge_list if a != b}
    per_node = {}
    for u, v, w in itertools.combinations(nodes, 3):
        if (
            frozenset((u, v)) in es
            and frozenset((u, w)) in es
            and frozenset((v, w)) in es
        ):
            for n in (u, v, w):
                per_node[n] = per_node.get(n, 0) + 1
    return per_node


def test_triangle_count_matches_brute_force(spark):
    rng = random.Random(11)
    edge_list = [
        (f"v{rng.randint(0, 39)}", f"v{rng.randint(0, 39)}") for _ in range(260)
    ]
    # include reversed duplicates and self-loops: operator must clean
    edge_list += [(b, a) for a, b in edge_list[:40]] + [("v1", "v1")]
    edges = spark.createDataFrame(edge_list, "a string, b string")
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_count(edges, "a", "b").collect()
    }
    assert got == _triangles_brute(edge_list)
    assert got, "fixture graph should contain at least one triangle"


def test_triangle_count_star_has_none_k4_has_all(spark):
    star = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(50)], "a string, b string"
    )
    assert triangle_count(star, "a", "b").count() == 0
    k4 = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(["p", "q", "r", "s"], 2)],
        "a string, b string",
    )
    got = {
        r["node"]: r["n_triangles"] for r in triangle_count(k4, "a", "b").collect()
    }
    assert got == {"p": 3, "q": 3, "r": 3, "s": 3}


def _closure_ref(edge_list):
    """Brute-force (node, ancestor, depth) triples by path enumeration
    (acyclic inputs only)."""
    from collections import defaultdict

    out = defaultdict(set)
    adj = defaultdict(set)
    for a, b in set(edge_list):
        adj[a].add(b)
    triples = set()
    frontier = {(a, b, 1) for a, bs in adj.items() for b in bs}
    while frontier:
        triples |= frontier
        nxt = set()
        for n, anc, d in frontier:
            for b in adj[anc]:
                t = (n, b, d + 1)
                if t not in triples:
                    nxt.add(t)
        frontier = nxt - triples
    return triples


def test_maintain_closure_chained_equals_scratch_any_order(spark, tmp_path):
    rng = random.Random(19)
    # ternary tree + extra skip edges => DAG with multi-depth pairs
    edge_list = [(i, (i - 1) // 3) for i in range(1, 60)]
    edge_list += [(i, (i - 1) // 9) for i in range(10, 60, 7)]
    rng.shuffle(edge_list)  # arrival order is arbitrary
    slices = [edge_list[:20], edge_list[20:45], edge_list[45:]]
    state = str(tmp_path / "closure")
    from mel_tnnt_spark.operators.graph_query import maintain_transitive_closure

    out = None
    for sl in slices:
        b = spark.createDataFrame(sl, "child long, parent long")
        out = maintain_transitive_closure(spark, state, b, "child", "parent")
    got = {(r["node"], r["ancestor"], r["depth"]) for r in out.collect()}
    assert got == _closure_ref(edge_list)
    # and equals the from-scratch batch operator
    full = spark.createDataFrame(edge_list, "child long, parent long")
    scratch = {
        (r["node"], r["ancestor"], r["depth"])
        for r in transitive_closure(full, "child", "parent").collect()
    }
    assert got == scratch
    # replay the middle batch: closure unchanged AND nothing written
    # (empty delta -> no new seg — the no-op is the idempotency)
    import os

    from mel_tnnt_spark.operators.graph_query import read_transitive_closure

    before_dirs = sorted(os.listdir(state))
    b2 = spark.createDataFrame(slices[1], "child long, parent long")
    replayed = maintain_transitive_closure(spark, state, b2, "child", "parent")
    got2 = {(r["node"], r["ancestor"], r["depth"]) for r in replayed.collect()}
    assert got2 == got
    assert sorted(os.listdir(state)) == before_dirs
    # the persisted LSM view reads back the same closure
    persisted = {
        (r["node"], r["ancestor"], r["depth"])
        for r in read_transitive_closure(spark, state).collect()
    }
    assert persisted == got


def test_maintain_closure_multi_depth_pair_kept(spark, tmp_path):
    # a->b then (b->c, a->c) in a second batch: pair (a, c) is
    # reachable at depth 1 AND 2 — both triples must survive the fold
    from mel_tnnt_spark.operators.graph_query import maintain_transitive_closure

    state = str(tmp_path / "dag")
    b1 = spark.createDataFrame([("a", "b")], "child string, parent string")
    maintain_transitive_closure(spark, state, b1, "child", "parent")
    b2 = spark.createDataFrame(
        [("b", "c"), ("a", "c")], "child string, parent string"
    )
    out = maintain_transitive_closure(spark, state, b2, "child", "parent")
    got = {(r["node"], r["ancestor"], r["depth"]) for r in out.collect()}
    assert got == {("a", "b", 1), ("b", "c", 1), ("a", "c", 1), ("a", "c", 2)}


def test_maintain_closure_cycle_raises(spark, tmp_path):
    from mel_tnnt_spark.operators.graph_query import maintain_transitive_closure

    state = str(tmp_path / "cyc")
    b1 = spark.createDataFrame([(0, 1), (1, 2)], "child long, parent long")
    maintain_transitive_closure(spark, state, b1, "child", "parent")
    b2 = spark.createDataFrame([(2, 0)], "child long, parent long")
    with pytest.raises(ValueError, match="cyclic|max_depth"):
        maintain_transitive_closure(
            spark, state, b2, "child", "parent", max_depth=32
        )


def _walks_ref(edge_list, walk_length):
    import hashlib
    from collections import defaultdict

    adj = defaultdict(list)
    for a, b in sorted(set(edge_list)):
        adj[a].append(b)
    nodes = sorted({a for a, _ in edge_list} | {b for _, b in edge_list})
    rows = set()
    for start in nodes:
        cur = start
        rows.add((start, 0, start))
        for k in range(1, walk_length + 1):
            if not adj[cur]:
                break
            h = int(
                hashlib.md5(f"{start}|{k}|{cur}".encode()).hexdigest()[:15], 16
            )
            cur = sorted(adj[cur])[h % len(adj[cur])]
            rows.add((start, k, cur))
    return rows


def test_deterministic_walks_match_reference(spark):
    from mel_tnnt_spark.operators.graph_query import deterministic_walks

    rng = random.Random(23)
    edge_list = list(
        {
            (f"n{rng.randint(0, 19)}", f"n{rng.randint(0, 19)}")
            for _ in range(70)
        }
    )
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {
        (r["start"], r["step"], r["node"])
        for r in deterministic_walks(edges, "src", "dst", 5).collect()
    }
    assert got == _walks_ref(edge_list, 5)


def test_deterministic_walks_dangling_and_zero_length(spark):
    from mel_tnnt_spark.operators.graph_query import deterministic_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    got = {
        (r["start"], r["step"], r["node"])
        for r in deterministic_walks(edges, "src", "dst", 4).collect()
    }
    # c is dangling: its walk is just the start row; a's walk reaches c
    # at step 2 and stops
    assert got == {
        ("a", 0, "a"), ("a", 1, "b"), ("a", 2, "c"),
        ("b", 0, "b"), ("b", 1, "c"),
        ("c", 0, "c"),
    }
    zero = deterministic_walks(edges, "src", "dst", 0)
    assert zero.count() == 3
    with pytest.raises(ValueError):
        deterministic_walks(edges, "src", "dst", -1)


def test_deterministic_walks_partitioning_invariant(spark):
    from mel_tnnt_spark.operators.graph_query import deterministic_walks

    edge_list = [(f"n{i}", f"n{(i * 3 + 1) % 12}") for i in range(12)]
    edge_list += [(f"n{i}", f"n{(i * 5 + 2) % 12}") for i in range(12)]
    e1 = spark.createDataFrame(edge_list, "src string, dst string").coalesce(1)
    e8 = spark.createDataFrame(edge_list, "src string, dst string").repartition(8)
    w1 = {
        tuple(r) for r in deterministic_walks(e1, "src", "dst", 6).collect()
    }
    w8 = {
        tuple(r) for r in deterministic_walks(e8, "src", "dst", 6).collect()
    }
    assert w1 == w8


def test_stream_maintain_closure_equals_scratch_and_restart_noop(spark, tmp_path):
    import os

    from mel_tnnt_spark.operators.graph_query import maintain_transitive_closure
    from mel_tnnt_spark.streaming.incremental import stream_maintain

    edge_list = [(i, (i - 1) // 3) for i in range(1, 40)]
    batches = [edge_list[:13], edge_list[13:26], edge_list[26:]]
    src = str(tmp_path / "edgesrc")
    for rows in batches:
        spark.createDataFrame(rows, "child bigint, parent bigint").coalesce(
            1
        ).write.mode("append").parquet(src)
    state = str(tmp_path / "closurestate")

    def go():
        stream = (
            spark.readStream.schema("child bigint, parent bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_maintain(
            stream,
            lambda df, _txn: maintain_transitive_closure(
                df.sparkSession, state, df, "child", "parent", max_depth=64
            ),
            str(tmp_path / "closureckpt"),
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    go()
    from mel_tnnt_spark.operators.graph_query import read_transitive_closure

    got = {
        (r["node"], r["ancestor"], r["depth"])
        for r in read_transitive_closure(spark, state).collect()
    }
    full = spark.createDataFrame(edge_list, "child long, parent long")
    scratch = {
        (r["node"], r["ancestor"], r["depth"])
        for r in transitive_closure(full, "child", "parent").collect()
    }
    assert got == scratch
    # restart over the same source: the checkpoint skips every batch —
    # state layout unchanged
    before = sorted(os.listdir(state))
    go()
    assert sorted(os.listdir(state)) == before


def _projection_ref(vecs, out_dim):
    import hashlib

    rows = set()
    for vid, v in vecs:
        for j in range(out_dim):
            y = 0
            for i, x in enumerate(v):
                h = int(
                    hashlib.md5(f"{i}|{j}".encode()).hexdigest()[:15], 16
                )
                s = 1 if h % 2 == 0 else -1
                y += round(float(x) * 1_000_000) * s
            rows.add((vid, j, y))
    return rows


def test_random_projection_matches_reference_and_is_exact(spark):
    import numpy as np

    from mel_tnnt_spark.operators.similarity import random_projection

    rng = random.Random(31)
    vecs = [
        (i, [round(rng.uniform(-1, 1), 6) for _ in range(8)]) for i in range(40)
    ]
    vecs.append((40, [0.0] * 8))  # zero vector -> all-zero projection
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {
        (r["id"], r["j"], r["y_micro"])
        for r in random_projection(emb, "vec_id", "embedding", 4).collect()
    }
    # reference must see the FLOAT32-promoted values, like the engine
    promoted = [(i, [float(np.float32(x)) for x in v]) for i, v in vecs]
    assert got == _projection_ref(promoted, 4)
    assert {(40, j, 0) for j in range(4)} <= got
    with pytest.raises(ValueError):
        random_projection(emb, "vec_id", "embedding", 0)


def test_random_projection_preserves_cosine_ordering(spark):
    """JL sanity: projected cosine ranks correlate with true cosine —
    near-duplicate vectors stay near, orthogonal-ish stay far."""
    import numpy as np

    from mel_tnnt_spark.operators.similarity import random_projection

    rng = np.random.RandomState(5)
    base = rng.uniform(-1, 1, 16)
    vecs = [
        (0, [round(float(x), 6) for x in base]),
        (1, [round(float(x + rng.uniform(-0.01, 0.01)), 6) for x in base]),  # near-dup
        (2, [round(float(x), 6) for x in rng.uniform(-1, 1, 16)]),  # unrelated
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = random_projection(emb, "vec_id", "embedding", 8).collect()
    proj = {}
    for r in rows:
        proj.setdefault(r["id"], [0] * 8)[r["j"]] = r["y_micro"]

    def cos(a, b):
        a, b = np.array(a, dtype=float), np.array(b, dtype=float)
        return a.dot(b) / (np.linalg.norm(a) * np.linalg.norm(b))

    assert cos(proj[0], proj[1]) > cos(proj[0], proj[2])


def test_maintain_closure_lsm_compaction_and_crash_leftovers(spark, tmp_path):
    import os

    from mel_tnnt_spark.operators.graph_query import (
        maintain_transitive_closure,
        read_transitive_closure,
    )

    state = str(tmp_path / "lsm")
    edge_list = [(i, i - 1) for i in range(1, 13)]
    slices = [edge_list[:4], edge_list[4:8], edge_list[8:]]
    for sl in slices:
        b = spark.createDataFrame(sl, "child long, parent long")
        maintain_transitive_closure(
            spark, state, b, "child", "parent", compact_every=2
        )
    dirs = sorted(os.listdir(state))
    # fold 2 compacted (base-v2, segs dropped); fold 3 appended seg-3
    assert [d for d in dirs if d.startswith("base-v")] == ["base-v2"]
    assert [d for d in dirs if d.startswith("seg-")] == ["seg-3"]
    want = _closure_ref(edge_list)
    got = {
        (r["node"], r["ancestor"], r["depth"])
        for r in read_transitive_closure(spark, state).collect()
    }
    assert got == want
    # compaction crash window: an absorbed seg left on disk after the
    # base rename (cleanup crashed) — seg numbers <= base version are
    # excluded on read, so the view is unchanged
    spark.read.parquet(f"{state}/base-v2").limit(3).write.parquet(
        f"{state}/seg-2"
    )
    got2 = {
        (r["node"], r["ancestor"], r["depth"])
        for r in read_transitive_closure(spark, state).collect()
    }
    assert got2 == want


def test_bgp_property_path_one_or_more(spark):
    rows = [
        ("doc:1", "partOf", "folder:a"),
        ("folder:a", "partOf", "repo:r"),
        ("doc:2", "partOf", "folder:b"),
        ("folder:b", "partOf", "repo:r"),
        ("doc:1", "inLang", "en"),
        ("doc:2", "inLang", "fr"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    # all >=1-hop containment pairs
    got = {
        (r["d"], r["c"])
        for r in bgp_match(t, [("?d", "partOf+", "?c")]).collect()
    }
    assert got == {
        ("doc:1", "folder:a"), ("doc:1", "repo:r"),
        ("folder:a", "repo:r"),
        ("doc:2", "folder:b"), ("doc:2", "repo:r"),
        ("folder:b", "repo:r"),
    }
    # path leg joined with a plain leg + literal object filter
    got2 = {
        (r["d"], r["l"])
        for r in bgp_match(
            t, [("?d", "partOf+", "repo:r"), ("?d", "inLang", "?l")]
        ).collect()
    }
    assert got2 == {("doc:1", "en"), ("doc:2", "fr")}


def test_bgp_property_path_max_depth_bounds_the_leg(spark):
    # a 40-edge chain: its longest path needs 6 doubling rounds, more
    # than max_depth=4 allows, so the p+ leg raises instead of
    # returning a truncated pair set
    rows = [(f"n{i}", "next", f"n{i + 1}") for i in range(40)]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    with pytest.raises(ValueError, match="max_depth=4"):
        bgp_match(t, [("?s", "next+", "?t")], max_depth=4)
    got = {(r["s"], r["t"]) for r in bgp_match(t, [("?s", "next+", "?t")]).collect()}
    assert got == {(f"n{i}", f"n{j}") for i in range(41) for j in range(i + 1, 41)}


def _bfs_ref(edge_list, max_hops):
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for a, b in set(edge_list):
        adj[a].add(b)
    out = {}
    nodes = {a for a, _ in edge_list} | {b for _, b in edge_list}
    for s in nodes:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= max_hops:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for v, d in dist.items():
            if d >= 1:
                out[(s, v)] = d
        # positive distance back to s around a cycle (BFS's dist[s]=0
        # shortcuts it): min over predecessors of s
        back = [
            dist[u] + 1
            for u in dist
            if s in adj[u] and dist[u] + 1 <= max_hops
        ]
        if back:
            out[(s, s)] = min(back)
    return out


def test_shortest_paths_matches_bfs_on_cyclic_graph(spark):
    from mel_tnnt_spark.operators.graph_query import shortest_paths

    rng = random.Random(41)
    edge_list = list(
        {
            (f"n{rng.randint(0, 24)}", f"n{rng.randint(0, 24)}")
            for _ in range(80)
        }
    )
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {
        (r["src"], r["dst"]): r["dist"]
        for r in shortest_paths(edges, "src", "dst", max_hops=6).collect()
    }
    assert got == _bfs_ref(edge_list, 6)


def test_shortest_paths_hop_bound_and_ring(spark):
    from mel_tnnt_spark.operators.graph_query import shortest_paths

    ring = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)], "src long, dst long"
    )
    got = {
        (r["src"], r["dst"]): r["dist"]
        for r in shortest_paths(ring, "src", "dst", max_hops=4).collect()
    }
    # directed 10-ring: exactly hops 1..4 reachable within the bound
    assert got == {
        (i, (i + d) % 10): d for i in range(10) for d in range(1, 5)
    }
    one = shortest_paths(ring, "src", "dst", max_hops=1)
    assert one.count() == 10
    with pytest.raises(ValueError):
        shortest_paths(ring, "src", "dst", max_hops=0)


def test_bgp_partition_pruning_on_pred_partitioned_layout(spark, tmp_path):
    """The triples WRITE layout (operators/triples.py: partitioned by
    pred) + bgp_match's literal-pred filters = partition-pruned scans:
    each BGP leg's plan must carry a PartitionFilters entry on pred
    and read only that predicate's directory."""
    rows = (
        [(f"doc:{i}", "partOf", f"repo:{i % 3}") for i in range(40)]
        + [(f"doc:{i}", "mentions", f"ent:{i % 7}") for i in range(40)]
        + [(f"ent:{e}", "label", f"L{e}") for e in range(7)]
    )
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    path = str(tmp_path / "triples")
    t.write.partitionBy("pred").parquet(path)
    stored = spark.read.parquet(path)
    got = bgp_match(
        stored, [("?d", "mentions", "?e"), ("?e", "label", "?l")]
    )
    assert got.count() == 40
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re

    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and all("pred" in f for f in pf), plan[:2000]
    # the partOf partition is pruned from every scan
    assert "partOf" not in plan


def test_stream_weighted_sample_equals_scratch(spark, tmp_path):
    import os

    from mel_tnnt_spark.operators.sampling import maintain_weighted_sample, weighted_sample
    from mel_tnnt_spark.streaming.incremental import stream_maintain

    rows = [(i, float((i * 13) % 9 + 1)) for i in range(300)]
    batches = [rows[:100], rows[100:220], rows[220:]]
    src = str(tmp_path / "wsrc")
    for b in batches:
        spark.createDataFrame(b, "id bigint, w double").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state = str(tmp_path / "wstate")

    def go():
        stream = (
            spark.readStream.schema("id bigint, w double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_maintain(
            stream,
            lambda df, _txn: maintain_weighted_sample(
                df.sparkSession, state, df, "id", "w", k=40
            ),
            str(tmp_path / "wckpt"),
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    go()
    vdirs = sorted(
        (d for d in os.listdir(state) if d.startswith("v=")),
        key=lambda d: int(d[2:]),
    )
    got = {
        (r["id"], r["w"])
        for r in spark.read.parquet(os.path.join(state, vdirs[-1])).collect()
    }
    scratch = {
        (r["id"], r["w"])
        for r in weighted_sample(
            spark.createDataFrame(rows, "id bigint, w double"), "id", "w", 40
        ).select("id", "w").collect()
    }
    assert got == scratch
    before = sorted(os.listdir(state))
    go()
    assert sorted(os.listdir(state)) == before


def test_khop_aggregate_matches_bfs_reference(spark):
    from mel_tnnt_spark.operators.graph_query import khop_aggregate

    rng = random.Random(47)
    edge_list = list(
        {
            (f"n{rng.randint(0, 19)}", f"n{rng.randint(0, 19)}")
            for _ in range(60)
        }
    )
    feats = {f"n{i}": (i * 7) % 13 for i in range(20)}
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    fdf = spark.createDataFrame(
        list(feats.items()), "node string, f long"
    )
    got = {
        r["node"]: (r["n_neighbors"], r["feature_sum"])
        for r in khop_aggregate(
            edges, fdf, "src", "dst", "node", "f", k=3
        ).collect()
    }
    ref = _bfs_ref(edge_list, 3)
    want = {}
    for (s, v), _d in ref.items():
        n, fs = want.get(s, (0, 0))
        want[s] = (n + 1, fs + feats[v])
    assert got == want


def test_edge_neighborhood_jaccard_matches_brute(spark):
    from mel_tnnt_spark.operators.graph_query import edge_neighborhood_jaccard

    rng = random.Random(53)
    edge_list = list(
        {
            tuple(sorted((f"v{rng.randint(0, 29)}", f"v{rng.randint(0, 29)}")))
            for _ in range(160)
        }
    )
    edge_list = [(a, b) for a, b in edge_list if a != b]
    edges = spark.createDataFrame(edge_list, "a string, b string")
    got = {
        (r["lo"], r["hi"]): (r["n_shared"], r["jaccard"])
        for r in edge_neighborhood_jaccard(edges, "a", "b").collect()
    }
    from collections import defaultdict

    nbrs = defaultdict(set)
    for a, b in edge_list:
        nbrs[a].add(b)
        nbrs[b].add(a)
    want = {}
    for a, b in edge_list:
        inter = len(nbrs[a] & nbrs[b])
        union = len(nbrs[a] | nbrs[b])
        want[(a, b)] = (inter, round(inter / union, 6))
    assert got == want
    # star: every edge has zero shared neighbors, jaccard 0
    star = spark.createDataFrame(
        [("hub", f"l{i}") for i in range(20)], "a string, b string"
    )
    s = edge_neighborhood_jaccard(star, "a", "b").collect()
    assert len(s) == 20 and all(
        r["n_shared"] == 0 and r["jaccard"] == 0.0 for r in s
    )


# a ternary tree plus skip edges: a DAG with multi-depth pairs
_LOOP_EDGES = [(i, (i - 1) // 3) for i in range(1, 40)] + [
    (i, (i - 1) // 9) for i in range(10, 40, 7)
]


def _loop_case(spark, tmp_path, op):
    """(call, reference rows) for one graph loop over _LOOP_EDGES."""
    from mel_tnnt_spark.operators.components import connected_components
    from mel_tnnt_spark.operators.graph_query import (
        maintain_transitive_closure,
        reachability_pairs,
        shortest_paths,
    )

    def df(edge_list):
        return spark.createDataFrame(edge_list, "child long, parent long")

    closure = _closure_ref(_LOOP_EDGES)
    if op == "transitive_closure":
        return lambda: transitive_closure(df(_LOOP_EDGES), "child", "parent"), closure
    if op == "reachability_pairs":
        return (
            lambda: reachability_pairs(df(_LOOP_EDGES), "child", "parent"),
            {(n, a) for n, a, _ in closure},
        )
    if op == "shortest_paths":
        return (
            lambda: shortest_paths(df(_LOOP_EDGES), "child", "parent", 3),
            {(s, d, k) for (s, d), k in _bfs_ref(_LOOP_EDGES, 3).items()},
        )
    if op == "maintain_transitive_closure":
        state = str(tmp_path / "closure")
        maintain_transitive_closure(spark, state, df(_LOOP_EDGES[:20]), "child", "parent")
        return (
            lambda: maintain_transitive_closure(
                spark, state, df(_LOOP_EDGES[20:]), "child", "parent"
            ),
            closure,
        )
    # the tree is one component, labelled by its root 0
    return (
        lambda: connected_components(df(_LOOP_EDGES), "child", "parent"),
        {(n, 0) for n in range(40)},
    )


@pytest.mark.parametrize(
    "op",
    [
        "transitive_closure",
        "reachability_pairs",
        "shortest_paths",
        "maintain_transitive_closure",
        "connected_components",
    ],
)
def test_graph_loops_run_no_extra_actions(spark, tmp_path, monkeypatch, op):
    """Convergence is read from each round's checkpoint job: a loop that
    calls count() or collect() per round fails here. The gate is at 0,
    so every loop takes its distributed tier (the driver tier's one
    bounded collect is pinned by the job-count tests below)."""
    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    call, want = _loop_case(spark, tmp_path, op)

    def _refuse(self, *args, **kwargs):
        raise AssertionError(f"{op} ran an extra count/collect action")

    cls = type(spark.range(1))
    with monkeypatch.context() as m:
        m.setattr(cls, "count", _refuse)
        m.setattr(cls, "collect", _refuse)
        out = call()
    assert {tuple(r) for r in out.collect()} == want


# -- the two tiers behind the size gate ----------------------------------
#
# Below session.DRIVER_ROWS the five gated functions run on the driver;
# the tests above feed them small inputs, so at the default gate they
# test the driver tier. Each runs again here with the gate at 0, which
# sends every call through `_fixpoint`: both tiers answer to the same
# assertions (the _LOOP_EDGES DAG, the cyclic cases, the max_depth
# raises, string and long ids).

_GATED_TESTS = [
    test_bgp_property_path_cyclic_predicate,
    test_bgp_property_path_one_or_more,
    test_bgp_property_path_max_depth_bounds_the_leg,
    test_transitive_closure_chain_depth_exact,
    test_transitive_closure_ternary_tree,
    test_transitive_closure_cycle_raises,
    test_pagerank_micro_matches_integer_reference,
    test_pagerank_micro_dangling_and_zero_iters,
    test_maintain_closure_chained_equals_scratch_any_order,
    test_maintain_closure_multi_depth_pair_kept,
    test_maintain_closure_cycle_raises,
    test_maintain_closure_lsm_compaction_and_crash_leftovers,
    test_stream_maintain_closure_equals_scratch_and_restart_noop,
    test_shortest_paths_matches_bfs_on_cyclic_graph,
    test_shortest_paths_hop_bound_and_ring,
    test_khop_aggregate_matches_bfs_reference,
]


@pytest.fixture
def fixpoint_tier(monkeypatch):
    """The gate at 0: every gated call takes the `_fixpoint` tier."""
    monkeypatch.setattr(session, "DRIVER_ROWS", 0)


@pytest.mark.parametrize(
    "case", _GATED_TESTS, ids=lambda t: t.__name__[len("test_"):]
)
def test_fixpoint_tier(fixpoint_tier, request, case):
    case(**{n: request.getfixturevalue(n) for n in inspect.signature(case).parameters})


def _jobs(spark, fn, group):
    """(fn(), ids of the Spark jobs it ran), counted through a job
    group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _edges(spark, rows=_LOOP_EDGES, schema="child long, parent long"):
    return spark.createDataFrame(rows, schema)


_GATED_CALLS = {
    "transitive_closure": lambda e, _: transitive_closure(e, "child", "parent"),
    "reachability_pairs": lambda e, _: reachability_pairs(e, "child", "parent"),
    "shortest_paths": lambda e, _: shortest_paths(e, "child", "parent", 3),
    "pagerank_micro": lambda e, _: pagerank_micro(e, "child", "parent", 4),
    "maintain_transitive_closure": lambda e, state: maintain_transitive_closure(
        e.sparkSession, state, e, "child", "parent"
    ),
}


def _fold_state(spark, path):
    """A stored closure of the first 20 _LOOP_EDGES, for a fold of the
    rest."""
    maintain_transitive_closure(
        spark, path, _edges(spark, _LOOP_EDGES[:20]), "child", "parent"
    )
    return path


def _probe_jobs(spark, group, edges, state=None):
    """The jobs of the driver tier's bounded collects alone: one
    `session.collect_small` of the edges, plus, for the fold, one of the
    stored parts (whose read runs `spark.read.parquet`'s schema job).
    Spark's take reads one partition first and then more, so the count
    follows the input's partitioning."""
    from mel_tnnt_spark.operators import graph_query

    def probe():
        session.collect_small(graph_query._edges(edges, "child", "parent"))
        if state:
            session.collect_small(graph_query._read_parts(spark, state))

    return len(_jobs(spark, probe, group)[1])


@pytest.mark.parametrize("op", list(_GATED_CALLS))
def test_driver_tier_runs_only_its_bounded_collects(spark, tmp_path, monkeypatch, op):
    """Below the gate a call runs its bounded collects plus, for the
    fold, the seg write. The fold has two inputs, the batch and the
    stored closure, and reading the stored parts costs the schema job
    of `spark.read.parquet`, as on the distributed tier. Everything
    else is driver work, and the result is a LocalRelation that costs
    the caller no job to collect."""
    from mel_tnnt_spark.operators import graph_query

    state = _fold_state(spark, str(tmp_path / "s")) if op.startswith("maintain") else None
    edges = _edges(spark, _LOOP_EDGES[20:] if state else _LOOP_EDGES)
    writes = []
    publish = graph_query.publish

    def _publish(df, root, name, *a, **kw):
        # the write runs under its own group, so the call's group below
        # holds only the collects
        writes.append(_jobs(spark, lambda: publish(df, root, name, *a, **kw), f"w-{op}")[1])
        spark.sparkContext.setJobGroup(f"a-{op}", f"a-{op}")

    monkeypatch.setattr(graph_query, "publish", _publish)
    probe = _probe_jobs(spark, f"p-{op}", edges, state)
    out, jobs = _jobs(spark, lambda: _GATED_CALLS[op](edges, state), f"a-{op}")
    assert 0 < len(jobs) == probe, (jobs, probe)
    assert len(writes) == (1 if state else 0) and all(writes)
    if not state:
        assert "LocalRelation" in out._jdf.queryExecution().optimizedPlan().toString()
        assert _jobs(spark, out.collect, f"c-{op}")[1] == []


@pytest.mark.parametrize("op", list(_GATED_CALLS))
def test_gate_just_below_the_input_costs_one_collect(spark, tmp_path, monkeypatch, op):
    """An input one row over the gate falls back to `_fixpoint`, and the
    bounded collect of the edges that found out is the only extra
    cost."""
    fold = op.startswith("maintain")
    edges = _edges(spark, _LOOP_EDGES[20:] if fold else _LOOP_EDGES)
    n = len(_LOOP_EDGES) - 20 if fold else len(_LOOP_EDGES)
    # both folds start from the same stored closure, built at the
    # default gate
    states = {g: _fold_state(spark, str(tmp_path / f"s{g}")) if fold else None
              for g in (0, n - 1)}
    counts, rows = [], []
    for gate, state in states.items():
        monkeypatch.setattr(session, "DRIVER_ROWS", gate)
        out, jobs = _jobs(spark, lambda: _GATED_CALLS[op](edges, state), f"b-{op}-{gate}")
        counts.append(len(jobs))
        rows.append({tuple(r) for r in out.collect()})
    probe = _probe_jobs(spark, f"q-{op}", edges)
    assert probe >= 1 and counts[1] == counts[0] + probe, (counts, probe)
    assert rows[0] == rows[1]


def test_closure_falls_back_on_output_size(spark, monkeypatch):
    """100 chain edges fit a gate of 1,000 rows, their 5,050 closure
    rows do not: the driver tier stops there and the `_fixpoint` tier
    answers, equal to the distributed result."""
    chain = [(i, i - 1) for i in range(1, 101)]
    edges = _edges(spark, chain)
    monkeypatch.setattr(session, "DRIVER_ROWS", 1_000)
    got = transitive_closure(edges, "child", "parent")
    assert "LocalRelation" not in got._jdf.queryExecution().optimizedPlan().toString()
    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    want = transitive_closure(edges, "child", "parent")
    rows = {tuple(r) for r in got.collect()}
    assert len(rows) == 5_050
    assert rows == {tuple(r) for r in want.collect()} == _closure_ref(chain)


@pytest.mark.parametrize("schema", ["child long, parent long", "child string, parent string"])
@pytest.mark.parametrize("op", list(_GATED_CALLS))
def test_both_tiers_give_equal_schema(spark, tmp_path, monkeypatch, op, schema):
    """Same column names and types, and the same rows, from both tiers;
    null endpoints are dropped by both."""
    cast = str if "string" in schema else int
    rows = [(cast(a), cast(b)) for a, b in _LOOP_EDGES] + [(None, cast(1)), (cast(2), None)]
    got = {}
    for gate in (session.DRIVER_ROWS, 0):
        monkeypatch.setattr(session, "DRIVER_ROWS", gate)
        out = _GATED_CALLS[op](_edges(spark, rows, schema), str(tmp_path / f"s{gate}"))
        got[gate] = (
            [(f.name, f.dataType) for f in out.schema],
            {tuple(r) for r in out.collect()},
        )
    driver, fixpoint = got.values()
    assert driver == fixpoint
