"""Connected components over a similarity graph — iterative DataFrame
joins (GraphFrames-style), the identity-canonicalization stage.

The reference's closest analogue is cross-model aggregation merging
same-entity mentions (code/NLP_NER_API/analysis/aggregation.py:298-325);
true identity canonicalization is new distributed work mandated by
BASELINE.json's north_star.

Algorithm: iterative minimum-label propagation ("hash-to-min" family,
cf. Rastogi et al., "Finding Connected Components in Map-Reduce in
Logarithmic Rounds"). Each round:
    label(v) <- min(label(v), min over neighbours(label(u)))
    label(v) <- min(label(v), label(label(v)))      # pointer jumping
on symmetrized edges, with localCheckpoint() per round to truncate
lineage (SURVEY.md §4c) and an AQE-planned shuffle on the node key.
Convergence = no label changed: a sum over the round's change flags,
observed on the round's own eager checkpoint (session.pin_observed),
so a round costs no separate action. The pointer-jumping step halves
label-chain depth each round, so convergence is O(log diameter)
rather than O(diameter) — a 4000-node path converges within 20 rounds
(test-pinned) where plain propagation would need 4000.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mel_tnnt_spark.session import pin_observed


def _driver_union_find(rows: list[tuple], spark, schema) -> DataFrame:
    """Exact union-find on collected edges — the small-graph fast path.
    Iterative Spark joins cost ~seconds of fixed overhead per round; for
    graphs that fit on the driver (post-blocking similarity graphs
    usually do) this is strictly cheaper and exactly equivalent."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    out = [(n, find(n)) for n in parent]
    return spark.createDataFrame(out, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """edges(src, dst) -> (node, component) where component is the min
    node id of the component. Isolated nodes only via self-loops.

    Two physical strategies behind one contract (like AQE join picks):
    - |edges| <= driver_threshold: collect + union-find on the driver
      (fixed-cost Spark rounds dominate at this size).
    - else: distributed iterative min-label propagation below.
    Both produce identical results; tests pin equivalence."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    schema = sym.select(
        F.col("a").alias("node"), F.col("a").alias("component")
    ).schema
    if driver_threshold > 0:
        small = sym.limit(driver_threshold + 1).collect()
        if len(small) <= driver_threshold:
            return _driver_union_find(
                [(r["a"], r["b"]) for r in small], edges.sparkSession, schema
            )
        del small
    sym = sym.localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # min label among neighbours
        neigh_min = (
            sym.join(labels, sym["b"] == labels["node"], "inner")
            .groupBy("a")
            .agg(F.min("component").alias("neigh_component"))
        )
        # least() skips nulls: a node without neighbours keeps its label
        propagated = labels.join(
            neigh_min, labels["node"] == neigh_min["a"], "left"
        ).select(
            "node",
            F.least("component", "neigh_component").alias("component"),
            F.col("component").alias("_oc"),  # threaded for the change flag
        )
        # pointer jumping: component <- label(component). Every label is
        # itself a graph node (min over neighbour labels; initial label
        # = self), so the self-join always resolves. Halving the
        # label-chain depth each round turns O(diameter) convergence
        # into O(log diameter) — the 4000-node-path test converges
        # within 20 rounds where plain propagation would need 4000.
        hop = propagated.select(
            F.col("node").alias("_pn"), F.col("component").alias("_pc")
        )
        new_labels, (changed,) = pin_observed(
            propagated.join(hop, propagated["component"] == hop["_pn"], "left")
            .select("node", F.least("component", "_pc").alias("component"), "_oc")
            .select(
                "node",
                "component",
                (F.col("component") < F.col("_oc")).alias("_changed"),
            ),
            F.sum(F.col("_changed").cast("int")),
        )
        labels = new_labels.drop("_changed")
        if not changed:
            break
    return labels


def similarity_edges(linked: DataFrame) -> DataFrame:
    """Build identity edges from linked mentions: two entity_ids are the
    same identity if they share a normalized canonical surface (the
    near-miss variants in the alias dict), plus trivial self-equality.

    Normalization: lower + strip non-alphanumerics — cheap JVM-side
    blocking key. At 100 TB this is an equi-join on the blocking key
    (shuffle on norm_key), not an O(n^2) similarity cross-join."""
    norm = linked.select(
        F.col("entity_id"),
        F.regexp_replace(F.lower("canonical"), "[^a-z0-9]", "").alias("norm_key"),
    ).distinct()
    a = norm.alias("x")
    b = norm.alias("y")
    return (
        a.join(b, "norm_key")
        .where(F.col("x.entity_id") < F.col("y.entity_id"))
        .select(F.col("x.entity_id").alias("src"), F.col("y.entity_id").alias("dst"))
        .distinct()
    )


def norm_key(canonical: str) -> str:
    """The blocking key used by similarity_edges, as plain python (must
    stay byte-identical to the regexp_replace in similarity_edges)."""
    import re

    return re.sub("[^a-z0-9]", "", canonical.lower())


def canonical_entities_local(rows: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Driver-side canonical_entities over a collected (entity_id,
    canonical) dim. Each entity_id has one canonical, so components are
    exactly the norm-key groups (no chaining possible) — min entity_id
    per group. Equivalence with the distributed path is test-pinned."""
    groups: dict[str, list[str]] = {}
    for eid, canonical in rows:
        groups.setdefault(norm_key(canonical), []).append(eid)
    out: list[tuple[str, str]] = []
    for g in groups.values():
        root = min(g)
        out.extend((eid, root) for eid in set(g))
    return out


def canonical_entities(linked: DataFrame, ent_dim: DataFrame | None = None) -> DataFrame:
    """Identity canonicalization: entity_id -> canonical component id.
    Entities that never pair up keep themselves as component.

    Pass `ent_dim` (pre-distincted (entity_id, canonical, ...)) to avoid
    re-shuffling the full mention table — the blocking join, CC, and the
    final mapping then touch only the entity dim."""
    base = ent_dim if ent_dim is not None else linked
    edges = similarity_edges(base)
    nodes = base.select("entity_id").distinct()
    cc = connected_components(edges)
    return nodes.join(cc, nodes["entity_id"] == cc["node"], "left").select(
        "entity_id", F.coalesce("component", F.col("entity_id")).alias("canonical_id")
    )


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    comp_col: str = "component",
    changed_only: bool = False,
) -> DataFrame:
    """Incremental CC maintenance: fold a BATCH of new edges into an
    existing (node, component) labeling without recomputing the global
    graph — the result equals connected_components(all edges so far)
    exactly (min-label contract preserved; test-pinned equivalence).

    Why it works: the label table is a contraction certificate — every
    old component is one supernode named by its min member. New edges
    can only (a) merge supernodes or (b) attach brand-new nodes, so:
      1. map each batch endpoint to its current component (unlabeled
         endpoints are their own supernode; an unlabeled id can never
         collide with an old label, because every label is itself a
         labeled member);
      2. run CC on the CONTRACTED graph — bounded by the batch size,
         never the table (self-loops kept so isolated new nodes get
         labels);
      3. remap: old component -> new root, applied to the label table.

    100-TB shape: steps 1 and 3 are broadcast joins (the batch and the
    remap are batch-bounded; the big label table is never shuffled),
    step 2 is CC on a batch-sized graph (usually the driver union-find
    fast path). Per-batch cost is O(|batch| + |labels| scan) instead of
    O(|graph| x diameter). changed_only=True returns just the rows
    whose label moves (plus new nodes) — feed that to merge_upsert for
    O(touched) persistence (maintain_components does exactly this)."""
    lab = labels.select(F.col(node_col).alias("_n"), F.col(comp_col).alias("_c"))
    e = new_edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))

    # endpoint -> current component, WITHOUT shuffling the label table:
    # an inner join with the (batch-bounded) endpoint set broadcast as
    # the BUILD side streams labels once. (A broadcast hint on the left
    # side of a left-outer join is unsupported and silently ignored —
    # the naive formulation would sort-merge the whole label table per
    # batch; found in round-3 self-review.) The resulting endpoint
    # component map is batch-bounded, so the edge-mapping joins
    # broadcast IT, never the labels.
    endpoints = (
        e.select(F.col("s").alias(node_col))
        .union(e.select(F.col("d").alias(node_col)))
        .distinct()
    )
    ep_comp = lab.join(
        F.broadcast(endpoints), lab["_n"] == endpoints[node_col], "inner"
    ).select(F.col("_n"), F.col("_c"))
    mapped = (
        e.join(
            F.broadcast(ep_comp.select(F.col("_n").alias("s"), F.col("_c").alias("cs"))),
            "s",
            "left",
        )
        .join(
            F.broadcast(ep_comp.select(F.col("_n").alias("d"), F.col("_c").alias("cd"))),
            "d",
            "left",
        )
        .select(
            F.coalesce("cs", F.col("s")).alias("a"),
            F.coalesce("cd", F.col("d")).alias("b"),
        )
    )
    # CC over the contracted graph (self-loops kept: isolated new nodes
    # and intra-component batch edges still yield a node row)
    contracted = connected_components(mapped, "a", "b")

    remap = contracted.select(
        F.col("node").alias("_old"), F.col("component").alias("_new")
    )
    joined = labels.join(
        F.broadcast(remap), labels[comp_col] == remap["_old"], "left"
    )
    if changed_only:
        # delta mode for O(touched) persistence (merge_upsert): only
        # rows whose label actually moves, plus the new nodes below —
        # a broadcast FILTER over labels, no extra join
        updated = joined.where(
            F.col("_new").isNotNull() & (F.col("_new") != F.col(comp_col))
        ).select(F.col(node_col), F.col("_new").alias(comp_col))
    else:
        updated = joined.select(
            F.col(node_col), F.coalesce("_new", F.col(comp_col)).alias(comp_col)
        )
    # brand-new nodes: batch endpoints absent from the endpoint
    # component map (both sides batch-bounded — the label table is not
    # touched again) take their contracted-graph label directly
    new_nodes = (
        endpoints.join(
            F.broadcast(ep_comp), endpoints[node_col] == ep_comp["_n"], "left_anti"
        )
        .join(F.broadcast(remap), endpoints[node_col] == remap["_old"], "left")
        .select(F.col(node_col), F.coalesce("_new", F.col(node_col)).alias(comp_col))
    )
    return updated.unionByName(new_nodes)


def maintain_components(
    spark,
    labels_path: str,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    txn: tuple[str, int] | None = None,
) -> None:
    """Fold a batch of edges into the persisted (node, component)
    labeling at labels_path (a merge-sink table) via
    incremental_components(changed_only=True) + the O(touched) MERGE
    sink: the maintained twin of the north-star CC, at per-batch cost
    O(|batch|) instead of a global recompute. Final labels equal
    from-scratch CC over all edges folded so far (test-pinned in
    tests/test_streaming.py). Only the last snapshot is kept.

    Null-endpoint edges are dropped: outside edge sources can carry
    them, and a null would poison the union-find. Exactly-once via
    `txn`, recorded by `merge_upsert` in the same commit as the labels;
    the fold is also idempotent on its own (a replayed batch's edges
    already sit inside one component, so its delta is empty)."""
    from mel_tnnt_spark.operators.merge_sink import (
        current_snapshot,
        expire_snapshots,
        merge_upsert,
        read_merged,
    )

    edges = edges.dropna(subset=[src, dst])
    if current_snapshot(labels_path) is not None:
        labels = read_merged(spark, labels_path)
    else:  # first batch: empty labeling with the edge key type
        labels = spark.createDataFrame(
            [],
            edges.select(F.col(src).alias("node"), F.col(src).alias("component")).schema,
        )
    delta = incremental_components(labels, edges, src=src, dst=dst, changed_only=True)
    merge_upsert(spark, labels_path, delta, keys=("node",), txn=txn)
    expire_snapshots(labels_path, keep_last=1)
