"""Graph-side query operators over the materialized (subj, pred, obj)
triples table — the read path of the KG the pipeline builds (reference:
the SPARQL queries MEL-TNNT issues against its Virtuoso store,
code/MEL/__init__.py:2626-2670 and the KG-Access query endpoints in
code/NLP_NER_API; the rebuild materializes triples as partitioned
parquet per operators/triples.py, so graph reads become DataFrame
plans instead of a SPARQL engine).

All pure DataFrame (zero UDFs), all oracle-gated:

- `bgp_match` — SPARQL basic-graph-pattern matching: each (s, p, o)
  pattern with literals/variables becomes a filtered projection of the
  triples scan (literal `pred` hits the partition-pruned scan), and
  patterns join on their shared variables. The join ORDER is chosen by
  a deterministic selectivity heuristic (most-bound patterns first),
  after which Catalyst/AQE picks broadcast vs shuffle per join at
  runtime — the 100 TB posture is "prune hard, then let the optimizer
  place the joins".
- `transitive_closure` — directed reachability with exact path length
  over an acyclic edge set (the tnnt:partOf hierarchy flatten):
  iterative DOUBLING (P <- P u P.P), so a depth-d hierarchy closes in
  ceil(log2 d) joins, not d — the components.py pointer-jumping
  argument applied to reachability.
- `pagerank_micro` — PageRank with EXACT integer arithmetic: ranks are
  micro-units (1e12 == rank 1.0), the damping factor is the rational
  17/20, and every per-iteration op is integer div/sum — so the result
  is bit-identical on any engine and the DuckDB oracle can unroll the
  same iterations (the q85 classifier-train numerics discipline
  applied to a graph loop). Per iteration: one groupBy(dst) shuffle;
  out-degrees and the node dim are computed once.
- `triangle_count` — per-node triangle participation via DEGREE-ORDERED
  orientation (Suri & Vassilvitskii 2011): orient every undirected
  edge from its lower-(degree, id) endpoint to the higher one, count
  wedges at the low node, close them against the canonical edge set.
  Each triangle has exactly ONE node with out-degree 2 in this
  orientation, so it is counted exactly once, and the wedge fan-out
  per node is bounded by O(sqrt(m)) instead of the max degree — the
  difference between a star-graph blowup and a linear pass at crawl
  scale.
- `maintain_transitive_closure` / `read_transitive_closure` — the
  closure made stateful for batch-arriving edges: O(delta) work and
  O(delta) LSM seg appends per fold, compact-every-8 (the
  maintain_overlap_index layout; BENCH.md: late/early 1.05 over 8
  folds).
- `shortest_paths` — bounded-hop min-plus doubling (the closure's
  semiring twin): k-hop neighborhood distances, cycles included.
- `khop_aggregate` — GNN-style message passing: per-node exact
  integer feature sum over the <=k-hop neighborhood (composes
  shortest_paths + one feature join + one groupBy).
- `deterministic_walks` — DeepWalk corpus generation with md5-derived
  step choices (reproducible on any engine, no RNG state).
- `bgp_match` also accepts SPARQL property paths: a literal predicate
  ending in "+" becomes the transitive closure of that predicate's
  edges (set semantics) before joining.

The four doubling loops (`reachability_pairs`, `transitive_closure`,
`maintain_transitive_closure`'s delta, `shortest_paths`) are one
helper, `_fixpoint`: a seed, a one-line step over `_compose`, and one
eager localCheckpoint per round that observes (rows, value sum) in the
same job — converged when that pair repeats, with no separate count.

Two physical strategies behind one contract, as in
components.connected_components: those four and `pagerank_micro` first
collect their edges with one bounded take (`session.collect_small`, at
most `session.DRIVER_ROWS` rows, no shuffle). When the edges fit, the
answer is computed on the driver in plain Python (Kahn's order for the
closure, one BFS per source for pairs and distances, the same integer
ops for PageRank, the same delta recurrence for the fold) and returned
as a LocalRelation; the driver result also stops once it passes
DRIVER_ROWS rows and hands over to `_fixpoint`. Both tiers give the
same columns, types, rows and ValueErrors (tests pin each function on
both), and the fold writes the same `state.publish` entries either
way. `bgp_match` p+ legs and `khop_aggregate` inherit the gate through
the functions they call. On a 2k-doc KG this cuts the query mix from
102 Spark jobs to 27 (kgbench kg_query). Past the gate a call pays for
finding out: the take alone when the edges are over it (0.3 s for the
1M PageRank edge rows of scripts/graph_bench.py on a 4-vCPU VM), and
when the edges fit but the result does not, their collect plus the
driver work up to DRIVER_ROWS result rows (2.6-2.9 s for its
199,999-edge tree, 1.3-1.8 s for its first 30k-edge fold batch).
"""

from __future__ import annotations

import math
import os
import shutil
from collections import Counter, defaultdict, deque

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from mel_tnnt_spark import session
from mel_tnnt_spark.session import local_dim, pin_observed
from mel_tnnt_spark.state import numbered, publish, sweep

VAR_PREFIX = "?"
_CLOSURE_COLS = ("node", "ancestor", "depth")
# pagerank_micro's fixed point: rank 1.0 in micro-units, and the
# (1 - 17/20) * 1.0 every node gets before its inflow
_MICRO = 1_000_000_000_000
_BASE = _MICRO * 3 // 20
# checkpoint cadence of pagerank_micro and deterministic_walks: every
# iteration serializes them into barriers, never grows plans unbounded
_CHECKPOINT_EVERY = 4


def _edges(edges: DataFrame, src_col: str, dst_col: str, value_col=None):
    """The non-null (src, dst) edges, plus a unit path length in
    `value_col` when given."""
    cols = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
    if value_col:
        cols.append(F.lit(1).cast("long").alias(value_col))
    return edges.select(*cols).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )


def _edge_set(edges: DataFrame, src_col: str, dst_col: str, value_col=None):
    """`_edges`, distinct: the seed of every graph loop here."""
    return _edges(edges, src_col, dst_col, value_col).distinct()


# -- the driver tier ---------------------------------------------------


def _on_driver(edges: DataFrame, src_col: str, dst_col: str, solve):
    """`solve` over the distinct non-null (src, dst) edges as a Python
    set, or None past DRIVER_ROWS input rows (`solve` returns None past
    DRIVER_ROWS result rows). The edges are collected by
    `session.collect_small`, a bounded take with no shuffle that keeps
    the input's partitioning (duplicates are dropped here)."""
    rows = session.collect_small(_edges(edges, src_col, dst_col))
    return None if rows is None else solve({tuple(r) for r in rows})


def _local(seed: DataFrame, rows) -> DataFrame:
    """Driver-computed `rows` as a LocalRelation with the column names
    and types of `seed`, the distributed tier's frame."""
    schema = StructType([StructField(f.name, f.dataType) for f in seed.schema])
    return local_dim(seed.sparkSession, rows, schema)


def _covered(rounds: int) -> int:
    # the longest path `_fixpoint` closes within `rounds` doubling
    # rounds: after i rounds the state holds every path of length
    # <= 2^i, and round i repeats the state iff nothing is longer
    # than 2^(i-1)
    return 2 ** (rounds - 1)


def _closure_local(pairs: set, rounds: int):
    """transitive_closure on the driver: (src, dst, depth) for every
    distinct path length of the acyclic child -> parent `pairs`. The
    paths of a node are its parents at depth 1 plus their paths one
    deeper, so nodes are finished parents first (Kahn's order). Returns
    (rows, converged) as `_fixpoint` would decide it (not converged on
    a cycle or a path longer than `rounds` cover), or None once the
    rows pass DRIVER_ROWS."""
    parents, kids, waiting = defaultdict(list), defaultdict(list), Counter()
    for c, p in pairs:
        parents[c].append(p)
        kids[p].append(c)
        waiting[c] += 1
    nodes = parents.keys() | kids.keys()
    ready = deque(n for n in nodes if not waiting[n])
    paths: dict = {}
    total = longest = 0
    while ready:
        v = ready.popleft()
        got = set()
        for p in parents.get(v, ()):
            got.add((p, 1))
            got.update((a, d + 1) for a, d in paths[p])
        paths[v] = got
        total += len(got)
        if total > session.DRIVER_ROWS:
            return None
        longest = max([longest] + [d for _, d in got])
        for c in kids.get(v, ()):
            waiting[c] -= 1
            if not waiting[c]:
                ready.append(c)
    if len(paths) < len(nodes) or longest > _covered(rounds):
        return [], False
    return [(v, a, d) for v, got in paths.items() for a, d in got], True


def _bfs_local(pairs: set, max_hops: int | None = None):
    """(src, dst, dist) with the shortest positive path length of every
    pair within `max_hops` (unbounded when None), cycles included: one
    breadth-first search per source. None once the rows pass
    DRIVER_ROWS."""
    adj = defaultdict(list)
    for s, t in pairs:
        adj[s].append(t)
    out = []
    for s, nbrs in adj.items():
        dist = {}
        level, d = set(nbrs), 1
        while level and (max_hops is None or d <= max_hops):
            dist.update(dict.fromkeys(level, d))
            level = {u for t in level for u in adj.get(t, ()) if u not in dist}
            d += 1
        out.extend((s, t, k) for t, k in dist.items())
        if len(out) > session.DRIVER_ROWS:
            return None
    return out


def _pagerank_local(pairs: set, iterations: int) -> list:
    """pagerank_micro on the driver, the same integer ops in the same
    order: iteration 1 sends `MICRO div outdeg` along each edge, later
    ones `(BASE + in * 17 div 20) div outdeg`."""
    outdeg = Counter(s for s, _ in pairs)
    nodes = outdeg.keys() | {t for _, t in pairs}
    if iterations == 0:
        return [(n, _MICRO) for n in nodes]
    inflow = None
    for _ in range(iterations):
        nxt = defaultdict(int)
        for s, t in pairs:
            rank = _MICRO if inflow is None else _BASE + inflow.get(s, 0) * 17 // 20
            nxt[t] += rank // outdeg[s]
        inflow = nxt
    return [(n, _BASE + inflow.get(n, 0) * 17 // 20) for n in nodes]


def _fold_local(closure: set, pairs: set, rounds: int):
    """maintain_transitive_closure's delta on the driver: the same
    recurrence N <- N u N.C u C.N u N.N minus C from N = new edges
    minus C, over dicts. Returns (delta rows, converged), or None once
    closure plus delta, or one round's grown paths, pass DRIVER_ROWS."""
    by_src, by_dst = defaultdict(list), defaultdict(list)
    for s, t, d in closure:
        by_src[s].append((t, d))
        by_dst[t].append((s, d))
    delta = {(s, t, 1) for s, t in pairs} - closure
    if not delta:
        return delta, True
    for _ in range(rounds):
        if len(closure) + len(delta) > session.DRIVER_ROWS:
            return None
        new_by_src = defaultdict(list)
        for s, t, d in delta:
            new_by_src[s].append((t, d))
        grown = set()
        for s, m, d in delta:
            grown.update((s, t, d + e) for t, e in by_src.get(m, ()))
            grown.update((s, t, d + e) for t, e in new_by_src.get(m, ()))
            grown.update((a, m, e + d) for a, e in by_dst.get(s, ()))
            if len(grown) > session.DRIVER_ROWS:
                return None
        nxt = (grown - closure) | delta
        if len(nxt) == len(delta):
            return delta, True
        delta = nxt
    return delta, False


def _compose(a: DataFrame, b: DataFrame, value_col=None) -> DataFrame:
    """Relational composition a.b over (src, dst[, value_col]): one
    (s, d) row per a-edge (s, m) and b-edge (m, d), path lengths in
    `value_col` added along the two legs."""
    right = [F.col("src").alias("_mid"), F.col("dst").alias("_dst")]
    out = [F.col("a.src").alias("src"), F.col("_dst").alias("dst")]
    if value_col:
        right.append(F.col(value_col).alias("_v"))
        out.append((F.col(f"a.{value_col}") + F.col("_v")).alias(value_col))
    return (
        a.alias("a")
        .join(b.select(*right), F.col("a.dst") == F.col("_mid"))
        .select(*out)
    )


def _depth_rounds(max_depth: int) -> int:
    # after k growing rounds doubling covers every path of length
    # <= 2^k, so an input of depth <= max_depth stops growing within
    # ceil(log2(max_depth)) + 1 rounds and one more round observes it;
    # growth past that means a cycle or a deeper input than promised
    return math.ceil(math.log2(max(2, max_depth))) + 2


def _fixpoint(seed: DataFrame, step, max_rounds: int, value_col=None):
    """state <- step(state) from `seed`, at most `max_rounds` times,
    each state pinned by `pin_observed` with (rows, sum(value_col)).
    Converged = that pair repeats: exact, because every step keeps the
    last state's rows (a union) and only adds rows or lowers values
    (distinct / min). An empty seed is returned at once: every step
    here joins through the state. Returns (state, rows, converged)."""
    metrics = [F.count(F.lit(1))] + ([F.sum(value_col)] if value_col else [])
    state, seen = pin_observed(seed, *metrics)
    if not seen[0]:
        return state, 0, True
    for _ in range(max_rounds):
        state, now = pin_observed(step(state), *metrics)
        if now == seen:
            return state, now[0], True
        seen = now
    return state, seen[0], False


def _pattern_legs(patterns):
    """Validate patterns and compute a CONNECTED join order: seed with
    the most-bound pattern (most literals, original index as
    tie-break), then greedily append the most-bound remaining pattern
    that shares a variable with the already-bound set — deterministic,
    so plans and oracles agree. The connectivity constraint is part of
    the ORDER (round-6 advice): a pure literal-count sort could place
    two legs with no shared variable first and reject a BGP that IS
    connected through a later leg; now an error means the pattern
    group is genuinely disconnected."""
    if not patterns:
        raise ValueError("bgp_match: need at least one (s, p, o) pattern")

    def _vars(i):
        return {
            str(v)[1:]
            for v in patterns[i]
            if str(v).startswith(VAR_PREFIX) and len(str(v)) > 1
        }

    def _nlit(i):
        return sum(1 for v in patterns[i] if not str(v).startswith(VAR_PREFIX))

    remaining = list(range(len(patterns)))
    first = min(remaining, key=lambda i: (-_nlit(i), i))
    order = [first]
    remaining.remove(first)
    bound = _vars(first)
    while remaining:
        connected = [i for i in remaining if _vars(i) & bound]
        if not connected:
            raise ValueError(
                "bgp_match: disconnected pattern group (no shared variable) — "
                "run the groups as separate matches instead of a cross product"
            )
        nxt = min(connected, key=lambda i: (-_nlit(i), i))
        order.append(nxt)
        remaining.remove(nxt)
        bound |= _vars(nxt)
    return order


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    max_depth: int = 1024,
) -> DataFrame:
    """Match a SPARQL-style basic graph pattern against a
    (subj, pred, obj) triples DataFrame. Each pattern element is either
    a literal value or a variable ("?name"); the result has one column
    per distinct variable, bag semantics (duplicates preserved —
    exactly what the equivalent SQL join returns, so the oracle is the
    join itself).

    PROPERTY PATHS: a literal predicate ending in "+" (SPARQL
    one-or-more, e.g. "partOf+") turns that leg into the TRANSITIVE
    CLOSURE of the base predicate's edges — reachability_pairs over
    the pred-filtered scan (set semantics, matching SPARQL's path
    semantics), then joined like any other leg. `max_depth` bounds the
    shortest path such a leg must cover; a longer one raises
    ValueError rather than returning a truncated pair set.

    Scale shape: each pattern is one filtered projection of the
    triples scan — a literal pred reaches the parquet scan as a
    partition filter on the pred-partitioned layout
    (operators/triples.py write layout), literal subj/obj push down as
    data filters. Patterns join on shared variables, most-bound
    pattern first (deterministic heuristic); AQE then sizes each join
    (broadcast for selective legs) at runtime. Disconnected patterns
    (no shared variable with what came before, after the reorder) are
    rejected rather than silently cross-joined."""
    legs = []
    for s, p, o in patterns:
        sp = str(p)
        if not sp.startswith(VAR_PREFIX) and sp.endswith("+") and len(sp) > 1:
            # p+ leg: reachability pairs of the base predicate —
            # CYCLE-SAFE set-semantics fixpoint (round-6 advice):
            # SPARQL one-or-more paths are well-defined on cyclic
            # graphs, and real KG predicates (sameAs, messy partOf)
            # contain cycles, so the depth-tracking acyclic closure
            # (which raises on cycles) is the wrong tool here. On an
            # acyclic subgraph the pair set is identical.
            base = triples.where(F.col("pred") == F.lit(sp[:-1]))
            leg = reachability_pairs(base, "subj", "obj", max_depth)
            positions = zip(("subj", "obj"), (s, o))
        else:
            leg = triples
            positions = zip(("subj", "pred", "obj"), (s, p, o))
        proj: dict[str, F.Column] = {}
        for pos, val in positions:
            sval = str(val)
            if sval.startswith(VAR_PREFIX):
                name = sval[1:]
                if not name:
                    raise ValueError(f"bgp_match: bare '?' in pattern {(s, p, o)}")
                if name in proj:
                    # repeated variable inside one pattern: equality filter
                    leg = leg.where(F.col(pos) == proj[name])
                else:
                    proj[name] = F.col(pos)
            else:
                leg = leg.where(F.col(pos) == F.lit(val))
        if not proj:
            raise ValueError(
                f"bgp_match: pattern {(s, p, o)} binds no variable"
            )
        legs.append(leg.select(*[c.alias(n) for n, c in proj.items()]))

    out = None
    for i in _pattern_legs(patterns):
        leg = legs[i]
        if out is None:
            out = leg
            continue
        # _pattern_legs' order guarantees a shared variable
        out = out.join(leg, sorted(set(out.columns) & set(leg.columns)))
    return out


def reachability_pairs(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_depth: int = 1024,
) -> DataFrame:
    """All DISTINCT (subj, obj) reachability pairs over a directed edge
    set — set semantics, CYCLE-SAFE (the SPARQL "one-or-more" path
    evaluation): `_fixpoint` doubling over distinct pairs,
    P <- P u P.P, until the pair set stops growing. The state space is
    finite (<= n^2 pairs), so convergence needs no acyclicity
    assumption — unlike transitive_closure, whose exact-depth contract
    makes cycles divergent by construction. `max_depth` bounds the
    length of the shortest path that must be covered: the loop gets
    ceil(log2(max_depth)) + 1 growing rounds and raises ValueError if
    the pairs still grow past them."""
    seed = _edge_set(edges, src_col, dst_col)
    rounds = _depth_rounds(max_depth)
    local = _on_driver(edges, src_col, dst_col, _bfs_local)
    if local is None:
        pairs, _, converged = _fixpoint(
            seed, lambda p: p.unionByName(_compose(p, p)).distinct(), rounds
        )
    else:
        pairs = _local(seed, [(s, t) for s, t, _ in local])
        converged = max((d for _, _, d in local), default=0) <= _covered(rounds)
    if not converged:
        raise ValueError(
            f"reachability_pairs: still growing past max_depth={max_depth} — "
            "raise max_depth"
        )
    return pairs.toDF("subj", "obj")


def transitive_closure(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_depth: int = 1024,
) -> DataFrame:
    """All (node, ancestor, depth) reachability pairs over a directed
    ACYCLIC edge set (child -> parent), depth = exact path length.
    The partOf-hierarchy flatten: fs path -> folder -> repo -> org
    chains become one row per (item, container-at-any-level).

    `_fixpoint` doubling: P1 = E; P_{2k} = P_k u (P_k . P_k). A depth-d
    hierarchy converges in ceil(log2 d) self-joins — the reachability
    twin of components.py's pointer jumping (a 4000-deep chain needs 12
    rounds, not 4000). On an acyclic input every (node, ancestor) pair
    has a UNIQUE path, so the union needs only distinct(), no min();
    a cycle would diverge, hence the max_depth round bound raises
    rather than looping forever. The closure's output size is the
    inherent O(n * depth) of the answer itself."""
    seed = _edge_set(edges, src_col, dst_col, "depth")
    rounds = _depth_rounds(max_depth)
    local = _on_driver(
        edges, src_col, dst_col, lambda pairs: _closure_local(pairs, rounds)
    )
    if local is None:
        paths, _, converged = _fixpoint(
            seed,
            lambda p: p.unionByName(_compose(p, p, "depth")).distinct(),
            rounds,
            "depth",
        )
    else:
        rows, converged = local
        paths = _local(seed, rows)
    if not converged:
        raise ValueError(
            f"transitive_closure: still growing past max_depth={max_depth} — "
            "cyclic input or raise max_depth"
        )
    return paths.toDF(*_CLOSURE_COLS)


def _closure_parts(state_path: str):
    """(newest base dir or None, ordered seg dirs, next fold number)
    for the LSM closure layout: `base-v<n>/` holds a compacted
    closure, `seg-<n>/` holds one fold's delta. Read = newest base u
    all segs (duplicates from a crash between compaction rename and
    seg cleanup are absorbed by distinct on read)."""
    bases = numbered(state_path, "base-v")
    segs = numbered(state_path, "seg-")
    base = f"base-v{bases[-1]}" if bases else None
    nxt = max(bases[-1:] + segs[-1:] or [0]) + 1
    return base, [f"seg-{s}" for s in segs if not bases or s > bases[-1]], nxt


def _read_parts(spark, state_path: str) -> DataFrame | None:
    """The newest compacted base plus the append-log segments since
    it, duplicates kept; None when no state exists."""
    base, segs, _ = _closure_parts(state_path)
    df = None
    for p in ([base] if base else []) + segs:
        part = spark.read.parquet(os.path.join(state_path, p))
        df = part if df is None else df.unionByName(part)
    return df


def read_transitive_closure(spark, state_path: str) -> DataFrame | None:
    """Current maintained closure: `_read_parts`, distinct (absorbs the
    compaction-crash duplicate window). None when no state exists."""
    df = _read_parts(spark, state_path)
    return None if df is None else df.distinct()


def maintain_transitive_closure(
    spark,
    state_path: str,
    edge_batch: DataFrame,
    src_col: str,
    dst_col: str,
    max_depth: int = 1024,
    compact_every: int = 8,
) -> DataFrame:
    """Incremental transitive-closure maintenance: fold an arriving
    edge batch into a persisted (node, ancestor, depth) closure —
    the live form of the partOf flatten for a crawl that discovers
    containment edges batch by batch. Returns the full updated
    closure.

    Per-batch work is proportional to the DELTA closure, not the
    graph: with C the stored closure and N0 the batch edges, iterate

        N_{k+1} = N_k  u  N_k.C  u  C.N_k  u  N_k.N_k   (minus C)

    with `_fixpoint` — every new path decomposes into old-closure runs
    alternating with >= 1 new edge, and each round doubles the number
    of new-edge segments a discovered path can contain, so the loop
    converges in ceil(log2(new-edge segments)) rounds. Joins are only
    delta x closure / delta x delta; the stored closure is never
    re-derived. Acyclic contract as transitive_closure (cycle ->
    ValueError via the same max_depth round bound).

    State is LSM-SHAPED like maintain_overlap_index (dedup.py): each
    fold appends ONLY its delta as `seg-<n>/` (O(delta) write — the
    graph_bench probe of the v1 rewrite-the-closure layout measured
    late/early 1.50 from the O(closure) rewrite alone), and every
    `compact_every` folds the base+segs merge into a new `base-v<n>/`
    (amortized O(closure / compact_every) per fold). Seg and base
    writes are `state.publish` entries (crash windows in
    mel_tnnt_spark/state.py); every fold first sweeps the staging a
    killed write left, whose name a later compaction never reuses. A
    crash between the compaction publish and seg cleanup leaves
    duplicate rows that distinct-on-read absorbs exactly.

    Idempotent replay for free: a replayed batch's paths are already
    rows of C, so the delta shrinks to empty and the fold writes
    nothing at all.

    When the batch and the stored closure (duplicates included) each
    have at most DRIVER_ROWS rows, and closure plus delta stay within
    it, the delta is computed by the same recurrence on the driver and
    the returned closure is a LocalRelation; the writes are the same."""
    fresh = _edge_set(edge_batch, src_col, dst_col, "depth")
    sweep(state_path)
    base, segs, nxt = _closure_parts(state_path)
    # read once for both tiers: each part's read runs a schema job
    parts = _read_parts(spark, state_path)
    rounds = _depth_rounds(max_depth)
    local = _on_driver(
        edge_batch, src_col, dst_col,
        lambda pairs: _fold_on_driver(parts, pairs, rounds),
    )
    if local is not None:
        stored, new, converged = local
        # one partition, so a seg is one file (a LocalRelation scan
        # splits over every core)
        delta = _local(fresh, new).coalesce(1)
        closure, n_delta = _local(fresh, stored), len(new)
    else:
        closure, delta, n_delta, converged = _fold_distributed(
            parts, fresh, rounds
        )
    if not converged:
        raise ValueError(
            "maintain_transitive_closure: delta still growing past "
            f"max_depth={max_depth} — cyclic input or raise max_depth"
        )
    closure = closure.toDF(*_CLOSURE_COLS)
    if n_delta == 0:
        # replayed (or fully-known) batch: nothing to write — the
        # no-op IS the idempotency
        return closure
    delta = delta.toDF(*_CLOSURE_COLS)

    publish(delta, state_path, f"seg-{nxt}")
    # LAZY return: both inputs are checkpointed (or driver-local), and
    # only the caller who actually consumes the full closure pays for
    # the union — the fold itself writes O(delta)
    updated = closure.unionByName(delta)
    if len(segs) + 1 >= compact_every:
        # compaction: merge base + segs + this delta into a new base,
        # THEN drop the absorbed parts — leftover segs have numbers
        # <= the new base version, so reads exclude them exactly
        publish(updated.distinct(), state_path, f"base-v{nxt}")
        for d in ([base] if base else []) + segs + [f"seg-{nxt}"]:
            shutil.rmtree(os.path.join(state_path, d), ignore_errors=True)
    return updated


def _fold_on_driver(parts: DataFrame | None, pairs: set, rounds: int):
    """(stored closure rows, delta rows, converged) of one fold of the
    edge set `pairs` computed on the driver, or None when the stored
    `parts` or the result are over DRIVER_ROWS. The parts are collected
    by `session.collect_small`, duplicates dropped here."""
    stored = (
        [] if parts is None
        else session.collect_small(parts.select(*_CLOSURE_COLS))
    )
    if stored is None:
        return None
    stored = {tuple(r) for r in stored}
    local = _fold_local(stored, pairs, rounds)
    return None if local is None else (stored, *local)


def _fold_distributed(parts: DataFrame | None, fresh: DataFrame, rounds: int):
    """(stored closure, delta, delta rows, converged) of one fold of
    the stored `parts` as `_fixpoint` over pinned frames."""
    # distinct absorbs the compaction-crash duplicate window, as in
    # read_transitive_closure. Pin the view ONCE: the delta loop probes
    # the closure in ~3 joins per round — without this, every probe
    # re-reads base + segs from parquet and re-runs the distinct
    closure = (
        parts.distinct().select(*_CLOSURE_COLS).toDF("src", "dst", "depth")
        .localCheckpoint(eager=True)
        if parts is not None
        else fresh.limit(0)
    )

    def _minus(a: DataFrame) -> DataFrame:
        # subtract on the FULL (node, ancestor, depth) triple: on a DAG
        # a pair can be reachable at several depths and the from-scratch
        # closure keeps every one — dropping by pair would lose the new
        # depths and break chained == scratch. left_anti IS that
        # subtract (same rows as the historical left-join +
        # null-filter, one fewer projected column and no post-filter).
        return a.join(closure, ["src", "dst", "depth"], "left_anti")

    def _step(delta: DataFrame) -> DataFrame:
        # N.(C u N) == N.C u N.N — two joins instead of three per round
        # (one exchange + union arm saved; identical grown set)
        grown = (
            _compose(delta, closure.unionByName(delta), "depth")
            .unionByName(_compose(closure, delta, "depth"))
            .distinct()
        )
        return _minus(grown).unionByName(delta).distinct()

    # same round bound as transitive_closure: each growing round doubles
    # the number of new-edge segments a discovered path can contain
    delta, n_delta, converged = _fixpoint(_minus(fresh), _step, rounds, "depth")
    return closure, delta, n_delta, converged


def pagerank_micro(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int = 3,
) -> DataFrame:
    """PageRank in exact micro-integer arithmetic: damping 17/20
    (=0.85 exactly), ranks in units of 1e-12 starting at 1.0 per node
    (micro = 10^12), contributions floor-divided by out-degree. Every
    operation is int64 div/sum, so the fixpoint iterates are
    BIT-IDENTICAL across engines and shuffle orders — no float-sum
    order dependence — and the DuckDB oracle unrolls the identical
    iterations (the q85/q45 'oracle mirrors the whole iterative
    computation' pattern). Nodes without out-edges leak rank (the
    standard dangling simplification; documented, mirrored by the
    oracle).

    Returns (node, rank_micro) for every distinct node. Per iteration
    exactly ONE wide shuffle (groupBy dst); the degree dim is computed
    once and the edge list re-used. int64 headroom: sum of all ranks
    <= n * 1e12, times 17 must stay under 2^63 — fine to ~5e5 nodes at
    this quantum; drop the quantum one decade per 10x nodes beyond
    that (the caller owns the trade, documented here rather than
    hidden)."""
    if iterations < 0:
        raise ValueError(f"pagerank_micro: iterations must be >= 0, got {iterations}")
    e = _edge_set(edges, src_col, dst_col)
    ranks = _on_driver(
        edges, src_col, dst_col, lambda pairs: _pagerank_local(pairs, iterations)
    )
    if ranks is not None:
        node = e.select(F.col("src").alias("node")).unionByName(
            e.select(F.col("dst").alias("node"))
        )
        return _local(
            node.select("node", F.lit(0).cast("long").alias("rank_micro")), ranks
        )
    # Hoist the out-degree join OUT of the iteration loop (guide §2.4:
    # remove shuffles outright): the degree of an edge's source is
    # loop-invariant, so attach it to the edge list ONCE — each
    # iteration then joins ranks against a static side instead of
    # re-running an edges-x-degrees join. The static side is kept
    # LAZY, not checkpointed: within one fused job AQE's exchange
    # reuse computes the distinct and the degree aggregate once, and
    # an eager multi-hundred-MB edge checkpoint measurably DESTABILIZED
    # the query (block-manager churn: 7-34 s spread at sf1.0 vs
    # 8.2-15 s lazy, medians 13 vs 8.5). Long runs re-derive the
    # reused exchanges once per _CHECKPOINT_EVERY window — the cadence
    # bounds it.
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(deg, "src").select("src", "dst", "outdeg")
    # Node dim from the materialized e_deg (same edge set); with the
    # sparse-rank loop below it has exactly ONE consumer (the final
    # left join), so it stays LAZY — no checkpoint barrier, fused into
    # the final job.
    nodes = (
        e_deg.select(F.col("src").alias("node")).distinct()
        .unionByName(e_deg.select(F.col("dst").alias("node")).distinct())
        .distinct()
    )
    if iterations == 0:
        return nodes.withColumn("rank_micro", F.lit(_MICRO).cast("long"))
    # SPARSE rank representation (guide §2.4 — remove shuffles
    # outright): after any iteration, a node absent from the inflow
    # table has rank exactly BASE (BASE + 17/20 * 0), a constant — so
    # the loop carries only the inflow table and the full node dim is
    # attached ONCE at the end instead of re-left-joined every
    # iteration (one join + exchange per iteration removed). Iteration
    # 1 needs no rank join at all: every rank is the constant MICRO.
    # The integer arithmetic per node is unchanged op-for-op, so the
    # iterates stay bit-identical to the dense formulation (and the
    # unrolled oracle).
    inflow = None
    for it in range(1, iterations + 1):
        if inflow is None:
            contrib = e_deg.select(
                F.col("dst").alias("node"),
                F.expr(f"{_MICRO}L div outdeg").alias("c"),
            )
        else:
            contrib = (
                e_deg.join(
                    inflow.withColumnRenamed("node", "src"), "src", "left"
                )
                .select(
                    F.col("dst").alias("node"),
                    F.expr(
                        f"({_BASE}L + coalesce(in_micro, 0L) * 17 div 20)"
                        " div outdeg"
                    ).alias("c"),
                )
            )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("in_micro"))
        # inflow is referenced ONCE per iteration, so lineage is LINEAR
        # — checkpointing every iteration would serialize the whole
        # loop into per-iteration barriers (measured: 2->8 core
        # speedup 2.06x at 8M edges with eager per-iteration
        # checkpoints vs one fused multi-iteration job). Checkpoint
        # only every few iterations to cap plan depth on long runs.
        if it % _CHECKPOINT_EVERY == 0 and it < iterations:
            inflow = inflow.localCheckpoint(eager=True)
    return nodes.join(inflow, "node", "left").select(
        "node",
        (
            F.lit(_BASE) + F.expr("coalesce(in_micro, 0L) * 17 div 20")
        ).cast("long").alias("rank_micro"),
    )


def shortest_paths(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_hops: int,
) -> DataFrame:
    """Bounded-hop shortest-path distances (src, dst, dist) for every
    pair reachable within `max_hops` directed hops — the MIN-PLUS
    semiring twin of transitive_closure (entity-neighborhood radius
    queries: "everything within k hops of this entity" over the KG).

    Min-plus DOUBLING: D_{2k}(u,v) = min(D_k(u,v),
    min_w D_k(u,w) + D_k(w,v)), so ceil(log2(max_hops)) join+min
    rounds cover every path — and pruning to dist <= max_hops each
    round is lossless (any half of a <= max_hops shortest path is
    itself a shortest path of <= max_hops by subpath optimality).
    Cycles need no guard: the pruned state space is finite, the
    groupBy-min converges. One groupBy(src, dst) shuffle per round;
    `_fixpoint` stops early once a round changes nothing."""
    if max_hops < 1:
        raise ValueError(f"shortest_paths: max_hops must be >= 1, got {max_hops}")

    def _step(d: DataFrame) -> DataFrame:
        return (
            d.unionByName(_compose(d, d, "dist"))
            .where(F.col("dist") <= max_hops)
            .groupBy("src", "dst")
            .agg(F.min("dist").alias("dist"))
        )

    seed = _edge_set(edges, src_col, dst_col, "dist")
    local = _on_driver(
        edges, src_col, dst_col, lambda pairs: _bfs_local(pairs, max_hops)
    )
    if local is not None:
        return _local(seed, local)
    d, _, _ = _fixpoint(seed, _step, math.ceil(math.log2(max_hops)), "dist")
    return d


def deterministic_walks(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    walk_length: int,
) -> DataFrame:
    """DeepWalk-style random-walk corpus generation (Perozzi et al.
    2014) with DETERMINISTIC md5-derived step choices — the
    graph-embedding training-data operator (walks become the
    "sentences" a skip-gram embedding trains on), reproducible on any
    engine with no RNG state (the weighted_sample discipline applied
    to walks).

    One walk starts at EVERY node; at step k from node c the walk
    moves to the neighbor at index H(start, k, c) mod outdeg(c) in the
    dst-sorted adjacency, where H is the first 60 bits of
    md5("start|k|c") — so the oracle can unroll the identical steps.
    A walk reaching a node with no out-edges stops early (rows simply
    end). Returns (start, step, node), step 0 = the start node itself.

    Scale shape: the adjacency is ranked ONCE (row_number per src over
    dst order — a per-key window, bounded by max out-degree); each
    step is one (cur, idx) TWO-COLUMN equi-join probing exactly one
    neighbor per live walk (no per-neighbor fan-out), after a
    broadcastable outdeg attach. walk_length steps = walk_length
    equi-joins; frontier size only shrinks (dangling exits).

    Checkpoint cadence: the frontier is referenced twice per step
    (next step's input + the output union), so SOME materialization
    caps the recompute fan-out — but eager-checkpointing EVERY step
    serializes the walk into per-step barriers, the exact shape that
    cost pagerank_micro 2.2x before its cadence fix (round-6 verdict
    #4 applied here). Between cadence points the union arms recompute
    at most _CHECKPOINT_EVERY-1 cheap equi-joins from the last
    checkpoint; walks are bit-identical for any cadence."""
    if walk_length < 0:
        raise ValueError(
            f"deterministic_walks: walk_length must be >= 0, got {walk_length}"
        )
    e = _edge_set(edges, src_col, dst_col)
    adj = e.withColumn(
        "idx",
        F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1,
    ).localCheckpoint(eager=True)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out = nodes.select(
        F.col("node").alias("start"),
        F.lit(0).alias("step"),
        F.col("node"),
    ).localCheckpoint(eager=True)
    frontier = out
    for k in range(1, walk_length + 1):
        pick = (
            frontier.join(deg.withColumnRenamed("src", "node"), "node")
            .withColumn(
                "_h",
                F.expr(
                    "cast(conv(substr(md5(concat(cast(start as string), '|', "
                    f"{k}, '|', cast(node as string))), 1, 15), 16, 10) "
                    "as bigint)"
                ),
            )
            .select(
                "start",
                F.col("node").alias("_cur"),
                F.expr("_h % outdeg").alias("idx"),
            )
        )
        frontier = pick.join(
            adj.select(
                F.col("src").alias("_cur"), "idx", F.col("dst").alias("node")
            ),
            ["_cur", "idx"],
        ).select("start", F.lit(k).alias("step"), "node")
        if k % _CHECKPOINT_EVERY == 0 and k < walk_length:
            frontier = frontier.localCheckpoint(eager=True)
        out = out.unionByName(frontier)
    return out


def _degree_ordered(edges: DataFrame, a_col: str, b_col: str):
    """(canon, e): the canonical undirected edge set (lo < hi, no
    self-loops, distinct, pinned), and the same edges with both
    endpoint degrees (dlo, dhi) in the degree-ordered orientation of
    triangle_count: `low_end` is the lower-(degree, id) endpoint,
    `other_end` the other one."""
    canon = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("lo"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
        )
        .where(
            F.col("lo").isNotNull()
            & F.col("hi").isNotNull()
            & (F.col("lo") != F.col("hi"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        canon.select(F.col("lo").alias("node"))
        .unionByName(canon.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    lo_first = (F.col("dlo") < F.col("dhi")) | (
        (F.col("dlo") == F.col("dhi")) & (F.col("lo") < F.col("hi"))
    )
    e = (
        canon.join(deg.select(F.col("node").alias("lo"), F.col("deg").alias("dlo")), "lo")
        .join(deg.select(F.col("node").alias("hi"), F.col("deg").alias("dhi")), "hi")
        .withColumn("low_end", F.when(lo_first, F.col("lo")).otherwise(F.col("hi")))
        .withColumn("other_end", F.when(lo_first, F.col("hi")).otherwise(F.col("lo")))
    )
    return canon, e


def triangle_count(
    edges: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Per-node triangle participation counts over an UNDIRECTED graph
    given as (a, b) pairs (orientation/duplicates/self-loops cleaned
    here). Returns (node, n_triangles) for nodes in >= 1 triangle.

    Degree-ordered orientation (Suri & Vassilvitskii 2011, the MapReduce
    triangle-count bound): orient each edge from its lower-(degree,
    node) endpoint to the higher one. In that orientation every
    triangle has exactly ONE vertex with two out-edges, so counting
    closed wedges (u->v, u->w, {v,w} in E) counts each triangle exactly
    once — and the wedge generation at each node is C(outdeg, 2) with
    outdeg bounded by O(sqrt(m)), so a crawl-graph star (one host
    linked by millions) costs sqrt-bounded wedges instead of
    degree^2. The closing probe is an equi-join against the canonical
    edge set on the (least, greatest) key — never a cartesian."""
    canon, e = _degree_ordered(edges, a_col, b_col)
    oriented = e.select(
        F.col("low_end").alias("src"), F.col("other_end").alias("dst")
    )
    wedges = (
        oriented.alias("x")
        .join(
            oriented.select(
                F.col("src").alias("src2"), F.col("dst").alias("dst2")
            ).alias("y"),
            (F.col("x.src") == F.col("src2")) & (F.col("x.dst") < F.col("dst2")),
        )
        .select(
            F.col("x.src").alias("u"),
            F.col("x.dst").alias("v"),
            F.col("dst2").alias("w"),
        )
    )
    closed = wedges.join(
        canon.select(F.col("lo").alias("_clo"), F.col("hi").alias("_chi")),
        (F.least("v", "w") == F.col("_clo"))
        & (F.greatest("v", "w") == F.col("_chi")),
    ).select("u", "v", "w")
    return (
        closed.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def khop_aggregate(
    edges: DataFrame,
    features: DataFrame,
    src_col: str,
    dst_col: str,
    node_col: str,
    feature_col: str,
    k: int,
) -> DataFrame:
    """K-hop neighborhood feature aggregation — the GNN
    message-passing primitive done relationally: for every node, the
    SUM of an integer feature over all nodes reachable within k
    directed hops (each reachable neighbor counted ONCE, however many
    paths lead to it — shortest_paths dedups to min distance per
    pair). Returns (node, n_neighbors, feature_sum).

    Integer features keep the aggregate exact on any engine (the
    micro-integer discipline); use a quantized feature for floats.
    Cost = shortest_paths (log2(k) join+min rounds) + one broadcastable
    feature join + one groupBy — the output row count is nodes, not
    paths."""
    paths = shortest_paths(edges, src_col, dst_col, k)
    feat = features.select(
        F.col(node_col).alias("dst"),
        F.col(feature_col).cast("long").alias("_f"),
    )
    return (
        paths.join(feat, "dst")
        .groupBy(F.col("src").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum("_f").alias("feature_sum"),
        )
    )


def edge_neighborhood_jaccard(
    edges: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Neighborhood-overlap similarity for every existing undirected
    edge — the classic link-prediction / graph-dedup feature:
    jaccard(u, v) = |N(u) n N(v)| / |N(u) u N(v)| over neighbor sets
    (N(x) includes the other endpoint). Returns (lo, hi, n_shared,
    jaccard), jaccard rounded to 6.

    Scale shape: common neighbors expand from the LOWER-degree
    endpoint of each edge (the triangle_count orientation argument):
    fan-out per edge is min(deg(u), deg(v)), so total candidate rows
    are O(sum_e min-deg) = O(m^1.5) on any graph instead of
    O(sum deg^2) — a crawl star contributes its leaves' tiny degrees,
    not hub-degree^2. The membership probe is an equi-join against
    the canonical edge set."""
    canon, e = _degree_ordered(edges, a_col, b_col)
    adj = canon.select(
        F.col("lo").alias("low_end"), F.col("hi").alias("w")
    ).unionByName(canon.select(F.col("hi").alias("low_end"), F.col("lo").alias("w")))
    # expand candidates from the low-degree endpoint, excluding the
    # edge partner itself (w == other endpoint is not a COMMON
    # neighbor candidate — it is not adjacent to itself)
    cand = e.join(adj, "low_end").where(F.col("w") != F.col("other_end"))
    shared = (
        cand.join(
            canon.select(
                F.col("lo").alias("_clo"), F.col("hi").alias("_chi")
            ),
            (F.least("other_end", "w") == F.col("_clo"))
            & (F.greatest("other_end", "w") == F.col("_chi")),
        )
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        e.join(shared, ["lo", "hi"], "left")
        .select(
            "lo",
            "hi",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0))
                / (F.col("dlo") + F.col("dhi") - F.coalesce("n_shared", F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )
