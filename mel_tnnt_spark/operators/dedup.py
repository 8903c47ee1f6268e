"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its only dup check is an O(n^2)
duplicate-document scan, code/MEL/__init__.py:684-709); these are the
first-class scale operators the rebuild adds:

- exact dedup            — hash groupBy, min-id survivor
- n-gram Jaccard near-dup — shingle equi-join (inverted-index style)
- MinHash + LSH           — portable md5-based minhash, banded buckets
- SimHash                 — 64-bit signature, bucketed by prefix
- embedding near-dup      — cosine >= threshold via blocked join

Hashes are md5-derived (first 15 hex chars -> bigint) so Spark plans
and DuckDB oracles agree bit-for-bit — no JVM-specific hash functions
in any semantics-bearing position.

Scale notes: every pair-generating operator joins on a blocking key
(shingle, band bucket, signature prefix) — never a cross join. The
`a.id < b.id` predicate halves the pair space; AQE handles skewed
blocks (stopword-like shingles are pre-filtered by document frequency).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mel_tnnt_spark.state import entries, pin, publish, sweep

# portable 60-bit hash: conv(substr(md5(x),1,15),16,10)
def _h(col_expr: str) -> str:
    return f"CAST(conv(substr(md5({col_expr}), 1, 15), 16, 10) AS BIGINT)"


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups -> survivor = min id per identical text.
    One shuffle on the text hash; carries the hash, not the text."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("survivor_id"), F.count("*").alias("group_size"))
    )


def _shingle_array(w, n: int):
    """Word n-gram shingles as a per-row ARRAY from a MATERIALIZED
    token-array column `w` — THE single source of truth for the shingle
    definition (shingles() explodes this array, MinHash folds it,
    winnowing posexplodes it). Duplicates are kept (min() is
    insensitive; the Jaccard path dedups after the explode).

    `w` must be a column reference to an already-projected token array,
    never the tokenize expression itself: this builder references `w`
    three times, and CollapseProject deliberately keeps multi-referenced
    non-cheap aliases in their own projection — inlining the
    regexp_replace+lower+trim+split here made codegen evaluate the
    tokenization THREE times per row (the round-3 q18 +48% regression;
    A/B in BENCH.md: 7.3 s -> 3.0 s on the sf0.1 Jaccard harness)."""
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.array_join(F.slice(w, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _w) with the normalize+split tokenization materialized in
    its own projection (see _shingle_array's contract)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " "))), " ").alias(
            "_w"
        ),
    )


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, positional: bool = False
) -> DataFrame:
    """(id, shingle) — or (id, pos, shingle) — long form, tokenizing
    once per row."""
    arr = _shingle_array(F.col("_w"), n)
    toks = _tokenized(df, id_col, text_col)
    if positional:
        return toks.select("id", F.posexplode(arr).alias("pos", "shingle"))
    return toks.select("id", F.explode(arr).alias("shingle"))


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """DISTINCT word n-gram shingle set per doc (long form) — the
    inverted-index side of the Jaccard path."""
    return _exploded_shingles(df, id_col, text_col, n).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard via an inverted-index equi-join
    on the shingle (never a cross join): |A ∩ B| from the join,
    |A ∪ B| = |A| + |B| - |A ∩ B|.

    max_df: document-frequency cap — shingles occurring in more than
    max_df docs are dropped from the index BEFORE the self-join. This is
    the 100-TB guard: one stopword-like shingle shared by 1e5 docs
    otherwise generates 1e10 candidate pairs. Jaccard is computed over
    the filtered shingle space on BOTH sides of the ratio (sizes count
    surviving shingles), so the score remains a true Jaccard of the
    surviving sets and an external oracle can reproduce it exactly.

    Plan shape: per-doc sizes attach via a window over id (no separate
    sizes table and no pairs->sizes re-joins); the self-join's two sides
    are the identical subplan, so the shuffle is planned once and reused
    (ReusedExchange) — no cache to leak."""
    from pyspark.sql.window import Window

    sh = shingles(df, id_col, text_col, n)
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    sized = sh.withColumn("n_sh", F.count("*").over(Window.partitionBy("id")))
    pairs = (
        sized.alias("a")
        .join(sized.alias("b"), "shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count("*").alias("common"),
            F.first(F.col("a.n_sh")).alias("n_a"),
            F.first(F.col("b.n_sh")).alias("n_b"),
        )
    )
    return (
        pairs.withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def minhash_affine_consts(k: int) -> list[tuple[int, int]]:
    """Per-seed (a, b) for the universal-hash family over GF(p),
    p = 2^31 - 1: h_i = (a_i * h31 + b_i) mod p with a_i in [1, p-1],
    b_i in [0, p-1] — one md5 per shingle instead of k (measured 1.5x
    faster than md5-per-seed at sf0.1 AND 16x less hashing at
    production k). The modulus is essential: without it the map is
    strictly monotone, every seed's min lands on the same shingle, and
    the k components collapse to affine images of one value (caught in
    round-3 self-review). a*h+b < p*(p+1) < 2^62: no BIGINT overflow
    in either engine. Oracles regenerate these constants through
    __spark_entry__._minhash_seeds_values()."""
    return [
        (
            ((2 * i + 1) * 2654435761) % (MINHASH_P - 1) + 1,
            (i * 40503 + 17) % MINHASH_P,
        )
        for i in range(k)
    ]


def _minhash_agg(df: DataFrame, id_col: str, text_col: str, n: int, k: int) -> DataFrame:
    """(id, m0..m{k-1}) one row per doc with shingles — the shared
    signature plan: explode shingles (NO distinct), ONE codegen md5 per
    occurrence masked to 31 bits, k affine rehashes as aggregate
    columns of a single map-side-combined groupBy. The only shuffle
    moves |docs| combined rows of k longs — never the shingle stream
    (the earlier formulations either shuffled |shingles| x k exploded
    rows or paid interpreted higher-order-function evaluation, ~2-3x
    slower than codegen; A/B numbers in BENCH.md)."""
    ex = _exploded_shingles(df, id_col, text_col, n)
    h31 = F.expr(_h("shingle")).bitwiseAND(F.lit(0x7FFFFFFF))
    hashed = ex.select("id", h31.alias("h"))
    return hashed.groupBy("id").agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{i}")
            for i, (a, b) in enumerate(minhash_affine_consts(k))
        ]
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 16
) -> DataFrame:
    """MinHash: sig_i(doc) = min over shingles of the i-th affine
    rehash of the portable md5-31bit shingle hash. Long form
    (id, seed, minhash) — k rows per doc via stack() over the
    single-row aggregate. Docs with no shingles produce no row."""
    agg = _minhash_agg(df, id_col, text_col, n, k)
    stack = ", ".join(f"{i}, m{i}" for i in range(k))
    return agg.select("id", F.expr(f"stack({k}, {stack}) AS (seed, minhash)"))


def band_widths(k: int, bands: int) -> list[int]:
    """Floor/ceil seed-count split: exactly `bands` entries, each >= 1,
    summing to k; the first k % bands bands take the extra seed. Shared
    by minhash_lsh_pairs (and mirrors simhash_pairs' bit split)."""
    base, rem = divmod(k, bands)
    return [base + 1] * rem + [base] * (bands - rem)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH candidate pairs: split the k-minhash signature into `bands`
    bands of k/bands values; band key = md5 of the concatenated
    minhashes (seed order); docs sharing any band bucket become
    candidates. Returns distinct candidate pairs (verify with
    ngram_jaccard_pairs or exact check).

    Band buckets come straight off the one-row-per-doc aggregate — no
    collect_list regroup; beyond the signature groupBy the only
    shuffle is the candidate equi-join on (band, bucket). When bands
    does not divide k, widths are distributed floor/ceil (the first
    k % bands bands get one extra seed, like simhash_pairs) so exactly
    `bands` bands are produced and no seed is silently dropped — a
    ceil-only split could exceed the requested band count and steepen
    the LSH s-curve beyond what the caller asked for (round-4 advice)."""
    if not 1 <= bands <= k:
        raise ValueError(f"bands must be in [1, {k}], got {bands}")
    agg = _minhash_agg(df, id_col, text_col, n, k)
    widths = band_widths(k, bands)
    offsets = [sum(widths[:b]) for b in range(bands)]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{i}").cast("string")
                            for i in range(off, off + w)
                        ],
                    )
                ).alias("bucket"),
            )
            for b, (off, w) in enumerate(zip(offsets, widths))
        ]
    )
    banded = agg.select("id", F.explode(band_structs).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _bit_mask(b: int) -> int:
    # bit 63 of a signed long is the sign bit; (1 << 63) wraps to
    # min-long, matching shiftleft(1L, 63) semantics
    return (1 << b) if b < 63 else -(1 << 63)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash signature over word tokens (weight = occurrence count;
    per-occurrence sign sums are identical). bit_b(doc) = 1 iff
    sum over token occurrences((2*bit_b(h(token)) - 1)) > 0;
    signature = sum(bit_b << b). 16 bits keeps the oracle SQL
    tractable; the same plan runs at the full 64-bit production width.

    A single md5 half gives only 60 usable token-hash bits (15 hex
    chars), so signature bits 60-63 draw from the SECOND md5 half —
    otherwise they'd be constant 0 at 64-bit width, silently degrading
    Hamming distances. Caps at 64 (a long signature).

    Plan: explode tokens, ONE codegen md5 per occurrence, `bits`
    per-bit sign sums as aggregate columns of a map-side-combined
    groupBy — the shuffle carries one bits-long row per doc per
    mapper, never the token stream. (A previous formulation computed
    the same signature as a zero-shuffle aggregate/zip_with fold;
    measured 1.4x SLOWER at sf0.1 because Spark evaluates
    higher-order-function lambdas interpreted, outside whole-stage
    codegen — same lesson as the MinHash A/B in BENCH.md.) Docs with
    no tokens produce no row."""
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash bits must be in [1, 64], got {bits}")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit(""))
        ).alias("t"),
    )

    def _half(lo):
        return F.conv(F.substring(F.md5("t"), lo, 15), 16, 10).cast("long")

    cols = {"id": F.col("id"), "h1": _half(1)}
    if bits > 60:
        cols["h2"] = _half(17)
    hashed = toks.select(*[v.alias(k) for k, v in cols.items()])

    def _hash_bit(b):
        # bits 0-59 from the first md5 half, 60-63 from the second
        src_col, off = ("h1", b) if b < 60 else ("h2", b - 60)
        return F.col(src_col).bitwiseAND(F.lit(_bit_mask(off))) != 0

    sums = hashed.groupBy("id").agg(
        *[
            F.sum(_hash_bit(b).cast("long") * 2 - 1).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        term = (F.col(f"s{b}") > 0).cast("long") * F.lit(_bit_mask(b))
        sig = term if sig is None else sig + term
    return sums.select("id", sig.alias("simhash"))


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    pivots: list[list[float]] | None = None,
    bits_per_band: int = 2,
) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cosine >= threshold.

    Gated/scale path: banded random-hyperplane LSH. `pivots` is a list
    of hyperplane vectors — callers derive them FROM THE DATA (e.g. the
    first few embeddings) so an external oracle can reproduce the
    blocking bit-for-bit. Sign bits group into bands of `bits_per_band`;
    vectors sharing ANY band bucket become candidates (one equi-join per
    band, never a cross join). A pair colliding in several bands is
    deduplicated AFTER the threshold filter, when only (id_a, id_b,
    cosine) survive — vectors never pass through the distinct shuffle.
    Candidate recall for a pair at angle θ is 1-(1-(1-θ/π)^bits)^bands;
    measured against the exact path in tests/test_curation_ops.py.

    pivots=None is the exact all-pairs fallback (crossJoin) — for tests
    and recall measurement only, never the gated path at scale."""
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    dot = F.expr("aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    nrm = lambda side: F.sqrt(F.expr(f"aggregate({side}.v, 0D, (acc, x) -> acc + x * x)"))
    if pivots:
        def _bit(p: list[float]):
            plit = F.array(*[F.lit(float(x)) for x in p])
            d = F.aggregate(
                F.zip_with("v", plit, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return (d >= 0).cast("int").cast("string")

        n_bands = (len(pivots) + bits_per_band - 1) // bits_per_band
        bands = F.array(
            *[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.concat(
                        *[_bit(p) for p in pivots[bi * bits_per_band : (bi + 1) * bits_per_band]]
                    ).alias("bucket"),
                )
                for bi in range(n_bands)
            ]
        )
        blocked = v.select("id", "v", F.explode(bands).alias("bb")).select(
            "id", "v", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
        joined = blocked.alias("a").join(blocked.alias("b"), ["band", "bucket"])
    else:
        joined = v.alias("a").crossJoin(v.alias("b"))
    # zero-norm guard: a single all-zero embedding would otherwise throw
    # divideByZeroError under ANSI mode and kill the whole job; NULL
    # cosine fails the threshold and the pair simply drops out
    denom = nrm("a") * nrm("b")
    return (
        joined.where(F.col("a.id") < F.col("b.id"))
        .withColumn("cosine", F.when(denom > 0, F.round(dot / denom, 6)))
        .where(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate PAIRS: (id_a, id_b, hamming) for every
    pair whose signatures differ in <= max_hamming bits — the pair
    stage that turns the per-doc signature (simhash(), gated q20) into
    a dedup decision.

    Scale shape: banded equi-join, never all-pairs. The signature is
    split into max_hamming+1 contiguous bit-bands; by pigeonhole, two
    signatures within Hamming distance max_hamming agree EXACTLY on at
    least one band, so candidate generation is one self-equi-join on
    (band_idx, band_value) with recall 1.0 (no probabilistic miss,
    unlike MinHash-LSH banding). Exact popcount(xor) then filters
    candidates, and multi-band collisions are deduplicated after the
    filter when only the id pair + distance survive. Shuffle volume is
    (max_hamming+1) x |docs| band rows, never |docs|^2.

    Reference analogue: the duplicate-document scan
    (code/MEL/__init__.py:684-709) is exact-equality O(n^2); this is
    its near-dup generalization at the same asymptotic cost as q35."""
    if not 0 <= max_hamming < bits:
        raise ValueError(f"max_hamming must be in [0, {bits}), got {max_hamming}")
    sig = simhash(df, id_col, text_col, bits=bits)
    n_bands = max_hamming + 1
    # floor/ceil width distribution: every band is 1..64 bits wide for
    # ANY valid (bits, max_hamming) — a ceil-only split can produce a
    # zero-width trailing band whose constant value joins all docs
    # pairwise (found in round-3 self-review)
    base, rem = divmod(bits, n_bands)
    widths = [base + 1] * rem + [base] * (n_bands - rem)
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    band_vals = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(
                F.lit(-1 if w == 64 else (1 << w) - 1)
            )
            for off, w in zip(offsets, widths)
        ]
    )
    banded = sig.select("id", "simhash", F.posexplode(band_vals).alias("band", "bval"))
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bval"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
    )
    return cand.where(F.col("hamming") <= max_hamming).distinct()


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm, at word-shingle granularity):
    hash every positional n-gram, slide a window of `window`
    consecutive positions, keep each window's MINIMUM hash; the
    distinct minima are the document's fingerprints. Guarantees of the
    scheme: any shared substring of >= window+n-1 tokens yields at
    least one shared fingerprint, while storage shrinks ~2/(window+1)
    of the shingle count — the PARTIAL-overlap / contamination
    detector, complementing whole-document near-dup (Jaccard/MinHash/
    SimHash operate on whole-set similarity and miss a paragraph
    copied into an otherwise-different document).

    Variant note: canonical winnowing breaks min ties by rightmost
    position; keeping the distinct minima VALUES (position-free) has
    identical detection power for set-intersection queries and stays a
    pure relational window-min — one explode, one running-window min,
    one distinct. Only FULL windows emit a fingerprint (n_shingles −
    window + 1 windows, the canonical count): the same frame carries a
    count(*) and truncated trailing windows are dropped, so two docs
    merely ending in the same shingle do not share a spurious
    fingerprint (round-4 advice). Docs with fewer than `window`
    shingles produce no fingerprints — below the w+n−1-token guarantee
    floor there is nothing winnowing can promise anyway. Output:
    (id, fingerprint) rows."""
    from pyspark.sql.window import Window

    sh = _exploded_shingles(df, id_col, text_col, n, positional=True).select(
        "id", "pos", F.expr(_h("shingle")).alias("h")
    )
    w = Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        sh.select(
            "id",
            F.min("h").over(w).alias("fingerprint"),
            F.count("*").over(w).alias("_n"),
        )
        .where(F.col("_n") == window)
        .select("id", "fingerprint")
        .distinct()
    )


def overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = 50,
) -> DataFrame:
    """Document pairs sharing >= min_shared winnowing fingerprints —
    partial-overlap candidates via the same inverted-index equi-join
    shape as the Jaccard path (never all-pairs; max_df drops
    boilerplate fingerprints shared by everything, the same 100-TB
    hot-key guard as ngram_jaccard_pairs)."""
    fp = winnowing_fingerprints(df, id_col, text_col, n, window)
    if max_df is not None:
        rare = (
            fp.groupBy("fingerprint")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("fingerprint")
        )
        fp = fp.join(rare, "fingerprint")
    return (
        fp.alias("a")
        .join(fp.alias("b"), "fingerprint")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    quality_col: str | None = None,
) -> DataFrame:
    """The dedup DECISION stage: near-dup pairs (from any generator in
    this module — Jaccard q18, MinHash-LSH q35, SimHash q62, embedding
    q28, winnowing q73) -> connected components -> one survivor per
    cluster. This is what a 100 TB curation pipeline actually executes:
    pairwise similarity is not transitive, so A~B and B~C must collapse
    {A,B,C} into ONE cluster even when A~C fails the threshold — only
    components gives that closure. (Reference analogue: the exact-dup
    scan at code/MEL/__init__.py:684-709 keeps the first document of
    each identical group; this is its transitive near-dup
    generalization.)

    Output: (id, cluster_id, survivor_id, is_survivor) for EVERY doc —
    docs in no pair are their own singleton survivors. cluster_id is
    the component's min id (stable across runs). Survivor policy:
    min id by default; with quality_col, the cluster's max-quality doc
    (ties broken by min id — max_by struct with negated id).

    Scale shape: CC runs on the PAIR graph (already df-capped /
    LSH-bounded, orders of magnitude smaller than the corpus), then one
    broadcast-size join per cluster table; the corpus table is touched
    by exactly one left join."""
    from mel_tnnt_spark.operators.components import connected_components

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    cc = connected_components(edges)  # (node, component=min id)
    if quality_col is None:
        lab = cc.select(
            F.col("node").alias(id_col),
            F.col("component").alias("cluster_id"),
            F.col("component").alias("survivor_id"),
        )
    else:
        q = docs.select(F.col(id_col).alias("node"), F.col(quality_col).alias("_q"))
        scored = cc.join(q, "node")
        # max quality then MIN id, without negating the id (unary minus
        # on a string id silently casts to double->null, making the
        # tie-break nondeterministic — round-4 review find): take the
        # component's max quality, then the min id among its holders
        qmax = scored.groupBy("component").agg(F.max("_q").alias("_qmax"))
        surv = (
            scored.join(qmax, "component")
            .where(F.col("_q").eqNullSafe(F.col("_qmax")))
            .groupBy("component")
            .agg(F.min("node").alias("survivor_id"))
        )
        lab = cc.join(surv, "component").select(
            F.col("node").alias(id_col),
            F.col("component").alias("cluster_id"),
            "survivor_id",
        )
    out = docs.select(id_col).join(lab, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        F.coalesce("survivor_id", F.col(id_col)).alias("survivor_id"),
        (F.coalesce("survivor_id", F.col(id_col)) == F.col(id_col)).alias(
            "is_survivor"
        ),
    )


def overlap_pairs_against(
    corpus_fp: DataFrame,
    batch: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = 50,
    batch_fp: DataFrame | None = None,
) -> DataFrame:
    """CROSS-corpus contamination: (corpus_id, batch_id, shared) pairs
    between a NEW batch of documents and an EXISTING fingerprint index
    (id, fingerprint) — the incremental-dedup shape for checking a new
    crawl against a 100 TB corpus WITHOUT re-fingerprinting the corpus:
    only the batch is winnowed, the join touches index rows by
    fingerprint, and batch-x-batch / corpus-x-corpus pairs are out of
    scope by construction (check the batch against itself with
    overlap_pairs if intra-batch dedup is also wanted).

    The document-frequency guard runs over the UNION df (corpus +
    batch occurrences), so a boilerplate fingerprint hot on EITHER
    side is dropped before the join — same hot-key defense as
    overlap_pairs.

    batch_fp: precomputed winnowing fingerprints of the batch (same
    (id, fingerprint) shape), so a caller that already fingerprinted
    the batch (maintain_overlap_index merges them anyway) does not pay
    the tokenize+window scan again."""
    bfp = (
        batch_fp.select("id", "fingerprint")
        if batch_fp is not None
        else winnowing_fingerprints(batch, id_col, text_col, n, window)
    )
    cfp = corpus_fp.select(F.col(id_col).alias("id"), "fingerprint")
    if max_df is not None:
        rare = (
            cfp.unionByName(bfp)
            .groupBy("fingerprint")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("fingerprint")
        )
        cfp = cfp.join(rare, "fingerprint")
        bfp = bfp.join(rare, "fingerprint")
    return (
        cfp.alias("a")
        .join(bfp.alias("b"), "fingerprint")
        .groupBy(
            F.col("a.id").alias("corpus_id"), F.col("b.id").alias("batch_id")
        )
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


FP_INDEX_VERSION = 2  # full-window winnowing minima, md5-60bit hash
_OVERLAP_META = "_overlap_meta.json"
_FP_SUBDIR = "fp"
_FP_LOG_SUBDIR = "fp_log"
DEFAULT_COMPACT_EVERY = 16


def _overlap_meta_check(index_path: str, n: int, window: int, n_buckets: int) -> int:
    """Pin the fingerprint DEFINITION to the index (round-4 advice):
    an index is only comparable to batches winnowed with the SAME
    (n, window, algorithm version) — a silent mix yields missed or
    spurious contamination pairs. Written at creation, verified on
    every subsequent call; mismatch raises instead of corrupting.
    Also records the bucket layout (base table and append-log must
    share one bucket function); returns the pinned n_buckets."""
    import os

    if entries(index_path, "kb="):
        raise ValueError(
            f"overlap index at {index_path} has the pre-`fp/` layout (kb= "
            "dirs at its root); rebuild the index"
        )
    meta = pin(
        os.path.join(index_path, _OVERLAP_META),
        {"n": n, "window": window, "fp_version": FP_INDEX_VERSION,
         "n_buckets": n_buckets},
    )
    got = (meta.get("n"), meta.get("window"), meta.get("fp_version"))
    want = (n, window, FP_INDEX_VERSION)
    if got != want:
        raise ValueError(
            f"overlap index at {index_path} was built with "
            f"(n, window, fp_version)={got}; this call uses {want} — "
            "mixed fingerprint definitions are incomparable. Rebuild "
            "the index or call with the recorded parameters."
        )
    return int(meta.get("n_buckets", n_buckets))


def content_tag(df, *cols) -> str:
    """Order-independent content hash of a batch over `cols` — the
    append-log's idempotency key. A replayed batch (same rows, any
    order/partitioning) produces the same tag, so its log directory
    already exists and the append is skipped. Fully distributed: one
    pass of commutative per-row-hash folds, collected as a single row.

    Collision resistance: a bare sum is not multiset-safe (two rows
    can trade +d/-d), so the tag combines three independent
    order-invariant folds — sum, bit_xor, and a sum of squares in a
    second hash domain — plus the count. An additive collision would
    have to hold simultaneously in all three folds."""
    h1 = F.xxhash64(*cols)
    h2 = F.xxhash64(F.lit("tag2"), *cols)
    row = df.select(
        # decimal accumulator: a long sum of 64-bit hashes overflows
        # (ANSI mode raises); decimal(38,0) holds ~10^18 rows of slack
        F.sum(h1.cast("decimal(38,0)")).alias("h"),
        F.bit_xor(h1).alias("x"),
        F.sum(((h2 % F.lit(2147483647)) * (h2 % F.lit(2147483647))).cast("decimal(38,0)")).alias("s"),
        F.count("*").alias("c"),
    ).collect()[0]
    m = (1 << 64) - 1
    return (
        f"{int(row['h'] or 0) & m:016x}-{int(row['x'] or 0) & m:016x}"
        f"-{int(row['s'] or 0) & m:016x}-{row['c']}"
    )


def _batch_tag(bfp) -> str:
    """content_tag over the fingerprint-batch key columns."""
    return content_tag(bfp, F.col("id"), F.col("fingerprint"))


def _fold_into_log(
    spark, index_path: str, rows, tag: str, id_col: str, n_buckets: int,
    compact_every: int,
) -> None:
    """Fold one batch's (fingerprint, id_col) rows into an LSM index:
    sweep crashed appends, append `fp_log/batch=<tag>/kb=*` in the
    base's bucket layout (skipped when a replay finds its entry
    committed), then every `compact_every` entries MERGE the log into
    the `fp/` base (keeping only its current snapshot) and drop the
    merged entries. Merge-then-delete: a crash between them leaves
    rows readable in both, which the probes'
    (fingerprint, id) dedup absorbs, and the next compaction re-merges
    idempotently (keyed upsert) before deleting."""
    import os
    import shutil

    from mel_tnnt_spark.operators.merge_sink import (
        _bucket_expr,
        expire_snapshots,
        merge_upsert,
    )

    log_path = os.path.join(index_path, _FP_LOG_SUBDIR)
    sweep(log_path)
    if not os.path.isdir(os.path.join(log_path, f"batch={tag}")):
        publish(
            rows.withColumn("kb", _bucket_expr(("fingerprint",), n_buckets))
            .repartition(F.col("kb")),
            log_path, f"batch={tag}", partition_by="kb",
        )
    dirs = entries(log_path, "batch=")
    if len(dirs) >= compact_every:
        log_all = (
            spark.read.option("basePath", log_path)
            .parquet(*[os.path.join(log_path, d) for d in dirs])
            .drop("kb", "batch")
            .dropDuplicates(["fingerprint", id_col])
        )
        fp_path = os.path.join(index_path, _FP_SUBDIR)
        merge_upsert(
            spark, fp_path, log_all,
            keys=("fingerprint", id_col),
            bucket_keys=("fingerprint",),
            n_buckets=n_buckets,
        )
        expire_snapshots(fp_path, keep_last=1)
        for d in dirs:
            shutil.rmtree(os.path.join(log_path, d), ignore_errors=True)


def _read_log_pruned(
    spark, log_path: str, probe, n_buckets: int, touched: set | None = None
):
    """Read the append-log rows in the buckets `probe`'s fingerprints
    hash into: O(|log| ∩ touched buckets), log size bounded by the
    compaction threshold. Returns None when the log is empty.
    `touched` (optional): the probe's bucket-id set, pre-computed with
    the SAME bucket fn/count, so base and log reads share one collect."""
    import os

    from mel_tnnt_spark.operators.merge_sink import _bucket_expr

    dirs = entries(log_path, "batch=")
    if not dirs:
        return None
    if touched is None:
        kb = _bucket_expr(("fingerprint",), n_buckets)
        touched = {r[0] for r in probe.select(kb.alias("_b")).distinct().collect()}
    paths = [
        os.path.join(log_path, d, f"kb={b}")
        for d in dirs
        for b in sorted(touched)
        if os.path.isdir(os.path.join(log_path, d, f"kb={b}"))
    ]
    if not paths:
        return None
    return (
        spark.read.option("basePath", log_path)
        .parquet(*paths)
        .drop("kb", "batch")
    )


def read_overlap_index(spark, index_path: str, id_col: str = "id"):
    """The logical fingerprint index: base ∪ log, deduped on
    (fingerprint, id) — the view the probe joins against. None when
    the index holds nothing yet."""
    import os

    from mel_tnnt_spark.operators.merge_sink import current_snapshot, read_merged

    fp_path = os.path.join(index_path, _FP_SUBDIR)
    log_path = os.path.join(index_path, _FP_LOG_SUBDIR)
    sides = []
    if current_snapshot(fp_path) is not None:
        sides.append(read_merged(spark, fp_path).select("fingerprint", id_col))
    dirs = entries(log_path, "batch=")
    if dirs:
        sides.append(
            spark.read.option("basePath", log_path)
            .parquet(*[os.path.join(log_path, d) for d in dirs])
            .drop("kb", "batch")
            .select("fingerprint", id_col)
        )
    if not sides:
        return None
    idx = sides[0]
    for s in sides[1:]:
        idx = idx.unionByName(s)
    return idx.dropDuplicates(["fingerprint", id_col])


def maintain_overlap_index(
    spark,
    index_path: str,
    batch: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = 50,
    n_buckets: int = 16,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> DataFrame:
    """Stateful twin of overlap_pairs_against: check `batch` against
    the PERSISTED fingerprint index at index_path, then fold the
    batch's fingerprints in. Returns the contamination pairs of THIS
    batch vs the prior corpus (materialized before the fold-in, so the
    batch never matches itself). Chained batches == from-scratch
    cross-step pairs is test-pinned
    (test_maintain_overlap_index_chained_equals_scratch).

    O(BATCH) PER BATCH (the round-4 scale fix — per-batch cost must
    not grow with corpus size, the property maintain_components
    already has). The index is an LSM-shaped pair:

    - `fp/` — the compacted BASE: a merge table keyed
      (fingerprint, id) but BUCKETED on (fingerprint,) alone (Iceberg
      `bucket(n, fingerprint)` layout), so a probe reads only the
      bucket partitions its fingerprints hash into
      (read_merged_pruned; bounded collect of <= n_buckets ids);
    - `fp_log/batch=<tag>/kb=*/` — per-batch APPENDS in the same
      bucket layout. Folding a batch in writes O(batch) bytes and
      never rewrites existing data (a keyed MERGE would re-read and
      rewrite every touched bucket — O(index) per batch once batches
      carry more distinct fingerprints than there are buckets, which
      is the common case for text);
    - every `compact_every` batches the log is merged into the base
      (one O(touched-buckets) MERGE amortized over the window) and the
      log directories are dropped.

    The probe is the union of the pruned base and pruned log, narrowed
    by a BROADCAST semi-join on the batch's distinct fingerprints —
    the index side is never shuffled. The document-frequency guard is
    recomputed over exactly (matched UNION batch) rows, never the full
    index. At 100 TB the probe is a column-pruned scan of the touched
    buckets' (fingerprint, id) pairs — embarrassingly parallel, zero
    shuffle; raise n_buckets (thousands) so small probes prune, and on
    a real lakehouse add parquet bloom filters on `fingerprint` so
    rare-match probes skip row groups entirely.

    CRASH/REPLAY-SAFE, all windows:
    - append and compaction: `_fold_into_log`, over `state.publish`
      (crash windows in mel_tnnt_spark/state.py). The batch's log dir
      name is an order-independent content hash of its rows, so a
      replayed batch finds its dir and skips the write. A replayed
      batch whose rows are already readable would otherwise report
      itself as contamination, so the index side anti-joins the
      batch's ids out before pairing and the guard dedups on
      (fingerprint, id) — a retried call returns exactly the original
      pairs.
    - pairs are localCheckpoint-ed (not persisted) before the fold-in:
      eviction-triggered recompute from a mutated index would be
      silently wrong; truncated lineage makes it a deterministic error.

    The fingerprint definition (n, window, algorithm version) and the
    bucket layout are pinned in index metadata; calls with a different
    definition raise (round-4 advice). Rows with a null id are dropped.

    Streaming (`stream_maintain`): replay-safe for the last uncommitted
    batch on its own, so it takes no `txn`; stream == chained batch is
    pinned in tests/test_streaming.py."""
    import os

    from mel_tnnt_spark.operators.merge_sink import (
        _bucket_expr,
        current_snapshot,
        read_merged_pruned,
    )

    n_buckets = _overlap_meta_check(index_path, n, window, n_buckets)
    fp_path = os.path.join(index_path, _FP_SUBDIR)
    log_path = os.path.join(index_path, _FP_LOG_SUBDIR)
    batch = batch.dropna(subset=[id_col])
    bfp = winnowing_fingerprints(batch, id_col, text_col, n, window).persist()
    try:
        probe = bfp.select("fingerprint").distinct()
        # ONE touched-bucket collect shared by the base and log reads
        # (the meta check above pins both layouts to the same bucket
        # fn/count, so the set is identical by construction)
        touched = {
            r[0]
            for r in probe.select(
                _bucket_expr(("fingerprint",), n_buckets).alias("_b")
            ).distinct().collect()
        }
        sides = []
        if current_snapshot(fp_path) is not None:
            sides.append(
                read_merged_pruned(spark, fp_path, probe, touched_buckets=touched)
                .withColumnRenamed(id_col, "id")
            )
        log_side = _read_log_pruned(
            spark, log_path, probe, n_buckets, touched=touched
        )
        if log_side is not None:
            sides.append(log_side.withColumnRenamed(id_col, "id"))
        if sides:
            idx = sides[0]
            for s in sides[1:]:
                idx = idx.unionByName(s)
            # (fingerprint, id) dedup absorbs the compaction crash
            # window (rows readable in both base and log)
            matched = (
                idx.join(F.broadcast(probe), "fingerprint")
                .dropDuplicates(["fingerprint", "id"])
            )
            # union document frequency per batch fingerprint, exact on
            # replay: matched already holds a replayed batch's rows, so
            # dedup again after the batch union before counting
            guard = (
                matched.select("fingerprint", "id")
                .unionByName(bfp.select("fingerprint", "id"))
                .dropDuplicates(["fingerprint", "id"])
                .groupBy("fingerprint")
                .agg(F.count("*").alias("_df"))
            )
            if max_df is not None:
                guard = guard.where(F.col("_df") <= max_df)
            rare = guard.select("fingerprint")
            batch_ids = bfp.select("id").distinct()
            corpus_side = matched.join(batch_ids, "id", "left_anti")
            pairs = (
                corpus_side.join(rare, "fingerprint")
                .alias("a")
                .join(bfp.join(rare, "fingerprint").alias("b"), "fingerprint")
                .groupBy(
                    F.col("a.id").alias("corpus_id"),
                    F.col("b.id").alias("batch_id"),
                )
                .agg(F.count("*").alias("shared"))
                .where(F.col("shared") >= min_shared)
                .localCheckpoint(eager=True)
            )
        else:
            from pyspark.sql.types import LongType, StructField, StructType

            idt = bfp.schema["id"].dataType
            pairs = spark.createDataFrame(
                [],
                StructType(
                    [
                        StructField("corpus_id", idt),
                        StructField("batch_id", idt),
                        StructField("shared", LongType()),
                    ]
                ),
            )

        # fold-in: content-addressed append, O(batch), no rewrite
        _fold_into_log(
            spark, index_path, bfp.select("fingerprint", F.col("id").alias(id_col)),
            _batch_tag(bfp), id_col, n_buckets, compact_every,
        )
    finally:
        bfp.unpersist()
    return pairs


def excise_duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 5,
    hot_df: int = 100_000,
) -> DataFrame:
    """EXACT duplicated-span REMOVAL — the standard LLM-curation
    operator ("Deduplicating Training Data Makes Language Models
    Better", Lee et al. 2021, ExactSubstr): any token run of length
    >= k occurring more than once across (or within) the corpus is
    excised from every occurrence EXCEPT the globally first one
    (min (id, position)); winnowing/q80 only *flags* overlapping
    document pairs, this rewrites the text. Reference analogue: the
    exact-duplicate scan (code/MEL/__init__.py:684-709) detects but
    never removes.

    Relational formulation (no suffix arrays — the suffix-array
    construction of the paper is a single-machine algorithm; the
    sliding k-gram join below is its shuffle-parallel equivalent with
    identical output for >= k-token runs):

      tokens (case-preserving whitespace split)
      -> sliding k-gram per position, ONE codegen md5 per gram
      -> groupBy gram hash: occurrence count + min(id, pos) survivor
         (map-side combined; shuffle carries (id, pos, hash))
      -> non-survivor occurrences explode to their k covered token
         indices (only DUPLICATED regions explode — cost linear in
         duplicated text, not corpus)
      -> per-doc removed-index array joined back; tokens kept via an
         index-aware codegen filter; rejoin with single spaces.

    Every duplicated >= k-token run is covered by construction: each
    of its length-k windows is a duplicated gram, and their covered
    ranges tile the run. Output is whitespace-NORMALIZED (tokens
    rejoined with ' '), the same contract as pii_scrub's rewrite.
    Deterministic, idempotent (a second pass removes nothing: the
    survivor occurrence is unique afterwards). Docs shorter than k
    tokens pass through untouched.

    At 100 TB: two linear shuffles (gram hash, doc id), zero UDFs,
    no pairwise joins; the md5 is portable so a DuckDB oracle mirrors
    bit-for-bit (q83).

    SKEW (boilerplate-heavy corpora, VERDICT r5 #2): one license
    header shared by 50% of docs concentrates that gram's every
    occurrence in ONE reduce partition of the occ-dup join. AQE's
    OptimizeSkewedJoin cannot split this join — the dup side is an
    aggregate over the SAME exchange (sort-over-aggregate-over-stage,
    not a bare shuffle stage), so the rule never matches — and the
    aggregate itself is already safe (map-side combine caps reduce
    rows at #map-partitions per key). The fix is in the operator:
    duplicated grams split at `hot_df` occurrences into a COLD side
    (per-key join load < hot_df by construction, SMJ on the reused
    exchange) and a HOT side, which is BROADCAST — hot grams are few
    by definition (#hot <= total_grams/hot_df), and the broadcast
    join runs map-side on the unshuffled occ rows, so the hot gram's
    occurrences never concentrate anywhere
    (test_excise_hot_gram_broadcast_path)."""
    if k < 1:
        raise ValueError(f"excise_duplicate_spans: k must be >= 1, got {k}")
    return _excise_with_dup_split(
        _span_toks(df, id_col, text_col), None, id_col, k, hot_df
    )


def _excise_with_dup_split(
    toks: DataFrame,
    seen,
    id_col: str,
    k: int,
    hot_df: int,
    occ: DataFrame | None = None,
) -> DataFrame:
    """Shared core of excise_duplicate_spans and maintain_span_index:
    occurrence explode -> duplicated-gram agg -> hot/cold split join
    (see excise_duplicate_spans's SKEW note) -> rewrite. `seen` is an
    optional (h) frame of grams already in a persisted index whose
    every batch occurrence must be excised (the incremental path);
    `occ` lets that path pass its already-persisted occurrence frame."""
    if occ is None:
        occ = _span_occ(toks, k)
    dup = (
        occ.groupBy("h")
        .agg(
            F.count("*").alias("_c"),
            F.min(F.struct("id", "p")).alias("_surv"),
        )
        .where(F.col("_c") >= 2)
    )
    not_surv = ~(
        (F.col("id") == F.col("_surv.id")) & (F.col("p") == F.col("_surv.p"))
    )
    cold = occ.join(
        dup.where(F.col("_c") < hot_df).select("h", "_surv"), "h"
    ).where(not_surv)
    hot = occ.join(
        F.broadcast(dup.where(F.col("_c") >= hot_df).select("h", "_surv")), "h"
    ).where(not_surv)
    excise = cold.unionByName(hot)
    if seen is not None:
        excise = excise.select("id", "p", "h").unionByName(
            occ.join(seen, "h").select("id", "p", "h")
        )
    else:
        excise = excise.select("id", "p", "h")
    return _rewrite_excised(toks, excise, id_col, k)


def _span_toks(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _w): case-preserving whitespace token array — the shared
    tokenizer of excise_duplicate_spans and maintain_span_index."""
    return df.select(
        F.col(id_col).alias("id"),
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
            lambda t: t != F.lit(""),
        ).alias("_w"),
    )


def _span_occ(toks: DataFrame, k: int) -> DataFrame:
    """(id, p, h): every sliding k-gram occurrence with its md5-60bit
    hash — one codegen md5 per gram, no UDFs."""
    grams_arr = F.when(
        F.size("_w") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("_w") - k),
            lambda i: F.array_join(F.slice("_w", i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(
        "id", F.posexplode(grams_arr).alias("p", "g")
    ).select("id", "p", F.expr(_h("g")).alias("h"))


def _rewrite_excised(
    toks: DataFrame, excise: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Rewrite token arrays with the excised occurrences' covered
    indices removed: (id_col, clean_text, n_tokens_removed). Only
    DUPLICATED regions explode — cost linear in duplicated text."""
    removed = (
        excise.select("id", F.explode(F.sequence("p", F.col("p") + (k - 1))).alias("t"))
        .groupBy("id")
        .agg(F.collect_set("t").alias("_rm"))
    )
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    return (
        toks.join(removed, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.concat_ws(
                " ",
                F.filter("_w", lambda tok, i: ~F.array_contains(rm, i)),
            ).alias("clean_text"),
            F.size(rm).alias("n_tokens_removed"),
        )
    )


_SPAN_META = "_span_meta.json"
SPAN_INDEX_VERSION = 1  # whitespace tokens, sliding k-gram, md5-60bit hash


def _span_meta_check(index_path: str, k: int, n_buckets: int) -> int:
    """Pin the span-gram definition (k, hash version) and bucket
    layout to the index, exactly like _overlap_meta_check: an index
    built with a different k would silently miss or over-excise."""
    import os

    meta = pin(
        os.path.join(index_path, _SPAN_META),
        {"k": k, "span_version": SPAN_INDEX_VERSION, "n_buckets": n_buckets},
    )
    got = (meta.get("k"), meta.get("span_version"))
    want = (k, SPAN_INDEX_VERSION)
    if got != want:
        raise ValueError(
            f"span index at {index_path} was built with "
            f"(k, span_version)={got}; this call uses {want} — mixed "
            "gram definitions are incomparable. Rebuild the index or "
            "call with the recorded parameters."
        )
    return int(meta.get("n_buckets", n_buckets))


def maintain_span_index(
    spark,
    index_path: str,
    batch: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 5,
    n_buckets: int = 16,
    compact_every: int = DEFAULT_COMPACT_EVERY,
    hot_df: int = 100_000,
) -> DataFrame:
    """INCREMENTAL exact duplicated-span excision — the stateful twin
    of excise_duplicate_spans for the "crawl arrives in batches"
    pipeline (VERDICT r5 #7): rewrite THIS batch's docs with every
    k-token run already seen (in any prior batch, or earlier in this
    batch) excised, then fold the batch's gram hashes into the
    persisted index. Previously returned batches are never touched —
    their occurrences were first, exactly as the batch operator keeps
    the globally-first occurrence.

    Chained batches == excise_duplicate_spans on the concatenated
    corpus whenever doc ids are ordered consistently with arrival
    (earlier batch => smaller (id, p)) — the batch operator's
    min(id, p) survivor then IS the earliest-batch occurrence
    (test-pinned in test_maintain_span_index_chained_equals_scratch).
    Within a batch the survivor is min(id, p) as in the batch op; a
    gram already in the index excises ALL its batch occurrences (the
    prior-batch occurrence is the survivor).

    Index layout = maintain_overlap_index's LSM: `fp/` compacted base
    bucketed on fingerprint + `fp_log/batch=<content-tag>/kb=*`
    appends, compacted every `compact_every` batches; rows are
    (fingerprint, id) where id is the batch-min doc containing the
    gram — the id is NOT part of the excision semantics, it exists so
    a REPLAYED batch can anti-join its own fold-in back out of the
    probe (same trick as the overlap index; a bare hash set would make
    a replayed batch see its own grams as "prior corpus" and excise
    everything). O(batch) per batch: probe = pruned base/log narrowed
    by a broadcast semi-join on the batch's distinct hashes; fold-in
    appends O(batch) bytes; compaction amortized. Crash/replay-safe
    the same way: the same `_fold_into_log` (crash windows in
    mel_tnnt_spark/state.py), and the rewritten batch is
    localCheckpoint-ed BEFORE the fold-in so eviction can never
    recompute it against the mutated index. Rows with a null id are
    dropped.

    Streaming (`stream_maintain`): replay-safe for the last uncommitted
    batch on its own, so it takes no `txn`; stream == chained batch is
    pinned in tests/test_streaming.py."""
    import os

    from mel_tnnt_spark.operators.merge_sink import current_snapshot, read_merged_pruned

    n_buckets = _span_meta_check(index_path, k, n_buckets)
    fp_path = os.path.join(index_path, _FP_SUBDIR)
    log_path = os.path.join(index_path, _FP_LOG_SUBDIR)
    toks = _span_toks(batch.dropna(subset=[id_col]), id_col, text_col).persist()
    occ = _span_occ(toks, k).persist()
    try:
        probe = occ.select(F.col("h").alias("fingerprint")).distinct()
        sides = []
        if current_snapshot(fp_path) is not None:
            sides.append(read_merged_pruned(spark, fp_path, probe))
        log_side = _read_log_pruned(spark, log_path, probe, n_buckets)
        if log_side is not None:
            sides.append(log_side)
        seen = None
        if sides:
            idx = sides[0]
            for s in sides[1:]:
                idx = idx.unionByName(s)
            batch_ids = toks.select("id").distinct()
            seen = (
                idx.join(F.broadcast(probe), "fingerprint")
                # a replayed batch's own fold-in is not "prior corpus"
                .join(batch_ids, "id", "left_anti")
                .select(F.col("fingerprint").alias("h"))
                .distinct()
            )
        out = _excise_with_dup_split(
            toks, seen, id_col, k, hot_df, occ=occ
        ).localCheckpoint(eager=True)

        # fold-in: content-addressed append of the batch's distinct
        # gram hashes tagged with the batch-min containing doc id
        # (replay anti-join handle), O(batch), no rewrite
        bfp = occ.groupBy(F.col("h").alias("fingerprint")).agg(
            F.min("id").alias("id")
        )
        _fold_into_log(
            spark, index_path, bfp, content_tag(bfp, F.col("fingerprint")),
            "id", n_buckets, compact_every,
        )
    finally:
        occ.unpersist()
        toks.unpersist()
    return out


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    threshold: float = 0.9,
    pivots: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and pruning near-identical
    pairs WITHIN clusters only — the published recipe for web-scale
    corpora, where all-pairs cosine is impossible but k-means cells
    bound the candidate set.

    - cluster assignment: similarity.ivf_assign (per-row argmin over
      the pivot list compiled into the plan — no shuffle, no UDF, no
      crossJoin against a centroid table);
    - default pivots: the embeddings of the n_clusters smallest ids
      (deterministic and oracle-reproducible; driver state bounded at
      n_clusters x d exactly like ivf_train). Callers chasing quality
      pass ivf_train() output instead — assignment is pivot-agnostic;
    - prune rule: a document is dropped iff SOME same-cluster document
      with a smaller id has cosine > threshold (keep-lowest-id, the
      same survivor convention as dedup_clusters) — pair generation is
      one self-equi-join ON THE CLUSTER ID, so cost is sum(c_i^2) over
      cluster sizes, never corpus^2. At scale pick n_clusters ~ N/1e4
      so cells stay bounded; the join inherits AQE skew splitting for
      a runaway cell.

    Returns (id, cluster_id, keep) for every input row. Zero-norm
    embeddings produce NULL cosine, which fails the threshold — they
    are never dropped and never drop others (ANSI-safe, same guard as
    embedding_near_dup_pairs).
    """
    from mel_tnnt_spark.operators.similarity import ivf_assign

    if pivots is None:
        rows = (
            emb.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
            .orderBy("id")
            .limit(n_clusters)
            .collect()
        )
        pivots = [list(r["v"]) for r in rows]
    if not pivots:
        return emb.sparkSession.createDataFrame(
            [], "id long, cluster_id int, keep boolean"
        )
    from mel_tnnt_spark.operators.similarity import _dot, _dot_fixed, _uniform_dim

    assigned = ivf_assign(emb, id_col, vec_col, pivots)
    # Normalize ONCE per row, not once per pair: higher-order array
    # expressions are interpreted (outside whole-stage codegen), so
    # the per-pair work must be a single dot — 3 array passes/pair
    # (dot + both norms) measured ~3x slower at sf0.1. A zero-norm
    # row gets u = NULL, so every cosine involving it is NULL and
    # fails the threshold (the ANSI guard, preserved).
    #
    # PAIR-STAGE shape (guide §4.1, measured at sf1.0): the per-pair
    # dot is the engine's hottest expression — sum(c_i^2) evaluations.
    # Rows are split ONCE per side on the CHEAP codegen predicate
    # size(v) == d (the pivots' common dimension) BEFORE normalization,
    # so the conforming x conforming join — all pairs, in the normal
    # case — evaluates a FLAT fixed-dim dot with the SAME
    # left-associative float fold (bit-identical result) fully inside
    # whole-stage codegen. Rejected alternatives, all measured: a
    # per-pair CASE guard with the interpreted fold in its else branch
    # (2x slower — CodegenFallback in the join condition), splitting
    # on size(u) (pushes the interpreted normalize chain into the
    # scan filter, +5s), a double pre-filter in front of the rounded
    # compare (two filters over the same aliased dot expression
    # de-optimized to 91s), and checkpointing the shared unit table
    # (LogicalRDD has no size stats -> loses the auto-broadcast, 12x).
    # Zero-norm rows stay on their size-split side: their u is NULL,
    # every product is NULL, the sum is NULL and fails the threshold —
    # identical on both dot paths. Ragged/NULL-element rows need no
    # join at all (their centroid is NULL — see the proof at the
    # split below).
    d = _uniform_dim(pivots)

    def _unitize(rows):
        return rows.withColumn(
            "_n", F.expr("sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))")
        ).select(
            "id",
            "centroid",
            F.when(
                F.col("_n") > 0, F.expr("transform(v, x -> x / _n)")
            ).alias("u"),
        )

    def _pair_ids(left, right, dot_col):
        return (
            left.alias("a")
            .join(right.alias("b"), F.col("a.centroid") == F.col("b.centroid"))
            .where(F.col("b.id") < F.col("a.id"))
            .withColumn("cosine", F.round(dot_col, 6))
            .where(F.col("cosine") > threshold)
            .select(F.col("a.id").alias("id"))
        )

    if d is not None:
        # Only rows with size(v) == d can ever PAIR: every centroid
        # distance zips v against a d-length pivot, so a ragged v (or
        # one containing a NULL element) null-pads every distance,
        # making the assigned centroid NULL — and the pair join's
        # centroid equality rejects NULLs. Hence restricting BOTH join
        # sides to size(v) == d drops no pair (pinned by
        # test_semantic_dedup_ragged_dimensions_exact), and the single
        # remaining join runs the fixed-dim codegen dot. (The final
        # keep-join below still runs over ALL rows of `assigned`, so
        # ragged rows keep their NULL cluster_id and keep=true.)
        okv = F.coalesce(F.expr(f"size(v) = {d}"), F.lit(False))
        fast = _unitize(assigned.where(okv))
        pair_ids = _pair_ids(fast, fast, _dot_fixed("a.u", "b.u", d))
    else:
        unit = _unitize(assigned)
        pair_ids = _pair_ids(unit, unit, _dot("a.u", "b.u"))
    dropped = pair_ids.distinct().withColumn("_dup", F.lit(True))
    return (
        assigned.select("id", F.col("centroid").alias("cluster_id"))
        .join(dropped, "id", "left")
        .select(
            "id",
            "cluster_id",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )
