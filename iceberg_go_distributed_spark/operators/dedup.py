"""Deduplication operators for the `documents` table.

Four families, each with a different cost/recall profile, all of them
banded/blocked so no step is ever an all-pairs join:

  - exact_dedup        — hash-groupBy on normalized text (one shuffle)
  - fingerprint_dedup  — hash-groupBy on a prefix fingerprint
  - minhash_near_dups  — MinHash signatures → banded LSH self-join →
                         exact-Jaccard verification of candidates only
  - simhash_near_dups  — SimHash → pigeonhole chunk self-join (exact
                         recall for hamming <= chunks-1) → verification

Scale notes (the 100 TB lens):
  - Every self-join keys on (band_idx, band_key) so the shuffle spreads
    across bands; a hot band (e.g. boilerplate docs) is the classic skew
    case — AQE skew-join handles moderate skew, and `minhash_near_dups`
    caps band width via verification so a pathological bucket costs
    O(bucket²) only in candidate *pairs*, never materialized rows.
  - Verification joins candidates back to shingle sets; at scale this is
    a shuffled hash join on doc_id (no broadcast — shingle sets are as
    big as the corpus). Candidate count is bands × collision rate, which
    banding keeps ~linear in true-duplicate count.
  - All expressions are built-in Spark SQL functions — whole-stage
    codegen end to end, no Python in the hot path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import MERSENNE31, hex15, minhash_perms

# 32 perms / 16 bands of 2 rows: P(catch | J) = 1-(1-J²)^16 — 0.99 at
# the 0.5 threshold, 1-3e-12 at the J≈0.9 of real duplicate families.
# Candidates are verified with EXACT Jaccard, so precision is always 1;
# halving the perms (vs 64) halves the signature-aggregate width and the
# band fan-out for a ~1e-2 recall tail at the threshold boundary only.
# Raise NUM_PERMS for corpora where near-threshold pairs matter.
NUM_PERMS = 32
BAND_ROWS = 2  # rows per LSH band → 16 bands
NUM_BANDS = NUM_PERMS // BAND_ROWS
SIMHASH_BITS = 60  # fits hex15's 60-bit hash, stays positive in int64


def normalized_text(text_col: str = "text") -> F.Column:
    """Whitespace-collapsed lowercase text (the exact-dedup key)."""
    return F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the min-id doc per normalized text.

    One hash-aggregate shuffle on the md5 of normalized text (group on
    the digest, not the full text, so shuffle rows stay small at 100 TB).
    """
    key = F.md5(normalized_text(text_col)).alias("_norm_key")
    return (
        docs.select(key, F.col(id_col))
        .groupBy("_norm_key")
        .agg(F.min(id_col).alias("kept_" + id_col), F.count("*").alias("dup_count"))
    )


def fingerprint_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", prefix_tokens: int = 8
) -> DataFrame:
    """Dedup on a prefix fingerprint (first N tokens), catching docs that
    share a head but diverge later (truncation/near-copy families)."""
    fp = F.md5(
        F.concat_ws(" ", F.slice(F.split(F.col(text_col), " "), 1, prefix_tokens))
    ).alias("_fp")
    return (
        docs.select(fp, F.col(id_col))
        .groupBy("_fp")
        .agg(F.min(id_col).alias("kept_" + id_col), F.count("*").alias("dup_count"))
    )


def shingle_sets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    hash_fn: str = "fast",
) -> DataFrame:
    """(id, shingles) with shingles = distinct word n-grams, each hashed
    to a 60-bit non-negative long.

    Hashing inside this operator (rather than downstream) means every
    consumer — MinHash signatures, Jaccard verification, fingerprints —
    works on 8-byte longs instead of n-gram strings: the persisted /
    shuffled sets are ~3× smaller and `array_intersect` compares longs.
    Set cardinalities are preserved (hash collisions at 60 bits are
    ~1e-18 per corpus), so Jaccard values are identical to the
    string-set definition the oracle SQL uses regardless of hash_fn.

    hash_fn:
      "fast"  (default) — xxhash64 each WORD once, then combine the n
              word hashes per shingle with one more xxhash64 (>>4 keeps
              values in non-negative 60-bit range for the MERSENNE31
              arithmetic downstream). No n-gram string is ever
              materialized, and xxhash64 is whole-stage-codegen'd where
              md5 allocates a digest per call — measured 1.85 s → 1.22 s
              on the sf0.1 shingle+signature phases (best-of-6,
              OPTIMIZATION_r14.md). Consumers verify candidates with
              EXACT Jaccard, so hash choice only moves LSH recall;
              result pairs are measured identical on all testdata SFs.
      "hex15" — the original 60-bit md5 prefix of the n-gram STRING;
              required by consumers whose declared oracle reproduces the
              hash VALUE cross-engine (doc_fingerprints).
    """
    w = F.col("_w")
    if hash_fn == "fast":
        base = docs.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
        ).withColumn(
            "_wh", F.expr("transform(_w, t -> shiftrightunsigned(xxhash64(t), 4))")
        )
        comb = F.expr(
            f"transform(sequence(0, size(_w) - {n}), i -> "
            f"shiftrightunsigned(xxhash64({', '.join(f'_wh[i + {j}]' for j in range(n))}), 4))"
        )
        shingles = F.when(F.size(w) >= n, F.array_distinct(comb)).otherwise(
            F.array(F.shiftrightunsigned(F.xxhash64(F.concat_ws(" ", w)), 4))
        )
        return base.select(F.col(id_col), shingles.alias("shingles"))
    shingles = F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.expr(
                f"transform(sequence(0, size(_w) - {n}), "
                f"i -> concat_ws(' ', slice(_w, i + 1, {n})))"
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))
    return docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    ).select(F.col(id_col), F.transform(shingles, hex15).alias("shingles"))


def minhash_signatures(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """MinHash signature columns m0..m{NUM_PERMS-1} per doc.

    One `mapInArrow` pass over the pre-hashed shingle arrays: per Arrow
    batch, numpy computes all NUM_PERMS permutations as vectorized
    `(h*a + b) % M` over the flat child values and takes per-document
    minima with one segmented `minimum.reduceat` on the list offsets —
    no explode, no hash-aggregate, and (the plan-shape win) NO exchange:
    signatures stay exactly where the shingle rows already are at any
    corpus size. Replaces the r14 explode + 33-column min-aggregate,
    whose map-side partial agg already kept the shuffle at one row per
    doc but still paid per-shingle×per-perm JVM expression evaluation
    plus the exchange — measured 0.30 → 0.23 s on the sf0.1 signature
    phase (best-of-4, warm shingle cache) with bit-identical output
    (exceptAll both ways = 0 rows; pinned by
    test_minhash_signatures_match_sql_aggregate).

    Bounds: shingle hashes are < 2^60 non-negative; reducing mod
    MERSENNE31 first keeps `h*a + b` < 2^62, inside signed 64-bit in
    numpy exactly as in the JVM/oracle arithmetic (all values
    non-negative, so `%` agrees across engines).
    """
    import numpy as _np

    perms = minhash_perms(NUM_PERMS)
    coef_a = _np.array([p[0] for p in perms], dtype=_np.int64)
    coef_b = _np.array([p[1] for p in perms], dtype=_np.int64)
    n_perms = NUM_PERMS
    mersenne = MERSENNE31
    out_schema = (
        f"{id_col} long, "
        + ", ".join(f"m{i} long" for i in range(n_perms))
        + ", _n_shingles long"
    )

    def task(batches):
        import numpy as np
        import pyarrow as pa

        empty = np.empty(0, np.int64)
        for batch in batches:
            lst = batch.column(1)
            # ListArray.offsets is already adjusted for any array slice
            # and indexes into the full child values — correct even for
            # non-zero-offset batches. The child may run past the last
            # list: cut it there, or reduceat's final segment (which
            # always runs to the end) takes in the trailing values
            offsets = lst.offsets.to_numpy().astype(np.int64)
            vals = lst.values.to_numpy(zero_copy_only=False)[: offsets[-1]]
            h = vals % mersenne
            starts = offsets[:-1]
            arrays = [batch.column(0)]
            for i in range(n_perms):
                y = (h * coef_a[i] + coef_b[i]) % mersenne
                # shingle arrays are never empty (shingle_sets emits at
                # least one element), so reduceat segments are well-formed
                arrays.append(
                    pa.array(
                        np.minimum.reduceat(y, starts) if len(starts) else empty
                    )
                )
            arrays.append(pa.array(np.diff(offsets)))
            yield pa.record_batch(
                arrays,
                names=[id_col]
                + [f"m{i}" for i in range(n_perms)]
                + ["_n_shingles"],
            )

    return sh.select(F.col(id_col), F.col("shingles")).mapInArrow(
        task, out_schema
    )


def _band_key(j: int) -> F.Column:
    """64-bit hash of the band's signature rows (salted by band index).

    A single long join key shuffles ~3× fewer bytes than the previous
    concat_ws string and compares without allocation — measured ~20%
    off the whole minhash pipeline at sf0.1. Collisions can only ADD
    candidate pairs (equal band values always hash equal), and every
    candidate is exact-Jaccard verified, so results are identical."""
    cols = [F.col(f"m{j * BAND_ROWS + r}") for r in range(BAND_ROWS)]
    return F.xxhash64(F.lit(j), *cols)


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", threshold: float | None = None
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing at least one LSH band.

    When `threshold` is given and the signature frame carries a
    `_n_shingles` column, the classic length filter prunes candidates
    before the distinct/verify stages: J(A,B) >= t implies
    t <= |A|/|B| <= 1/t (a necessary condition, so recall is unchanged)."""
    extra = ["_n_shingles"] if "_n_shingles" in sig.columns else []
    bands = sig.select(
        F.col(id_col),
        *extra,
        F.posexplode(F.array(*[_band_key(j) for j in range(NUM_BANDS)])).alias(
            "band_idx", "band_key"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cond = (
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if threshold is not None and extra:
        na, nb = F.col("a._n_shingles"), F.col("b._n_shingles")
        cond = cond & (na * 1.0 / nb >= threshold) & (nb * 1.0 / na >= threshold)
    return (
        a.join(b, cond)
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs with exact n-gram Jaccard >= threshold,
    found via banded MinHash-LSH (never all-pairs) and verified exactly.

    Output: (doc_a, doc_b, jaccard) — exact values, so the result is
    independent of the LSH parameters whenever band recall covers the
    threshold (16 bands × 2 rows ⇒ miss prob at J=0.5 is ~1e-2, and
    ~3e-12 for the J≥0.9 planted dups in the testdata; candidates are
    verified exactly, so precision is always 1).
    """
    # the shingle pipeline feeds three consumers (signatures + both
    # verification sides) — persist it so Spark computes it once; at
    # corpus scale this is the materialize-the-shingle-table step any
    # MinHash pipeline does before banding.
    sh = shingle_sets(docs, text_col, id_col, n).persist()
    # the banded self-join reads signatures from both sides; without a
    # persist Spark computes the (NUM_PERMS+1)-column aggregate twice
    # (AQE's broadcast conversion removes the common exchange that
    # ReuseExchange would otherwise dedupe). The signature table is
    # NUM_PERMS+1 longs/doc — ~0.3 KB/doc at 32 perms, MEMORY_AND_DISK,
    # negligible next to the corpus.
    sig = minhash_signatures(sh, id_col).persist()
    try:
        cand = lsh_candidate_pairs(sig, id_col, threshold=threshold)
        sa = sh.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("_sa"))
        sb = sh.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("_sb"))
        jac = F.size(F.array_intersect("_sa", "_sb")) / F.size(
            F.array_union("_sa", "_sb")
        )
        result = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("jaccard", jac)
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        )
        # Materialize the (small, O(duplicate-pairs)) result to executor
        # storage and cut its lineage, so every intermediate cache can be
        # released NOW — deterministic cache lifetime instead of "until
        # someone calls clearCache()". The checkpoint blocks are owned by
        # the returned frame and are reclaimed when it is dropped.
        return result.localCheckpoint(eager=True)
    finally:
        sh.unpersist()
        sig.unpersist()


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash per doc over unigram tokens weighted by count."""
    tok = (
        docs.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("_t"))
        .groupBy(id_col, "_t")
        .agg(F.count("*").alias("_cnt"))
        .withColumn("_h", hex15(F.col("_t")))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright("_h", b).bitwiseAND(F.lit(1)) == 1, F.col("_cnt")).otherwise(
                -F.col("_cnt")
            )
        ).alias(f"_s{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy(id_col).agg(*bit_sums)
    simhash = reduce(
        lambda acc, b: acc + F.when(F.col(f"_s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)),
        range(1, SIMHASH_BITS),
        F.when(F.col("_s0") > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return per_doc.select(F.col(id_col), simhash.cast("long").alias("simhash"))


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Candidate generation is the pigeonhole construction: split the
    60-bit signature into (max_hamming + 1) chunks; any pair within the
    distance budget agrees exactly on >= 1 chunk, so a self-join on
    (chunk_idx, chunk_value) has *exact* recall — no probabilistic miss.
    """
    sig = simhash_signatures(docs, text_col, id_col)
    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks  # last chunk absorbs the remainder
    chunk_cols = []
    for c in range(chunks):
        off = c * width
        w = SIMHASH_BITS - off if c == chunks - 1 else width
        chunk_cols.append(
            F.shiftright("simhash", off).bitwiseAND(F.lit((1 << w) - 1))
        )
    bands = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(F.array(*chunk_cols)).alias("chunk_idx", "chunk_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("_ha"),
            F.col("b.simhash").alias("_hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_topk_similar(
    docs: DataFrame,
    max_query_id: int = 5,
    k: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram-Jaccard top-k neighbors for a small query set.

    The query side is tiny by construction, so it is broadcast against
    the full corpus — a map-side join that scales with corpus size only.
    """
    from pyspark.sql import Window

    sh = shingle_sets(docs, text_col, id_col, n)
    q = sh.where(F.col(id_col) < max_query_id).select(
        F.col(id_col).alias("query_id"), F.col("shingles").alias("_sq")
    )
    jac = F.size(F.array_intersect("_sq", "shingles")) / F.size(
        F.array_union("_sq", "shingles")
    )
    scored = (
        sh.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .withColumn("jaccard", jac)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "jaccard")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("jaccard").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("query_id", "neighbor_id", F.round("jaccard", 6).alias("jaccard"))
    )


def _canonical_edges(pairs: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Undirected edge set as distinct (min, max) pairs, self-loops out."""
    return (
        pairs.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _edge_fingerprint(edges: DataFrame):
    """Order-independent set fingerprint (count, xor of row hashes) —
    one cheap action per round for the convergence check; xor collision
    odds are 2^-64 per comparison."""
    row = edges.agg(
        F.count("*").alias("n"), F.bit_xor(F.xxhash64("a", "b")).alias("x")
    ).first()
    return (row.n, row.x)


def near_dup_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over the verified near-dup pair graph:
    (doc_id, cluster_id) for every doc that has at least one near-dup,
    with cluster_id = the minimum doc id in its component. This is the
    step a pretraining pipeline runs after pair generation — "keep one
    representative per duplicate cluster" needs components, not pairs
    (A~B, B~C must collapse A,B,C together even when A~C was never a
    candidate pair).

    Alternating large-star/small-star rounds (the map-reduce CC
    construction of Kiveris et al., "Connected Components in MapReduce
    and Beyond"): each round is two groupBy-min aggregations + joins
    keyed by node id, and the edge set contracts toward disjoint stars
    centered on each component's minimum in O(log² n) rounds — unlike
    plain min-label propagation this does NOT degrade to O(diameter)
    on chain-shaped components (100-doc near-dup chains converge in a
    handful of rounds; see test_dedup_clusters_path_graph). Per-round
    shuffle is O(edges); components never materialize driver-side —
    the driver only compares edge-set fingerprints. The result is
    eagerly checkpointed so every intermediate cache is released before
    returning (deterministic cache lifetime)."""
    pairs = minhash_near_dups(docs, threshold, text_col, id_col, n)
    # Each round derives from the previous several times over (bi-direct
    # union, two self-aggregating joins) — without lineage truncation the
    # logical plan grows exponentially across rounds and overflows the
    # analyzer stack by round ~10. localCheckpoint materializes the edge
    # set to executor storage AND cuts lineage: every round starts from a
    # flat scan of ~O(edges) blocks. Blocks of superseded rounds are
    # released by the context cleaner when their frame is dropped; none
    # of this touches the SQL cache manager (no clearCache() debt).
    cur = _canonical_edges(pairs, "doc_a", "doc_b").localCheckpoint(eager=True)
    prev_fp = _edge_fingerprint(cur)
    for _ in range(max_iterations):
        # both orientations; canonical pairs make the union distinct
        bi = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u})
        mins = bi.groupBy("a").agg(F.min("b").alias("_mb"))
        mins = mins.select("a", F.least(F.col("_mb"), F.col("a")).alias("m"))
        ls = _canonical_edges(
            bi.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b")),
        )
        # small-star on (a < b): every smaller neighbor and the center
        # itself link to m = min of the smaller neighborhood
        sm = ls.groupBy("b").agg(F.min("a").alias("m"))
        cur = _canonical_edges(
            ls.join(sm, "b")
            .select(F.col("a"), F.col("m").alias("b"))
            .union(sm.select(F.col("b").alias("a"), F.col("m").alias("b"))),
        ).localCheckpoint(eager=True)
        fp = _edge_fingerprint(cur)
        if fp == prev_fp:
            break  # fixed point: disjoint stars centered on minima
        prev_fp = fp
    else:
        # a partial contraction would silently split components (callers
        # would keep several "representatives" of one duplicate cluster)
        # — refuse instead
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_iterations} "
            "rounds; raise max_iterations"
        )
    bi = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (
        bi.groupBy("a")
        .agg(F.min("b").alias("_mb"))
        .select(
            F.col("a").alias(id_col),
            F.least(F.col("_mb"), F.col("a")).alias("cluster_id"),
        )
    )
    return labels.localCheckpoint(eager=True)


def decontaminate(
    docs: DataFrame,
    benchmark_max_id: int = 5,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: every (corpus doc, benchmark doc) pair
    whose exact n-gram Jaccard meets the threshold — the pre-training
    hygiene step that keeps eval data out of the training set. Here the
    benchmark set is docs with id < `benchmark_max_id`; in production it
    is a separate (small) benchmark table, which is exactly why the
    benchmark side is broadcast: the corpus is scanned once map-side and
    never shuffles, at any corpus size. Output: (doc_id, benchmark_id,
    jaccard), one row per contaminated pair, exact values.
    """
    sh = shingle_sets(docs, text_col, id_col, n)
    bench = sh.where(F.col(id_col) < benchmark_max_id).select(
        F.col(id_col).alias("benchmark_id"), F.col("shingles").alias("_sb")
    )
    corpus = sh.where(F.col(id_col) >= benchmark_max_id)
    jac = F.size(F.array_intersect("shingles", "_sb")) / F.size(
        F.array_union("shingles", "_sb")
    )
    return (
        corpus.join(F.broadcast(bench))
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select(F.col(id_col), "benchmark_id", F.round("jaccard", 6).alias("jaccard"))
    )
