"""Dedup operator unit tests: connected-components convergence on
deep (chain-shaped) graphs and deterministic cache lifetime.

The oracle suite (test_queries_oracle) pins result correctness against
DuckDB; these tests pin the properties the oracle can't see — round
complexity on adversarial graph shapes and the absence of cache leaks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_go_distributed_spark.operators.dedup import (
    minhash_near_dups,
    near_dup_clusters,
)


def _chain_docs(spark, n_docs=120, window=50, step=5):
    """Doc i = tokens[i*step : i*step+window] over one long distinct
    token stream: adjacent docs share ~(window-step)/(window+step)
    shingles (J≈0.8), docs far apart share none — one connected
    component whose diameter grows with n_docs (the shape that defeats
    O(diameter) label propagation)."""
    stream = [f"w{i}" for i in range(n_docs * step + window)]
    rows = [
        (i, " ".join(stream[i * step : i * step + window]))
        for i in range(n_docs)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _union_find_closure(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dedup_clusters_path_graph(spark):
    """A 120-doc chain converges (large-star/small-star is O(log² n)
    rounds; plain min-label propagation needs O(n) and would blow the
    iteration cap) and collapses to a single cluster rooted at doc 0."""
    docs = _chain_docs(spark, n_docs=120)
    out = near_dup_clusters(docs, threshold=0.5, max_iterations=15)
    rows = out.collect()
    assert len(rows) == 120
    assert {r.cluster_id for r in rows} == {0}


def test_dedup_clusters_match_pair_closure(spark, sf_dir):
    """Cluster assignment equals the transitive closure of the verified
    pair graph (same pairs the operator consumes)."""
    from iceberg_go_distributed_spark.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = [
        (r.doc_a, r.doc_b)
        for r in minhash_near_dups(docs, threshold=0.5).collect()
    ]
    expected = _union_find_closure(pairs)
    got = {
        r.doc_id: r.cluster_id
        for r in near_dup_clusters(docs, threshold=0.5).collect()
    }
    assert got == expected


def test_dedup_operators_release_caches(spark, sf_dir):
    """minhash_near_dups / near_dup_clusters must not leave persisted
    DataFrames behind: long-lived sessions running many corpora would
    otherwise accumulate cache until clearCache(). The returned frames
    are eagerly checkpointed, so intermediates are released before
    return; only the result's own (GC-owned) checkpoint blocks remain,
    which the CacheManager does not track."""
    from iceberg_go_distributed_spark.datasets import load_table

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    cache_manager.clearCache()

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_near_dups(docs, threshold=0.5)
    assert pairs.count() > 0
    assert cache_manager.isEmpty(), "minhash_near_dups leaked cached frames"

    clusters = near_dup_clusters(docs, threshold=0.5)
    assert clusters.count() > 0
    assert cache_manager.isEmpty(), "near_dup_clusters leaked cached frames"


def test_dedup_clusters_empty_graph(spark):
    """No near-dup pairs → empty result, no crash, no cache leak."""
    docs = spark.createDataFrame(
        [(i, f"utterly unique document number {i} " + " ".join(f"t{i}_{j}" for j in range(30)))
         for i in range(20)],
        "doc_id bigint, text string",
    )
    out = near_dup_clusters(docs, threshold=0.9)
    assert out.count() == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pack_sequences_deterministic_under_partitioning(spark):
    """pack_sequences must produce identical output regardless of input
    partitioning and across repeated invocations: the locally-cumsummed
    frame is checkpointed before the totals collect, so the offsets join
    can never see different range boundaries than the totals were
    computed from (ADVICE r5, medium)."""
    from iceberg_go_distributed_spark.operators.text import pack_sequences

    rows = [(f"doc{i:04d}", ("w " * (i % 37 + 1)).strip()) for i in range(500)]
    base = spark.createDataFrame(rows, "doc_id string, text string")

    results = []
    for nparts in (1, 7, 64):
        out = pack_sequences(base.repartition(nparts), seq_len=64)
        results.append(sorted(tuple(r) for r in out.collect()))
    assert results[0] == results[1] == results[2]

    # exclusive prefix-sum invariant: offsets are contiguous in id order
    flat = results[0]
    acc = 0
    for doc_id, n_tokens, start_seq, start_offset in flat:
        assert start_seq * 64 + start_offset == acc, doc_id
        acc += n_tokens


def test_repetition_stats_flags_loops(spark):
    from iceberg_go_distributed_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam eggs"),  # top frac 0.8 → repetitive
            (2, "a b c d e"),  # 0.2 is NOT > 0.2 → clean (boundary)
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert out[1].repetitive and out[1].top_word_frac == 0.8
    assert not out[2].repetitive and out[2].distinct_words == 5


def test_top_terms_integer_exact_ranking(spark):
    from iceberg_go_distributed_spark.operators.text import top_terms

    docs = spark.createDataFrame(
        [
            (1, "rare rare common zzz"),  # tf ties: rarer df first, then term
            (2, "common common common zzz"),
        ],
        "doc_id bigint, text string",
    )
    rows = top_terms(docs, k=2).collect()
    got = {(r.doc_id, r.rank): (r.term, r.tf, r.df) for r in rows}
    assert got[(1, 1)] == ("rare", 2, 1)  # highest tf wins
    # doc 1 tf=1 tie between common (df=2) and zzz (df=2) → term asc
    assert got[(1, 2)] == ("common", 1, 2)
    assert got[(2, 1)] == ("common", 3, 2)


def test_minhash_recall_margin_holds_for_testdata(ducks):
    """The 32-perm/16-band parameters assume the corpus has no pairs in
    the marginal-recall zone just above the 0.5 threshold (P(miss) is
    ~1e-2 AT the threshold but <1e-5 above J=0.8). Pin that assumption:
    every true near-dup pair in the testdata sits at J >= 0.8, where the
    per-pair miss probability is < (1-0.64)^16 ≈ 1e-7. If a future
    testdata generation plants near-threshold pairs, this fails loudly
    and NUM_PERMS must be raised."""
    rows = ducks.execute(
        """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct([array_to_string(ws[i:i+2], ' ')
                                     for i in range(1, greatest(len(ws)-2,1)+1)]) AS s
               FROM w)
        SELECT CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
        """
    ).fetchall()
    assert rows, "vacuous: no near-dup pairs in testdata"
    assert min(j for (j,) in rows) >= 0.8, (
        f"near-threshold pair found (J={min(j for (j,) in rows):.3f}); "
        "raise NUM_PERMS in operators/dedup.py"
    )


def test_load_documents_any_formats(tmp_path, spark, sf_dir):
    """JSONL and CSV document drops normalize to the canonical schema
    and feed the curation operators identically to parquet."""
    from iceberg_go_distributed_spark.datasets import load_documents_any, load_table
    from iceberg_go_distributed_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents").limit(100)
    jl = str(tmp_path / "docs.jsonl")
    cv = str(tmp_path / "docs.csv")
    docs.coalesce(1).write.json(jl)
    docs.coalesce(1).write.option("header", "true").csv(cv)

    want = sorted(
        (r.doc_id, r.text, r.n_chars) for r in docs.collect()
    )
    for path, fmt in ((jl, "jsonl"), (cv, "csv")):
        got = load_documents_any(spark, path, fmt=fmt)
        assert got.columns == ["doc_id", "text", "lang", "source", "n_chars"]
        assert sorted((r.doc_id, r.text, r.n_chars) for r in got.collect()) == want
        # operators run unchanged on the normalized frame
        assert exact_dedup(got).count() > 0

    # n_chars is recomputed when the drop omits it
    partial = str(tmp_path / "partial.jsonl")
    docs.select("doc_id", "text").coalesce(1).write.json(partial)
    got = load_documents_any(spark, partial, fmt="jsonl")
    assert all(r.n_chars == len(r.text) for r in got.collect())


def test_minhash_signatures_match_sql_aggregate(spark, sf_dir):
    """The r15 numpy mapInArrow signature pass must be bit-identical to
    the explode + min-aggregate SQL formulation it replaced (same
    permutation arithmetic, same Mersenne modulus, same `_n_shingles`)."""
    import os

    from iceberg_go_distributed_spark.operators.dedup import (
        NUM_PERMS,
        minhash_signatures,
        shingle_sets,
    )
    from iceberg_go_distributed_spark.operators.hashing import (
        MERSENNE31,
        minhash_perms,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sh = shingle_sets(docs, "text", "doc_id", 3)
    got = minhash_signatures(sh, "doc_id")

    base = sh.select(F.col("doc_id"), F.explode("shingles").alias("_s")).select(
        F.col("doc_id"), (F.col("_s") % MERSENNE31).alias("_h")
    )
    aggs = [
        F.min((F.col("_h") * a + b) % MERSENNE31).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_perms(NUM_PERMS))
    ]
    aggs.append(F.count("*").alias("_n_shingles"))
    expected = base.groupBy("doc_id").agg(*aggs)

    # mapInArrow output is all-nullable where the aggregate marked
    # count(*) non-null — names/types and VALUES must match exactly
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in expected.schema.fields
    ]
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_minhash_signatures_ignore_child_values_past_the_slice(spark):
    """A sliced shingle ListArray keeps its whole child array: values past
    the last list must not reach the last document's minima."""
    import numpy as np
    import pyarrow as pa

    from iceberg_go_distributed_spark.operators import dedup

    class Frame:  # captures the mapInArrow task instead of running it
        def select(self, *cols):
            return self

        def mapInArrow(self, task, schema):
            self.task = task

    frame = Frame()
    dedup.minhash_signatures(frame, "doc_id")
    rng = np.random.default_rng(7)
    lists = pa.array(
        [list(rng.integers(0, 1 << 60, n)) for n in (3, 1, 4, 2, 30)],
        pa.list_(pa.int64()),
    )
    for start, stop in ((0, 2), (1, 3), (2, 4)):
        sliced = lists[start:stop]
        compact = pa.array(sliced.to_pylist(), sliced.type)
        ids = pa.array(range(start, stop), pa.int64())

        def signatures(shingles):
            batch = pa.record_batch([ids, shingles], names=["doc_id", "shingles"])
            return next(frame.task(iter([batch]))).to_pydict()

        assert signatures(sliced) == signatures(compact), (start, stop)
