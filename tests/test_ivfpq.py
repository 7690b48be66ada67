"""IVF x PQ composed index (operators/ivfpq.py): layout, pruning,
recall, and re-rank refinement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deployment_spark.functions.vector import l2_normalize
from deployment_spark.operators.ivfpq import IVFPQIndex
from deployment_spark.operators.similarity import topk_similarity_join_expr


@pytest.fixture(scope="module")
def norm_emb(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select("vec_id", l2_normalize("embedding").alias("embedding")).cache()


@pytest.fixture(scope="module")
def index(spark, norm_emb, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ivfpq"))
    return IVFPQIndex(spark, root).build(norm_emb, nlist=8, m=16, ksub=64)


def exact_topk(norm_emb, queries, k):
    return {
        (r.query_id, r.vec_id)
        for r in topk_similarity_join_expr(norm_emb, queries, k=k).collect()
    }


@pytest.fixture(scope="module")
def queries(norm_emb):
    return norm_emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_codes_partitioned_like_vectors(index):
    """Both tables carry the same cluster layout, so pruning is shared."""
    vec_clusters = {r.cluster_id for r in index.ivf.data().select("cluster_id").distinct().collect()}
    code_clusters = {r.cluster_id for r in index.codes().select("cluster_id").distinct().collect()}
    assert vec_clusters == code_clusters
    assert index.codes().count() == index.ivf.data().count()


def test_probe_all_rerank_recovers_near_exact(norm_emb, index, queries):
    """nprobe=all removes pruning loss; shortlist re-rank removes most
    compression loss — recall@10 >= 0.9."""
    got = {
        (r.query_id, r.vec_id)
        for r in index.search(queries, k=10, nprobe=10**9, shortlist=50).collect()
    }
    e = exact_topk(norm_emb, queries, 10)
    assert len(got & e) / len(e) >= 0.9


def test_operating_point_recall_floor(norm_emb, index, queries):
    """The production operating point (nprobe=4 of 8, shortlist re-rank)
    keeps a sane recall floor on worst-case random vectors."""
    got = {
        (r.query_id, r.vec_id)
        for r in index.search(queries, k=10, nprobe=4, shortlist=50).collect()
    }
    e = exact_topk(norm_emb, queries, 10)
    assert len(got & e) / len(e) >= 0.5


def test_adc_only_mode_orders_reasonably(index, queries):
    """shortlist=None returns pure-ADC results: self-queries still rank
    themselves first (their own code is their nearest code)."""
    got = {r.query_id: r.vec_id for r in index.search(
        queries, k=1, nprobe=10**9, shortlist=None
    ).collect()}
    hits = sum(1 for q, v in got.items() if q == v)
    assert hits >= 18


def test_empty_queries(spark, index):
    empty = spark.createDataFrame([], "query_id LONG, query_vec ARRAY<DOUBLE>")
    assert index.search(empty, k=5).count() == 0


def test_per_query_pruning_batch_independent(norm_emb, index, queries):
    """Routing is per query: q0 searched ALONE must return exactly what
    q0 gets when batched with 19 other queries (the union-pruning bug
    this guards against made results depend on batch composition)."""
    solo_q = queries.filter(F.col("query_id") == 0)
    solo = [
        (r.vec_id, r.rank)
        for r in index.search(solo_q, k=10, nprobe=2, shortlist=20).collect()
    ]
    batched = [
        (r.vec_id, r.rank)
        for r in index.search(queries, k=10, nprobe=2, shortlist=20)
        .filter(F.col("query_id") == 0)
        .collect()
    ]
    assert sorted(solo) == sorted(batched)
    assert solo  # non-empty


def test_distributed_routing_parity_ivfpq(index, queries):
    """routing='distributed' (no centroid collect) must return the same
    results as the driver router on the composed IVF×PQ index."""
    a = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in index.search(queries, k=5, nprobe=4).collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in index.search(queries, k=5, nprobe=4, routing="distributed").collect()
    )
    assert a == b


def test_search_batch_probe_all_bitexact_parity(index, queries):
    """nprobe ≥ nlist removes routing differences (both paths probe
    every list); the ADC gather and the exact-cosine re-rank then use
    identical expressions in both paths, so the batch route must equal
    the interactive search bit-for-bit — scores included."""
    a = sorted(
        map(tuple, index.search(queries, k=8, nprobe=100, shortlist=30).collect())
    )
    b = sorted(
        map(
            tuple,
            index.search_batch(
                queries, k=8, nprobe=100, shortlist=30, num_query_blocks=2
            ).collect(),
        )
    )
    assert a == b


def test_search_rejects_unknown_routing(index, queries):
    """r8 review: a typo'd routing string must raise, not silently fall
    through to the driver-collect path a batch caller is avoiding."""
    with pytest.raises(ValueError, match="unknown routing"):
        index.search(queries, k=3, routing="batched")


def test_search_routing_batch_dispatches(index, queries):
    """search(routing='batch') is the explicit corpus-scale-queries
    entry — same results as search_batch (mirrors IVFIndex.search)."""
    a = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in index.search(
            queries, k=5, nprobe=5, shortlist=20, routing="batch"
        ).collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in index.search_batch(queries, k=5, nprobe=5, shortlist=20).collect()
    )
    assert a == b


def test_search_batch_salting_is_invisible(index, queries):
    """Hot-cluster sub-block salting must not change results — every
    (query, salt) emits its tie-aware local top-k and the global window
    merges. bound=7 forces every fixture cluster to split."""
    base = sorted(
        map(
            tuple,
            index.search_batch(queries, k=5, nprobe=5, shortlist=20).collect(),
        )
    )
    salted = sorted(
        map(
            tuple,
            index.search_batch(
                queries, k=5, nprobe=5, shortlist=20,
                max_cluster_rows_per_task=7,
            ).collect(),
        )
    )
    assert base == salted


def test_search_batch_operating_point_recall(norm_emb, index, queries):
    """At the interactive tests' operating point (nprobe 5/8 + re-rank)
    the batch route must clear the same recall floor vs exact."""
    k = 10
    exact = exact_topk(norm_emb, queries, k)
    got = {
        (r.query_id, r.vec_id)
        for r in index.search_batch(queries, k=k, nprobe=5, shortlist=50).collect()
    }
    assert len(got & exact) / len(exact) >= 0.8


def test_search_batch_adc_only_and_empty(spark, index, queries):
    res = index.search_batch(queries, k=5, nprobe=100, shortlist=None)
    a = sorted(map(tuple, res.collect()))
    b = sorted(
        map(tuple, index.search(queries, k=5, nprobe=100, shortlist=None).collect())
    )
    assert a == b
    empty = spark.createDataFrame([], "query_id LONG, query_vec ARRAY<DOUBLE>")
    assert index.search_batch(empty, k=5).count() == 0


def test_search_batch_tolerates_null_codes(spark, norm_emb, tmp_path):
    """r8 ADVICE: a code row with a valid cluster_id but NULL code (an
    externally-maintained codes table can carry one) must not crash the
    ADC task's b''.join — the batch route excludes it codegen-side."""
    idx = IVFPQIndex(spark, str(tmp_path / "pqnull")).build(
        norm_emb, nlist=4, m=16, ksub=64
    )
    q = norm_emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    before = {
        (r.query_id, r.rank): r.vec_id
        for r in idx.search_batch(q, k=3, nprobe=4).collect()
    }
    before_search = {
        sl: sorted(map(tuple, idx.search(q, k=3, nprobe=4, shortlist=sl).collect()))
        for sl in (None, 50)
    }
    schema = idx.codes().schema
    null_row = spark.createDataFrame(
        [tuple(999_999 if f.name == "vec_id" else (0 if f.name == "cluster_id" else None) for f in schema.fields)],
        schema,
    )
    null_row.write.mode("append").partitionBy("cluster_id").parquet(
        str(tmp_path / "pqnull" / "codes")
    )
    after = {
        (r.query_id, r.rank): r.vec_id
        for r in idx.search_batch(q, k=3, nprobe=4).collect()
    }
    assert after == before
    # the interactive route excludes it too (a null code would crash
    # its LUT gather)
    after_search = {
        sl: sorted(map(tuple, idx.search(q, k=3, nprobe=4, shortlist=sl).collect()))
        for sl in (None, 50)
    }
    assert after_search == before_search


def test_adc_only_full_probe_equals_flat_codec(index, queries):
    """At full probe with no shortlist the composed index's ADC route is
    the flat codec's: the same (query_id, rank, vec_id) as
    ``PQCodec.search`` over the same codes, and the similarity is the
    negated ADC distance bit for bit."""
    got = {
        (r.query_id, r.rank): (r.vec_id, r.similarity.hex())
        for r in index.search(queries, k=10, nprobe=100, shortlist=None).collect()
    }
    flat = {
        (r.query_id, r.rank): (r.vec_id, (-r.adc_distance).hex())
        for r in index.codec().search(index.codes(), queries, k=10).collect()
    }
    assert got == flat
    assert len(got) == 10 * queries.count()


def test_range_search_exact_vs_flat_and_margin_load_bearing(
    spark, norm_emb, index, queries
):
    """r10 (VERDICT r9 #6): error-bounded range search over PQ codes —
    at full probe the hit set AND similarities equal flat radius_search
    on the same rows, and the per-row residual bound is demonstrably
    LOAD-BEARING: some true hits' ADC dot alone falls below the radius
    (they survive only because the filter subtracts resid_i), so a
    naive ADC-threshold filter would silently drop them."""
    import numpy as np

    from deployment_spark.operators.similarity import radius_search

    got = {
        (r.query_id, r.vec_id): round(r.similarity, 6)
        for r in index.range_search(queries, radius=0.3, nprobe=10**9).collect()
    }
    want = {
        (r.query_id, r.vec_id): round(r.similarity, 6)
        for r in radius_search(norm_emb, queries, radius=0.3).collect()
    }
    assert got == want
    # margin load-bearing: recompute each true hit's raw ADC dot
    codec = index.codec()
    books, m, dsub = codec.codebooks, codec.m, codec.dsub
    codes = {
        r.vec_id: np.frombuffer(r.code, np.uint8)
        for r in index.codes().collect()
    }
    qv = {
        r.query_id: np.asarray(r.query_vec) / np.linalg.norm(r.query_vec)
        for r in queries.collect()
    }
    below = [
        (qid, vid)
        for (qid, vid) in want
        if sum(
            books[j][codes[vid][j]] @ qv[qid][j * dsub : (j + 1) * dsub]
            for j in range(m)
        )
        < 0.3
    ]
    assert below, "fixture no longer exercises the margin"


def test_range_search_pruned_is_subset_and_limit(norm_emb, index, queries):
    """nprobe < nlist may only REMOVE hits (same pruning contract as
    IVFIndex.range_search); limit_per_query caps tie-aware."""
    full = {
        (r.query_id, r.vec_id)
        for r in index.range_search(queries, radius=0.3, nprobe=10**9).collect()
    }
    pruned = index.range_search(queries, radius=0.3, nprobe=2).collect()
    assert {(r.query_id, r.vec_id) for r in pruned} <= full
    assert all(r.similarity >= 0.3 for r in pruned)
    capped = index.range_search(
        queries, radius=0.3, nprobe=10**9, limit_per_query=3
    ).collect()
    per_q = {}
    for r in capped:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 3
               for v in per_q.values())


def test_range_search_requires_resid_column(spark, norm_emb, tmp_path, queries):
    """A pre-r10 codes table (no stored residuals) must fail loudly,
    not silently return an unbounded-approximate hit set."""
    import os

    import pytest as _pytest

    idx = IVFPQIndex(spark, str(tmp_path / "nores")).build(
        norm_emb, nlist=4, m=16, ksub=64
    )
    legacy = idx.codes().drop("resid")
    legacy.write.mode("overwrite").partitionBy("cluster_id").parquet(
        str(tmp_path / "legacy_codes")
    )
    # simulate the old layout in place
    import shutil

    shutil.rmtree(os.path.join(idx.root, "codes"))
    shutil.copytree(str(tmp_path / "legacy_codes"), os.path.join(idx.root, "codes"))
    with _pytest.raises(ValueError, match="resid"):
        idx.range_search(queries, radius=0.3, nprobe=10**9)


def test_range_search_tolerates_null_code_and_null_resid(
    spark, norm_emb, tmp_path, queries
):
    """External codes tables can carry null codes (unscorable — excluded,
    the family's null-tolerance contract) and null residuals (bound
    unknown — the row must go to the exact refine as a conservative
    candidate, never be silently NaN-dropped)."""
    import os

    from pyspark.sql import functions as F

    idx = IVFPQIndex(spark, str(tmp_path / "rsnull")).build(
        norm_emb, nlist=4, m=16, ksub=64
    )
    before = {
        (r.query_id, r.vec_id)
        for r in idx.range_search(queries, radius=0.3, nprobe=10**9).collect()
    }
    codes_path = os.path.join(idx.root, "codes")
    schema = idx.codes().schema
    null_code = spark.createDataFrame(
        [tuple(888_888 if f.name == "vec_id" else (0 if f.name == "cluster_id" else None) for f in schema.fields)],
        schema,
    )
    null_code.write.mode("append").partitionBy("cluster_id").parquet(codes_path)
    # a real row whose resid is nulled: pick one known hit, rewrite its
    # codes row with resid=None — it must STILL be reported (exact
    # refine rescues it through the +inf bound)
    some_qid, some_vid = sorted(before)[0]
    rewritten = (
        idx.codes()
        .filter(F.col("vec_id") == some_vid)
        .withColumn("resid", F.lit(None).cast("double"))
    )
    rest = idx.codes().filter(
        (F.col("vec_id") != some_vid) & (F.col("vec_id") != 888_888)
    )
    tmp_out = str(tmp_path / "rewritten_codes")
    rest.unionByName(rewritten).write.partitionBy("cluster_id").parquet(tmp_out)
    import shutil

    shutil.rmtree(codes_path)
    shutil.copytree(tmp_out, codes_path)
    after = {
        (r.query_id, r.vec_id)
        for r in idx.range_search(queries, radius=0.3, nprobe=10**9).collect()
    }
    assert after == before
    assert (some_qid, some_vid) in after
