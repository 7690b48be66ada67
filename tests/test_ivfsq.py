"""IVF×SQ8 composed index (operators/ivfsq.py): exactness at full
probe, pruning behavior, pure-Catalyst ADC plan, near-lossless
quantization (adc ≈ rerank), empty-query contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deployment_spark.functions.vector import l2_normalize
from deployment_spark.operators.ivfsq import IVFSQIndex
from deployment_spark.operators.similarity import topk_similarity_join_expr


@pytest.fixture(scope="module")
def norm_emb(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        "vec_id", l2_normalize("embedding").alias("embedding")
    ).cache()


@pytest.fixture(scope="module")
def index(spark, norm_emb, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ivfsq"))
    return IVFSQIndex(spark, root).build(norm_emb, nlist=8)


@pytest.fixture(scope="module")
def queries(norm_emb):
    return norm_emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_full_probe_rerank_reproduces_exact(norm_emb, index, queries):
    k = 10
    exact = {
        (r.query_id, r.vec_id)
        for r in topk_similarity_join_expr(norm_emb, queries, k=k).collect()
    }
    got = {
        (r.query_id, r.vec_id)
        for r in index.search(queries, k=k, nprobe=8, shortlist=50).collect()
    }
    assert got == exact


def test_adc_tracks_rerank_near_lossless(norm_emb, index, queries):
    """SQ8's defining property in the composed index: quantization adds
    (almost) no loss on top of pruning, so ADC-only and re-ranked hit
    sets agree — the opposite of IVF×PQ, where re-rank recovers
    compression loss."""
    k = 10
    adc = {
        (r.query_id, r.vec_id)
        for r in index.search(queries, k=k, nprobe=5, shortlist=None).collect()
    }
    rr = {
        (r.query_id, r.vec_id)
        for r in index.search(queries, k=k, nprobe=5, shortlist=50).collect()
    }
    overlap = len(adc & rr) / len(rr)
    assert overlap >= 0.95, overlap


def test_adc_plan_is_pure_catalyst_and_pruned(index, queries):
    from deployment_spark.plans import audit

    df = index.search(queries, k=5, nprobe=3, shortlist=None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    assert audit.has_partition_filters(df), plan


def test_codes_are_byte_per_dim(index, norm_emb):
    dim = len(norm_emb.first().embedding)
    codes = index.codes()
    assert dict(codes.dtypes)["codes"] == "array<tinyint>"
    assert all(len(r.codes) == dim for r in codes.limit(16).collect())


def test_empty_queries(index, queries, spark):
    out = index.search(queries.filter(F.lit(False)), k=5)
    assert out.count() == 0


def test_per_query_routing_independent_of_batch(norm_emb, index, queries):
    """A query's results must not depend on which other queries share
    the batch (per-query routing, not union routing)."""
    k = 5
    solo = {
        (r.query_id, r.vec_id, r.rank)
        for r in index.search(
            queries.filter(F.col("query_id") == 0), k=k, nprobe=3, shortlist=20
        ).collect()
    }
    batched = {
        (r.query_id, r.vec_id, r.rank)
        for r in index.search(queries, k=k, nprobe=3, shortlist=20).collect()
        if r.query_id == 0
    }
    assert solo == batched


def test_distributed_routing_parity_ivfsq(index, queries):
    """routing='distributed' (no centroid collect) must return the same
    results as the driver router on the composed IVF×SQ8 index."""
    a = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in index.search(queries, k=5, nprobe=4).collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in index.search(queries, k=5, nprobe=4, routing="distributed").collect()
    )
    assert a == b


def test_search_batch_probe_all_covering_shortlist_parity(norm_emb, index, queries):
    """nprobe ≥ nlist and a corpus-covering shortlist make the exact
    re-rank consume every row, so ADC matmul-vs-fold ulps cannot shift
    the result: the batch route must equal the interactive search
    bit-for-bit (the re-rank cosine is the same Catalyst expression in
    both)."""
    n = norm_emb.count()
    a = sorted(
        map(
            tuple,
            index.search(queries, k=6, nprobe=100, shortlist=n).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            index.search_batch(
                queries, k=6, nprobe=100, shortlist=n, num_query_blocks=2
            ).collect(),
        )
    )
    assert a == b


def test_search_rejects_unknown_routing(index, queries):
    """r8 review: a typo'd routing string must raise, not silently fall
    through to the driver-collect path a batch caller is avoiding."""
    with pytest.raises(ValueError, match="unknown routing"):
        index.search(queries, k=3, routing="Batch")


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


def test_search_batch_operating_point_recall(norm_emb, index, queries):
    k = 10
    exact = {
        (r.query_id, r.vec_id)
        for r in topk_similarity_join_expr(norm_emb, queries, k=k).collect()
    }
    got = {
        (r.query_id, r.vec_id)
        for r in index.search_batch(queries, k=k, nprobe=5, shortlist=50).collect()
    }
    assert len(got & exact) / len(exact) >= 0.8


def test_search_batch_salting_is_invisible(index, queries):
    base = sorted(
        map(tuple, index.search_batch(queries, k=5, nprobe=5, shortlist=20).collect())
    )
    salted = sorted(
        map(
            tuple,
            index.search_batch(
                queries, k=5, nprobe=5, shortlist=20, max_cluster_rows_per_task=7
            ).collect(),
        )
    )
    assert base == salted


def test_search_batch_tolerates_null_codes(spark, norm_emb, tmp_path):
    """r8 ADVICE: a NULL codes array must not crash the batch decode —
    excluded codegen-side like the flat SQ8 batch path already does."""
    from deployment_spark.operators.ivfsq import IVFSQIndex

    idx = IVFSQIndex(spark, str(tmp_path / "sqnull")).build(norm_emb, nlist=4)
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
    null_row = spark.createDataFrame([(999_999, None, 0)], idx.codes().schema)
    null_row.write.mode("append").partitionBy("cluster_id").parquet(
        str(tmp_path / "sqnull" / "sq_codes")
    )
    after = {
        (r.query_id, r.rank): r.vec_id
        for r in idx.search_batch(q, k=3, nprobe=4).collect()
    }
    assert after == before
    after_search = {
        sl: sorted(map(tuple, idx.search(q, k=3, nprobe=4, shortlist=sl).collect()))
        for sl in (None, 50)
    }
    assert after_search == before_search


def test_adc_only_full_probe_equals_flat_codec(index, queries):
    """At full probe with no shortlist the composed index's ADC route is
    the flat codec's: the same (query_id, rank, vec_id) and similarity,
    bit for bit, as ``SQCodec.search`` over the same codes (both score
    with the same decode + dot-product expression)."""
    got = {
        (r.query_id, r.rank): (r.vec_id, r.similarity.hex())
        for r in index.search(queries, k=10, nprobe=100, shortlist=None).collect()
    }
    flat = {
        (r.query_id, r.rank): (r.vec_id, r.similarity.hex())
        for r in index.codec().search(index.codes(), queries, k=10).collect()
    }
    assert got == flat
    assert len(got) == 10 * queries.count()


def test_range_search_full_probe_equals_flat_radius(norm_emb, index, queries):
    """r9 error-bounded range search: at nprobe >= nlist the hit SET
    over the compressed codes must equal flat radius_search on the same
    rows — quantization may only inflate the candidate count, never
    change membership (margin guarantee) or similarity (exact refine)."""
    from deployment_spark.operators.similarity import radius_search

    got = index.range_search(queries, radius=0.3, nprobe=8)
    want = radius_search(norm_emb, queries, radius=0.3)
    g = {(r.query_id, r.vec_id): round(r.similarity, 6) for r in got.collect()}
    w = {(r.query_id, r.vec_id): round(r.similarity, 6) for r in want.collect()}
    assert g == w
    # limited variant: tie-aware per-query cap, same keys as flat
    got_l = index.range_search(queries, radius=0.3, nprobe=8, limit_per_query=5)
    want_l = radius_search(norm_emb, queries, radius=0.3, limit_per_query=5)
    gl = {(r.query_id, r.rank): r.vec_id for r in got_l.collect()}
    wl = {(r.query_id, r.rank): r.vec_id for r in want_l.collect()}
    assert gl == wl


def test_range_search_margin_prevents_adc_misses(spark, tmp_path):
    """The margin is LOAD-BEARING: construct a corpus row whose
    quantized (ADC) similarity falls BELOW the radius while its exact
    similarity is at/above it — without the margin term the codegen
    candidate filter would drop a true hit before the refine stage."""
    import numpy as np

    from deployment_spark.operators.sq import SQCodec

    rng_rows = []
    q = np.array([1.0, 0.0, 0.0, 0.0])
    # unit vectors fanning away from q, plus range-setting poles so the
    # trained scales are wide enough for visible quantization error
    for i in range(40):
        a = 0.02 + i * 0.004
        v = np.array([np.cos(a), np.sin(a) * 0.8, np.sin(a) * 0.5, np.sin(a) * 0.33])
        rng_rows.append(v / np.linalg.norm(v))
    rng_rows.append(np.array([-1.0, 0.0, 0.0, 0.0]))
    rng_rows.append(np.array([0.0, -1.0, 0.0, 0.0]))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng_rows)],
        "vec_id long, embedding array<double>",
    )
    idx = IVFSQIndex(spark, str(tmp_path / "sqrange")).build(corpus, nlist=2)
    codec = idx.codec()

    # numpy replay of encode/decode to find a row whose ADC sim is
    # measurably below its exact sim
    lo, sc = codec.lo, codec.scale
    best = None
    for i, v in enumerate(rng_rows):
        code = np.clip(np.round((v - lo) / sc), 0, 255)
        dec = lo + code * sc
        exact, adc = float(v @ q), float(dec @ q)
        if adc < exact - 1e-5:
            best = (i, exact, adc)
            break
    assert best is not None, "fixture produced no downward quantization"
    vid, exact, adc = best
    radius = (exact + adc) / 2.0  # adc < radius < exact

    queries = spark.createDataFrame(
        [(0, [float(x) for x in q])], "query_id long, query_vec array<double>"
    )
    hits = {
        r.vec_id
        for r in idx.range_search(queries, radius=radius, nprobe=2).collect()
    }
    assert vid in hits  # the margin rescued the true hit ADC would drop


def test_range_search_pruned_subset_and_empty(norm_emb, index, queries, spark):
    full = {
        (r.query_id, r.vec_id)
        for r in index.range_search(queries, radius=0.3, nprobe=8).collect()
    }
    pruned = {
        (r.query_id, r.vec_id)
        for r in index.range_search(queries, radius=0.3, nprobe=2).collect()
    }
    assert pruned <= full
    # self-hit survives pruning (own cluster probed first)
    for qid in (0, 1):
        assert (qid, qid) in pruned
    assert index.range_search(queries.limit(0), radius=0.3).count() == 0
