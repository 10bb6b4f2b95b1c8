"""Scalar-quantization (SQ8) operator: exact train bounds, bounded
per-dim reconstruction error, determinism under repartitioning,
compression ratio, and asymmetric-search recall vs exact kNN."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributedvectordatabase_spark.operators.knn import knn, recall_at_k
from distributedvectordatabase_spark.operators.sq import (
    SQParams,
    sq_encode,
    sq_search,
    sq_train,
)
from distributedvectordatabase_spark.sources.tables import load_table, queries_fixture
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def corpus(spark):
    # unpersist at module teardown: a lingering cached plan shadows the
    # parquet scan for later modules' pushdown/plan assertions
    df = load_table(spark, "embeddings", SF_DIR).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def params(corpus):
    return sq_train(corpus)


def test_train_is_exact_minmax_and_partition_independent(spark, corpus, params):
    X = np.array([list(r.embedding) for r in corpus.collect()], dtype=np.float64)
    assert np.array_equal(params.vmin, X.min(axis=0))
    assert np.array_equal(params.vmax, X.max(axis=0))
    p2 = sq_train(corpus.repartition(7))
    assert np.array_equal(params.vmin, p2.vmin)
    assert np.array_equal(params.vmax, p2.vmax)


def test_roundtrip_error_bounded_by_half_cell(spark, corpus, params):
    """Midpoint decode keeps every in-range coordinate within Δ/2 of
    the original — the defining SQ8 guarantee."""
    codes = sq_encode(corpus, params).collect()
    X = {r.vec_id: np.array(list(r.embedding)) for r in corpus.collect()}
    half = params.delta / 2.0 + 1e-12
    for r in codes:
        xh = params.decode_np(
            np.frombuffer(r.codes, dtype=np.uint8).reshape(1, params.dim)
        )[0]
        assert np.all(np.abs(xh - X[r.vec_id]) <= half)


def test_codes_are_one_byte_per_dim(spark, corpus, params):
    row = sq_encode(corpus, params).first()
    assert len(row.codes) == params.dim  # 8x under the float64 array


def test_encode_partitioning_independent(spark, corpus, params):
    a = {r.vec_id: r.codes for r in sq_encode(corpus, params).collect()}
    b = {r.vec_id: r.codes for r in sq_encode(corpus.repartition(7), params).collect()}
    assert a == b


def test_constant_dimension_is_exact(spark):
    """A dim with vmax == vmin has Δ=0 and must decode to vmin exactly
    (no 0/0)."""
    p = SQParams(vmin=np.array([1.0, -2.0]), vmax=np.array([1.0, 3.0]))
    codes = p.encode_np(np.array([[1.0, 0.5]]))
    xh = p.decode_np(codes)[0]
    assert xh[0] == 1.0
    assert abs(xh[1] - 0.5) <= p.delta[1] / 2 + 1e-12


def test_search_recall_and_rerank(spark, corpus, params):
    q = queries_fixture(spark, SF_DIR).cache()
    exact = knn(corpus, q, k=10).cache()
    codes = sq_encode(corpus, params).cache()
    adc = sq_search(codes, params, q, k=10).cache()
    r_adc = recall_at_k(exact, adc, 10)
    # 8-bit per dim is a gentle quantizer: near-exact ranking expected
    assert r_adc >= 0.95
    rer = sq_search(codes, params, q, k=10, rerank=3, corpus=corpus).cache()
    r_rer = recall_at_k(exact, rer, 10)
    assert r_rer >= r_adc
    assert r_rer >= 0.99
    # reranked distances are the EXACT distances for the matched pairs
    joined = (
        rer.select("qid", "neighbor_id", F.col("dist").alias("d_rer"))
        .join(exact.select("qid", "neighbor_id", F.col("dist").alias("d_ex")),
              ["qid", "neighbor_id"])
        .collect()
    )
    assert joined
    for r in joined:
        assert r.d_rer == pytest.approx(r.d_ex, abs=1e-9)
    # self-query fixture: with rerank the top hit is the row itself
    top = {r.qid: r.neighbor_id for r in rer.filter("rnk = 1").collect()}
    assert all(qid == nid for qid, nid in top.items())


def test_rerank_requires_corpus(spark, corpus, params):
    q = queries_fixture(spark, SF_DIR)
    codes = sq_encode(corpus, params)
    with pytest.raises(ValueError, match="rerank"):
        sq_search(codes, params, q, k=5, rerank=2)


def test_params_roundtrip_dict(params):
    p2 = SQParams.from_dict(params.to_dict())
    assert np.array_equal(params.vmin, p2.vmin)
    assert np.array_equal(params.vmax, p2.vmax)


# -- VectorStore SQ8 sidecar ------------------------------------------------

from distributedvectordatabase_spark.functions.lsh import SignLSH
from distributedvectordatabase_spark.plans import scan_partition_filters
from distributedvectordatabase_spark.sources.vector_store import VectorStore


@pytest.fixture()
def sq_store(spark, tmp_path, corpus):
    vs = VectorStore(str(tmp_path / "emb"), SignLSH(dim=64))
    vs.write(corpus)
    vs.build_sq(spark)
    return vs


def test_store_build_sq_and_full_search(spark, sq_store, corpus):
    q = queries_fixture(spark, SF_DIR, n=10)
    exact = knn(corpus, q, k=10)
    res = sq_store.knn_sq(spark, q, k=10, pruned=False, rerank=3)
    assert recall_at_k(exact, res, 10) >= 0.99
    # self-query: reranked distances are exact, so rank 1 is the row itself
    top = {r.qid: r for r in res.filter("rnk = 1").collect()}
    assert all(r.neighbor_id == qid for qid, r in top.items())


def test_store_knn_sq_prunes_partitions(spark, sq_store):
    q = queries_fixture(spark, SF_DIR, n=5)
    res = sq_store.knn_sq(spark, q, k=5, pruned=True, num_candidates=2)
    pf = scan_partition_filters(res)
    assert pf and any("shard_id" in f for f in pf), pf
    # pruned SQ recall tracks the pruned raw path (same probed shards)
    raw = sq_store.knn(spark, q, k=5, pruned=True, num_candidates=2)
    r = recall_at_k(raw, sq_store.knn_sq(spark, q, k=5, pruned=True,
                                         num_candidates=2, rerank=3), 5)
    assert r >= 0.95, r


def test_store_append_keeps_codes_in_sync(spark, sq_store):
    vec = np.full(64, 2.5)  # far outside the corpus ball
    extra = spark.createDataFrame(
        [(9001, vec.tolist())], schema="vec_id long, embedding array<float>"
    )
    sq_store.append(extra)
    q = spark.createDataFrame(
        [(1, vec.tolist())], schema="qid long, qvec array<double>"
    )
    res = sq_store.knn_sq(spark, q, k=1, pruned=False, rerank=2).collect()
    assert res and res[0].neighbor_id == 9001


def test_store_delete_excludes_from_sq_search(spark, sq_store):
    q = queries_fixture(spark, SF_DIR, n=3)
    before = sq_store.knn_sq(spark, q, k=1, pruned=False).collect()
    victim = before[0].neighbor_id
    sq_store.delete(spark, [int(victim)])
    after = sq_store.knn_sq(spark, q, k=5, pruned=False).collect()
    assert victim not in {r.neighbor_id for r in after}
    # rerank path excludes it too (tombstones filter both tables)
    after_r = sq_store.knn_sq(spark, q, k=5, pruned=False, rerank=2).collect()
    assert victim not in {r.neighbor_id for r in after_r}


def test_store_compact_carries_sq_sidecar_and_folds_tombstones(spark, sq_store):
    import os

    q = queries_fixture(spark, SF_DIR, n=5)
    sq_store.delete(spark, [0])
    want = {(r.qid, r.neighbor_id, r.rnk)
            for r in sq_store.knn_sq(spark, q, k=5, pruned=False).collect()}
    sq_store.compact(spark)
    assert os.path.exists(sq_store._sq_params_path)
    got = {(r.qid, r.neighbor_id, r.rnk)
           for r in sq_store.knn_sq(spark, q, k=5, pruned=False).collect()}
    assert got == want
    # tombstones folded physically out of the codes table too
    raw_codes = spark.read.parquet(sq_store._sq_path)
    assert raw_codes.filter("vec_id = 0").count() == 0
    assert not os.path.exists(os.path.join(sq_store.path, "_tombstones"))


def test_store_knn_sq_detects_stale_codes(spark, sq_store):
    # simulate an out-of-band write (e.g. a streaming sink) bumping the
    # store generation without the codes sync
    import json

    with open(sq_store._lsh_config_path) as f:
        cfg = json.load(f)
    cfg["gen"] += 1
    with open(sq_store._lsh_config_path, "w") as f:
        json.dump(cfg, f)
    q = queries_fixture(spark, SF_DIR, n=2)
    with pytest.raises(ValueError, match="stale"):
        sq_store.knn_sq(spark, q, k=2)
