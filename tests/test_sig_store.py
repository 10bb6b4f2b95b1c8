"""SigStore: persisted MinHash band/token tables must reproduce the
one-shot cross-corpus join exactly, and batch queries must partition-
prune to the batch's band-key buckets (mirror of test_text_index)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributedvectordatabase_spark.operators.dedup import minhash_neardup_join
from distributedvectordatabase_spark.plans import scan_partition_filters
from distributedvectordatabase_spark.sources.sig_store import SigStore
from distributedvectordatabase_spark.sources.tables import load_table
from tests.conftest import SF_SMALL

BANDS, ROWS, SHINGLE = 4, 3, 3
THRESH = 0.7


def _corpus_and_batch(spark):
    docs = load_table(spark, "documents", SF_SMALL)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return corpus, batch


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    corpus, _ = _corpus_and_batch(spark)
    s = SigStore(
        str(tmp_path_factory.mktemp("sig") / "store"),
        bands=BANDS, rows=ROWS, shingle_n=SHINGLE, n_buckets=16,
    )
    s.build(corpus)
    return s


def _key(rows):
    return sorted((r.new_id, r.corpus_id, r.jaccard) for r in rows)


def test_join_batch_matches_oneshot_exactly(spark, store):
    corpus, batch = _corpus_and_batch(spark)
    want = _key(
        minhash_neardup_join(
            batch, corpus, threshold=THRESH, bands=BANDS, rows=ROWS,
            shingle_n=SHINGLE,
        ).collect()
    )
    got = _key(store.join_batch(batch, threshold=THRESH).collect())
    assert got == want
    assert len(got) > 0  # the fixture corpus has planted near-dups


def test_join_batch_prunes_partitions(spark, store):
    _, batch = _corpus_and_batch(spark)
    df = store.join_batch(batch.limit(5), threshold=THRESH)
    pf = scan_partition_filters(df)
    assert any("bucket" in f for f in pf), pf


def test_append_equals_fresh_build(spark, tmp_path):
    corpus, batch = _corpus_and_batch(spark)
    lo = corpus.filter(F.col("doc_id") % 2 == 0)
    hi = corpus.filter(F.col("doc_id") % 2 == 1)

    inc = SigStore(str(tmp_path / "inc"), bands=BANDS, rows=ROWS,
                   shingle_n=SHINGLE, n_buckets=8)
    inc.build(lo)
    inc.append(hi)
    full = SigStore(str(tmp_path / "full"), bands=BANDS, rows=ROWS,
                    shingle_n=SHINGLE, n_buckets=8)
    full.build(corpus)

    a = _key(inc.join_batch(batch, threshold=THRESH).collect())
    b = _key(full.join_batch(batch, threshold=THRESH).collect())
    assert a == b and len(a) > 0


def test_reopen_adopts_persisted_config(spark, store):
    """A store reopened with different constructor defaults must adopt
    the persisted bands/rows/shingle/buckets (the signatures on disk
    were computed with those) — same contract as TextIndex reopen."""
    _, batch = _corpus_and_batch(spark)
    reopened = SigStore(store.path)  # defaults differ from the fixture
    assert (reopened.bands, reopened.rows, reopened.shingle_n,
            reopened.n_buckets) == (BANDS, ROWS, SHINGLE, 16)
    want = _key(store.join_batch(batch, threshold=THRESH).collect())
    got = _key(reopened.join_batch(batch, threshold=THRESH).collect())
    assert got == want


def test_corpus_tables_readable(spark, store):
    corpus, _ = _corpus_and_batch(spark)
    n = corpus.count()
    assert store.corpus_toks(spark).count() == n
    bands = store.corpus_bands(spark)
    assert bands.count() == n * BANDS
    assert set(bands.columns) == {"doc_id", "band", "band_key", "bucket", "_gen"}


# -- take-downs (r6: tombstone parity with the vector stores) -----------


def test_delete_equals_fresh_build_without_deleted(spark, tmp_path):
    """A deleted corpus doc must stop generating candidate pairs —
    join_batch over the tombstoned store is row-identical to a fresh
    build over the surviving corpus."""
    corpus, batch = _corpus_and_batch(spark)
    s = SigStore(str(tmp_path / "s"), bands=BANDS, rows=ROWS,
                 shingle_n=SHINGLE, n_buckets=8)
    s.build(corpus)
    before = _key(s.join_batch(batch, threshold=THRESH).collect())
    assert before, "fixture corpus must produce near-dup hits"
    victim_ids = sorted({cid for _, cid, _ in before})[:2]
    s.delete(spark, victim_ids)

    survivors = corpus.filter(~F.col("doc_id").isin(victim_ids))
    fresh = SigStore(str(tmp_path / "fresh"), bands=BANDS, rows=ROWS,
                     shingle_n=SHINGLE, n_buckets=8)
    fresh.build(survivors)
    got = _key(s.join_batch(batch, threshold=THRESH).collect())
    want = _key(fresh.join_batch(batch, threshold=THRESH).collect())
    assert got == want
    assert not {cid for _, cid, _ in got} & set(victim_ids)


def test_delete_then_append_same_id_is_upsert(spark, tmp_path):
    """Rows appended AFTER a delete carry a strictly greater gen and
    survive the tombstone (the shared upsert contract)."""
    corpus, batch = _corpus_and_batch(spark)
    s = SigStore(str(tmp_path / "s"), bands=BANDS, rows=ROWS,
                 shingle_n=SHINGLE, n_buckets=8)
    s.build(corpus)
    before = _key(s.join_batch(batch, threshold=THRESH).collect())
    victim = sorted({cid for _, cid, _ in before})[0]
    s.delete(spark, [victim])
    s.append(corpus.filter(F.col("doc_id") == victim))
    got = _key(s.join_batch(batch, threshold=THRESH).collect())
    assert got == before


def test_compact_folds_tombstones(spark, tmp_path):
    corpus, batch = _corpus_and_batch(spark)
    s = SigStore(str(tmp_path / "s"), bands=BANDS, rows=ROWS,
                 shingle_n=SHINGLE, n_buckets=8)
    s.build(corpus)
    before = _key(s.join_batch(batch, threshold=THRESH).collect())
    victim_ids = sorted({cid for _, cid, _ in before})[:2]
    s.delete(spark, victim_ids)
    want = _key(s.join_batch(batch, threshold=THRESH).collect())
    s.compact(spark)
    # physically gone from both tables, tombstones dropped, results same
    import os
    assert not os.path.exists(os.path.join(s.path, "_tombstones"))
    toks_ids = {r.doc_id for r in s.corpus_toks(spark).select("doc_id").collect()}
    band_ids = {r.doc_id for r in s.corpus_bands(spark).select("doc_id").collect()}
    assert not set(victim_ids) & (toks_ids | band_ids)
    got = _key(s.join_batch(batch, threshold=THRESH).collect())
    assert got == want
