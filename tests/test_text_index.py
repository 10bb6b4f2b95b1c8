"""TextIndex: persisted term-partitioned postings must reproduce the
one-shot BM25 operator exactly, and its queries must partition-prune."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributedvectordatabase_spark.operators.search import bm25_topk
from distributedvectordatabase_spark.plans import scan_partition_filters
from distributedvectordatabase_spark.sources.tables import load_table
from distributedvectordatabase_spark.sources.text_index import TextIndex
from tests.conftest import SF_SMALL

TERMS = ["dup", "vector", "query"]


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    docs = load_table(spark, "documents", SF_SMALL)
    ix = TextIndex(str(tmp_path_factory.mktemp("tix") / "index"), n_buckets=16)
    ix.build(docs)
    return ix


def test_index_bm25_matches_oneshot_exactly(spark, index):
    docs = load_table(spark, "documents", SF_SMALL)
    want = [
        (r.doc_id, r.score, r.rnk)
        for r in bm25_topk(docs, TERMS, k=10).collect()
    ]
    got = [
        (r.doc_id, r.score, r.rnk)
        for r in index.bm25(spark, TERMS, k=10).collect()
    ]
    assert got == want  # bitwise-identical scores, same ranking


def test_index_query_prunes_partitions(spark, index):
    df = index.bm25(spark, TERMS, k=5)
    pf = scan_partition_filters(df)
    assert any("term_bucket" in f for f in pf), pf


def test_index_stats_sidecar(spark, index):
    st = index.stats()
    docs = load_table(spark, "documents", SF_SMALL)
    assert st["n_docs"] == docs.count()
    assert st["n_buckets"] == 16
    assert st["total_len"] > 0


def test_index_requires_terms(spark, index):
    with pytest.raises(ValueError):
        index.bm25(spark, [])


def test_index_single_term_reads_one_bucket(spark, index):
    """A single-term query must touch exactly one term_bucket."""
    df = index.bm25(spark, ["vector"], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition filter present and mentions the bucket column
    assert "term_bucket" in plan
    rows = df.collect()
    assert len(rows) == 5
    assert [r.rnk for r in rows] == [1, 2, 3, 4, 5]


def test_reopen_with_wrong_buckets_uses_persisted(spark, index):
    """Regression: an index built with 16 buckets but reopened with the
    default constructor value must still prune the RIGHT partitions —
    the persisted n_buckets is authoritative, or postings silently
    vanish from query results."""
    reopened = TextIndex(index.path)  # default n_buckets=32 != 16
    want = [
        (r.doc_id, r.score, r.rnk)
        for r in index.bm25(spark, TERMS, k=10).collect()
    ]
    got = [
        (r.doc_id, r.score, r.rnk)
        for r in reopened.bm25(spark, TERMS, k=10).collect()
    ]
    assert got == want
    assert reopened.n_buckets == 16  # synced to the persisted value


def test_append_after_reopen_lands_in_right_buckets(spark, tmp_path):
    """append on a reopened index (wrong constructor buckets) must hash
    terms with the persisted bucket count, or appended postings land
    in partitions queries never read."""
    docs = load_table(spark, "documents", SF_SMALL)
    lo = docs.filter(F.col("doc_id") % 2 == 0)
    hi = docs.filter(F.col("doc_id") % 2 == 1)

    ix = TextIndex(str(tmp_path / "reopen"), n_buckets=8)
    ix.build(lo)
    TextIndex(str(tmp_path / "reopen")).append(hi)  # default 32 != 8

    full = TextIndex(str(tmp_path / "full8"), n_buckets=8)
    full.build(docs)
    a = [(r.doc_id, r.score, r.rnk) for r in TextIndex(str(tmp_path / "reopen")).bm25(spark, TERMS, k=10).collect()]
    b = [(r.doc_id, r.score, r.rnk) for r in full.bm25(spark, TERMS, k=10).collect()]
    assert a == b


def test_append_equals_fresh_build(spark, tmp_path):
    """build(half) + append(half) must answer queries identically to
    build(all) — df derives from postings, stats accumulate."""
    docs = load_table(spark, "documents", SF_SMALL)
    lo = docs.filter(F.col("doc_id") % 2 == 0)
    hi = docs.filter(F.col("doc_id") % 2 == 1)

    inc = TextIndex(str(tmp_path / "inc"), n_buckets=8)
    inc.build(lo)
    inc.append(hi)

    full = TextIndex(str(tmp_path / "full"), n_buckets=8)
    full.build(docs)

    assert inc.stats()["n_docs"] == full.stats()["n_docs"]
    assert inc.stats()["total_len"] == full.stats()["total_len"]
    a = [(r.doc_id, r.score, r.rnk) for r in inc.bm25(spark, TERMS, k=10).collect()]
    b = [(r.doc_id, r.score, r.rnk) for r in full.bm25(spark, TERMS, k=10).collect()]
    assert a == b


def test_batch_matches_per_query_loop_exactly(spark, index):
    batches = {
        1: ["dup", "vector"],
        2: ["query"],
        3: ["dup", "vector", "query"],
        4: ["vector", "vector", "query"],  # repeated term weighs once
    }
    q = spark.createDataFrame(
        [(qid, ts) for qid, ts in batches.items()],
        "qid long, terms array<string>",
    )
    got = {
        (r.qid, r.rnk): (r.doc_id, r.score)
        for r in index.bm25_batch(spark, q, k=7).collect()
    }
    want = {}
    for qid, ts in batches.items():
        for r in index.bm25(spark, ts, k=7).collect():
            want[(qid, r.rnk)] = (r.doc_id, r.score)
    assert got == want  # bitwise-identical scores per query


def test_batch_prunes_to_union_buckets(spark, index):
    q = spark.createDataFrame(
        [(1, ["dup"]), (2, ["vector"])], "qid long, terms array<string>"
    )
    res = index.bm25_batch(spark, q, k=3)
    pf = scan_partition_filters(res)
    assert pf and any("term_bucket" in f for f in pf), pf
    rows = res.collect()
    assert {r.qid for r in rows} == {1, 2}


def test_batch_requires_terms(spark, index):
    empty = spark.createDataFrame([], "qid long, terms array<string>")
    with pytest.raises(ValueError, match="at least one"):
        index.bm25_batch(spark, empty)


# -- take-downs (r6: tombstone parity with the vector stores) -----------


def _scores(rows):
    return [(r.doc_id, r.score, r.rnk) for r in rows]


def test_delete_equals_fresh_build_without_deleted(spark, tmp_path):
    """After delete, every surviving score must be BYTE-identical to a
    fresh build over the surviving corpus — n_docs/avgdl feed every
    BM25 score, so the stats decrement has to be exact."""
    docs = load_table(spark, "documents", SF_SMALL)
    ix = TextIndex(str(tmp_path / "ix"), n_buckets=8)
    ix.build(docs)
    victims = [r.doc_id for r in ix.bm25(spark, TERMS, k=3).collect()][:2]
    ix.delete(spark, victims)

    fresh = TextIndex(str(tmp_path / "fresh"), n_buckets=8)
    fresh.build(docs.filter(~F.col("doc_id").isin(victims)))
    got = _scores(ix.bm25(spark, TERMS, k=10).collect())
    want = _scores(fresh.bm25(spark, TERMS, k=10).collect())
    assert got == want
    assert not {d for d, _, _ in got} & set(victims)


def test_delete_then_append_same_id_is_upsert(spark, tmp_path):
    docs = load_table(spark, "documents", SF_SMALL)
    ix = TextIndex(str(tmp_path / "ix"), n_buckets=8)
    ix.build(docs)
    before = _scores(ix.bm25(spark, TERMS, k=10).collect())
    victim = before[0][0]
    ix.delete(spark, [victim])
    ix.append(docs.filter(F.col("doc_id") == victim))
    got = _scores(ix.bm25(spark, TERMS, k=10).collect())
    assert got == before


def test_compact_folds_tombstones(spark, tmp_path):
    import os

    docs = load_table(spark, "documents", SF_SMALL)
    ix = TextIndex(str(tmp_path / "ix"), n_buckets=8)
    ix.build(docs)
    victims = [r.doc_id for r in ix.bm25(spark, TERMS, k=2).collect()]
    ix.delete(spark, victims)
    want = _scores(ix.bm25(spark, TERMS, k=10).collect())
    ix.compact(spark)
    assert not os.path.exists(os.path.join(ix.path, "_tombstones"))
    left = {r.doc_id for r in ix.postings(spark).select("doc_id").collect()}
    assert not set(victims) & left
    got = _scores(ix.bm25(spark, TERMS, k=10).collect())
    assert got == want


def test_delete_crash_between_tombstone_and_stats_heals(spark, tmp_path):
    """Simulated crash: tombstones landed but the stats decrement did
    not (stats_gen < gen). The next query must recount exactly from
    the live doclens table — same rows as the clean-delete path."""
    import json

    docs = load_table(spark, "documents", SF_SMALL)
    ix = TextIndex(str(tmp_path / "ix"), n_buckets=8)
    ix.build(docs)
    pre = ix.stats()
    victims = [r.doc_id for r in ix.bm25(spark, TERMS, k=2).collect()]
    ix.delete(spark, victims)
    st = ix.stats()
    clean = _scores(ix.bm25(spark, TERMS, k=10).collect())
    # rewind the stats to their pre-decrement state (gen burned,
    # tombstones landed, counts stale) — exactly what a crash between
    # delete's steps 2 and 3 leaves behind
    st_crash = dict(
        st, n_docs=pre["n_docs"], total_len=pre["total_len"],
        stats_gen=pre["stats_gen"],
    )
    with open(str(tmp_path / "ix" / "_stats.json"), "w") as f:
        json.dump(st_crash, f)
    healed = _scores(ix.bm25(spark, TERMS, k=10).collect())
    assert healed == clean
    assert ix.stats()["stats_gen"] == ix.stats()["gen"]
    assert ix.stats()["n_docs"] == st["n_docs"]
    assert ix.stats()["total_len"] == st["total_len"]


def test_deleted_doc_counts_once(spark, tmp_path):
    """Re-deleting an already-dead id must decrement nothing."""
    docs = load_table(spark, "documents", SF_SMALL)
    ix = TextIndex(str(tmp_path / "ix"), n_buckets=8)
    ix.build(docs)
    victim = ix.bm25(spark, TERMS, k=1).collect()[0].doc_id
    ix.delete(spark, [victim])
    st1 = ix.stats()
    ix.delete(spark, [victim, victim])
    st2 = ix.stats()
    assert (st2["n_docs"], st2["total_len"]) == (st1["n_docs"], st1["total_len"])
