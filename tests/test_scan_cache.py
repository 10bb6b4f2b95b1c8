"""sources/scan_cache.cached_parquet: the stores' session-scoped
analyzed-scan memo (r12). Pins that (a) an unchanged directory returns
the SAME DataFrame object (no repeated listing/footer work), (b) any
file mutation — append, overwrite — invalidates the entry and reads
fresh rows, and (c) the cache is plan-metadata only: rows written after
the first read are visible after invalidation, so no result data is
ever frozen."""

from __future__ import annotations

import os
import time

from distributedvectordatabase_spark.sources import scan_cache
from distributedvectordatabase_spark.sources.scan_cache import cached_parquet


def test_same_fingerprint_returns_same_plan(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    a = cached_parquet(spark, p)
    b = cached_parquet(spark, p)
    assert a is b
    assert a.count() == 10


def test_mutation_invalidates(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    a = cached_parquet(spark, p)
    assert a.count() == 10
    spark.range(5).write.mode("append").parquet(p)
    b = cached_parquet(spark, p)
    assert b is not a
    assert b.count() == 15


def test_overwrite_invalidates(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    a = cached_parquet(spark, p)
    assert a.count() == 10
    spark.range(3).write.mode("overwrite").parquet(p)
    assert cached_parquet(spark, p).count() == 3


def test_touch_only_invalidates(spark, tmp_path):
    # mtime alone (no size change) is enough to key a fresh read —
    # the driver regenerates testdata in place
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    a = cached_parquet(spark, p)
    f = next(
        os.path.join(p, x) for x in os.listdir(p) if x.endswith(".parquet")
    )
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert cached_parquet(spark, p) is not a


def test_file_vanishing_mid_fingerprint_is_skipped(spark, tmp_path, monkeypatch):
    # a concurrent compact/overwrite can remove a file between the
    # directory walk and its stat: the fingerprint skips it instead of
    # failing the read
    p = str(tmp_path / "t")
    spark.range(0, 5).coalesce(1).write.parquet(p)
    spark.range(5, 10).coalesce(1).write.mode("append").parquet(p)
    victim = sorted(
        os.path.join(p, x) for x in os.listdir(p) if x.endswith(".parquet")
    )[0]
    real_stat = os.stat
    deleted = []

    def stat_after_delete(path, *a, **kw):
        if path == victim and not deleted:
            os.unlink(victim)
            deleted.append(victim)
        return real_stat(path, *a, **kw)

    monkeypatch.setattr(scan_cache.os, "stat", stat_after_delete)
    df = cached_parquet(spark, p)
    monkeypatch.undo()
    assert deleted and df.count() == 5


def test_same_size_rewrite_with_restored_mtime_invalidates(spark, tmp_path):
    # a rewrite that keeps the size and lands inside the mtime
    # granularity (simulated by restoring the old mtime) must still key
    # a fresh read: inode/ctime are part of the fingerprint
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    a = cached_parquet(spark, p)
    f = next(
        os.path.join(p, x) for x in os.listdir(p) if x.endswith(".parquet")
    )
    st = os.stat(f)
    with open(f, "rb") as fh:
        data = fh.read()
    time.sleep(0.05)  # past the coarse clock tick that stamps ctime
    with open(f, "r+b") as fh:
        fh.write(data)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(f).st_size == st.st_size
    assert os.stat(f).st_mtime_ns == st.st_mtime_ns
    assert cached_parquet(spark, p) is not a
