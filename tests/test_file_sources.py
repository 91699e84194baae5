"""Parquet table source: the catalog's per-session plan memo."""

from __future__ import annotations


def test_load_table_memo_hit_and_mtime_invalidation(spark, tmp_path):
    """The catalog's plan-level memo must return the cached lazy frame
    for an unchanged table directory (read.parquet costs ~87ms per call
    in schema inference alone) and must DROP the entry when the
    directory is regenerated — the stale-file-index hazard of
    tools/make_sfbig rewriting a scale directory mid-session."""
    import os

    from odbc2parquet_spark import cachereg
    from odbc2parquet_spark.catalog import load_table

    p = str(tmp_path / "t.parquet")
    spark.range(5).write.mode("overwrite").parquet(p)
    d1 = load_table(spark, str(tmp_path), "t")
    d2 = load_table(spark, str(tmp_path), "t")
    assert d1 is d2  # memo hit: same lazy DataFrame object
    assert d1.count() == 5
    n_before = len(cachereg.memoized(spark))
    spark.range(9).write.mode("overwrite").parquet(p)
    d3 = load_table(spark, str(tmp_path), "t")
    assert d3 is not d1  # regeneration invalidated the memo
    assert d3.count() == 9
    # the regenerated table REPLACES its entry (keyed on (appId, path),
    # fingerprint in the value): the memo stays bounded by the number of
    # distinct live paths instead of accumulating stale generations
    assert len(cachereg.memoized(spark)) == n_before
    assert load_table(spark, str(tmp_path), "t") is d3  # stable hit
    # same-second rewrite: identical file names and sizes, only mtime_ns
    # moves (within the same second) — still invalidates
    for name in os.listdir(p):
        f = os.path.join(p, name)
        with open(f, "rb") as fh:
            data = fh.read()
        st = os.stat(f)
        with open(f, "wb") as fh:
            fh.write(data)
        same_second = st.st_mtime_ns // 10**9 * 10**9 + (st.st_mtime_ns + 1) % 10**9
        os.utime(f, ns=(st.st_atime_ns, same_second))
        assert os.stat(f).st_size == st.st_size
    d4 = load_table(spark, str(tmp_path), "t")
    assert d4 is not d3
    assert len(cachereg.memoized(spark)) == n_before
    assert d4.count() == 9
