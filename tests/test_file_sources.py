"""File-source ingestion (sources/files.py): schema contract parity.

Mirrors the reference's source rules (conversion_strategy.rs:30-88) on
Spark's file readers: fixed inferred schema, Column{i} naming for unnamed
columns, zero-column error, malformed-row quarantine, and the shared
shaped-parquet sink on the write side.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from odbc2parquet_spark.sources.files import (
    ZeroColumnSourceError,
    read_csv,
    read_jsonl,
    transfer_file_to_parquet,
)


def test_csv_header_types_inferred(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id,price,name\n1,1.5,ab\n2,2.5,cd\n")
    df = read_csv(spark, str(p))
    types = dict(df.dtypes)
    assert types["id"] == "int" and types["price"] == "double"
    assert types["name"] == "string"
    assert df.count() == 2


def test_csv_headerless_gets_column_i_names(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("1,x\n2,y\n")
    df = read_csv(spark, str(p), header=False)
    assert df.columns == ["Column1", "Column2"]


def test_csv_mixed_column_degrades_to_text(spark, tmp_path):
    """Inference mode: a mixed-type column falls back to string (the B14
    unknown -> text rule), never fails the scan."""
    p = tmp_path / "t.csv"
    p.write_text("id,price\n1,1.5\nnot_an_int,xyz\n2,2.5\n")
    df = read_csv(spark, str(p))
    assert dict(df.dtypes)["id"] == "string"
    assert df.count() == 3


def test_csv_explicit_schema_quarantines_malformed(spark, tmp_path):
    """Explicit-schema mode: a row violating the declared types lands in
    _corrupt_record with typed columns NULL; clean rows parse."""
    p = tmp_path / "t.csv"
    p.write_text("id,price\n1,1.5\nnot_an_int,xyz\n2,2.5\n")
    df = read_csv(
        spark, str(p),
        schema="id INT, price DOUBLE, _corrupt_record STRING",
    )
    rows = df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and bad[0].id is None
    assert sorted(r.id for r in rows if r.id is not None) == [1, 2]


def test_jsonl_nested_struct_preserved(spark, tmp_path):
    p = tmp_path / "t.jsonl"
    p.write_text('{"id": 1, "meta": {"k": "a"}}\n{"id": 2, "meta": {"k": "b"}}\n')
    df = read_jsonl(spark, str(p))
    assert "struct" in dict(df.dtypes)["meta"]
    assert df.count() == 2


def test_zero_column_source_errors(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("")
    with pytest.raises(ZeroColumnSourceError):
        read_csv(spark, str(p))


def test_transfer_csv_to_parquet_roundtrip(spark, tmp_path):
    src = tmp_path / "in.csv"
    src.write_text("id,v\n1,10\n2,20\n3,30\n")
    out = str(tmp_path / "out_parquet")
    df = transfer_file_to_parquet(spark, str(src), out, fmt="csv")
    assert df.count() == 3
    back = spark.read.parquet(out)
    assert sorted(r.id for r in back.collect()) == [1, 2, 3]
    files = [f for f in __import__("glob").glob(out + "/*.parquet")]
    assert files and pq.read_metadata(files[0]).row_group(0).column(0).compression.lower() == "zstd"


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
