"""PySpark-native analytics engine with the capabilities of pacman82/odbc2parquet.

The reference (/root/reference, v11.0.1) is a single-process Rust CLI that
moves data between ODBC sources and Parquet files; every relational operator
is delegated to the remote DBMS (reference src/query.rs:90). This package
inverts that design Spark-first: Spark SQL *is* the engine, the type-mapping
and output-shaping semantics of the reference are re-expressed as declarative
DataFrame transforms, and the transfer pipeline is Spark's parallel
scan/write machinery.

Layout
------
- ``session``    : SparkSession builder tuned for local[N] and cluster use.
- ``catalog``    : register parquet table directories as temp views.
- ``engine``     : the ``query`` entry point (SQL + params -> DataFrame -> sink).
- ``mappings``   : the CLI's type-mapping flags (--avoid-decimal,
                   --column-length-limit) applied to a result's Spark schema.
- ``params``     : positional ``?`` and named ``?col?`` parameter binding.
- ``sinks``      : parquet sink shaping (compression, splitting, suffixes,
                   no-empty-file) and the write-back (insert/exec) path.
- ``sources``    : parquet / JDBC sources, catalog listing.
- ``operators``  : large-scale extensions: dedup, similarity search,
                   text analysis, multimodal column plumbing.
- ``streaming``  : watermarked event-stream operators (windows, sessions,
                   stream-stream joins, streaming dedup).
"""

__version__ = "0.1.0"

from odbc2parquet_spark.session import get_spark  # noqa: F401
from odbc2parquet_spark.catalog import register_tables, TABLES  # noqa: F401
