"""Parquet sink with the reference's output-shaping semantics.

Reference behaviors reproduced (cites into /root/reference):

- compression default zstd, configurable codec+level
  (src/enum_args.rs:34-70, src/main.rs:159-168).
- batch/row-group sizing: rows-per-batch = min(row cap, memory cap /
  bytes-per-row), defaults 65535 rows / 2 GiB (src/query/batch_size_limit.rs).
  Spark analogue: ``maxRecordsPerFile`` + parquet block size; the
  bytes-per-row estimate reuses the same schema-derived arithmetic, with
  each string column charged the length limit (column_strategy.rs:100-107).
- file splitting with numeric suffixes ``out_01.par, out_02.par, ...``,
  configurable suffix width, roll on N row groups and/or byte threshold
  (src/query/batch_size_limit.rs:18-55, src/query/parquet_writer.rs:149-189,
  path_with_suffix :232-250). Distributed writes can't name files mid-flight,
  so the exact naming is a deterministic driver-side rename pass after the
  parallel write — planning unaffected. A byte threshold sizes the staging
  pass from the length-capped estimate, so a result the estimate places
  in one file is written by one Spark job; a footer-measured resplit of
  the staged files is the fallback when the estimate misses.
- ``--no-empty-file``: suppress output entirely for empty results; default
  writes a schema-only file (src/query/parquet_writer.rs:117-121,155-158).
- crash-safety: Spark's FileOutputCommitter writes to ``_temporary`` and
  commits on success — the built-in equivalent of the reference's
  tempfile-until-finalized CurrentFile (src/query/current_file.rs:14-80).
- column statistics stay on (parquet-mr default), matching
  tests/integration.rs:3990.

Scale note: "directory mode" (default) is the 100 TB path — one file per
task, no driver involvement. "file mode" (``single_file`` / split suffixes)
exists for CLI parity on export-sized results only.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame

from odbc2parquet_spark.mappings import estimate_bytes_per_row

DEFAULT_BATCH_SIZE_ROWS = 65_535  # batch_size_limit.rs:6-15
DEFAULT_BATCH_MEMORY_BYTES = 2 * 1024**3  # 2 GiB


#: reference encoding names (enum_args.rs:72-97) -> pyarrow encoding names
COLUMN_ENCODINGS = {
    "plain": "PLAIN",
    "delta-binary-packed": "DELTA_BINARY_PACKED",
    "delta-byte-array": "DELTA_BYTE_ARRAY",
    "delta-length-byte-array": "DELTA_LENGTH_BYTE_ARRAY",
    "rle": "RLE",
}


#: codecs whose compression level each writer carries: Spark's parquet
#: writer through the parquet-mr property ``parquet.compression.codec.<codec>.level``
#: (write options are merged into the job's hadoop conf by Spark's file
#: sink), pyarrow's ParquetWriter through ``compression_level``
_LEVEL_CODECS = {"spark": {"zstd"}, "arrow": {"zstd", "gzip", "brotli"}}

#: output mode -> (options it cannot honour, why)
_MODE_REJECTS = {
    "file": (
        ("partition_by", "cluster_by", "column_encodings"),
        "hive partitioning, range clustering and the pyarrow encodings sink "
        "write one file per task, so they require directory mode",
    ),
    "stdout": (
        ("row_groups_per_file", "file_size_threshold", "partition_by", "cluster_by"),
        "stdout carries exactly one file, so it takes no splitting or "
        "partitioning flags",
    ),
    "column_encodings": (
        ("partition_by",),
        "the pyarrow encodings sink writes one flat file per task, with no "
        "partition directories",
    ),
}


@dataclass
class SinkOptions:
    compression: str = "zstd"  # reference default (enum_args.rs:56-59)
    #: --column-compression-level-default (reference src/main.rs:160-168;
    #: zstd level 3 is the reference default). None = codec default.
    #: ``_LEVEL_CODECS`` lists the codecs each writer carries a level
    #: for; other codec+level combinations raise.
    compression_level: int | None = None
    batch_size_rows: int | None = None  # rows per row-group/file unit
    batch_memory_bytes: int | None = None  # memory cap -> rows via bytes/row
    row_groups_per_file: int = 0  # 0 = no row-group-count splitting
    #: bytes; 0 = no size splitting. The staging pass is sized from the
    #: length-capped bytes/row estimate; a footer-measured resplit of the
    #: staged files is the fallback when the estimate misses.
    file_size_threshold: int = 0
    suffix_length: int = 2  # width of _NN suffix (parquet_writer.rs:232-250)
    no_empty_file: bool = False
    single_file: bool = False  # CLI-parity: exactly one .par file
    #: ``{column: encoding}`` with reference encoding names
    #: (``COLUMN:ENCODING`` pairs, enum_args.rs:72-97). Spark's writer can't
    #: set per-column encodings, so directory mode routes this through the
    #: distributed pyarrow sink (one file per task via mapInArrow — still
    #: no driver materialization); stdout's writer is pyarrow already.
    column_encodings: dict[str, str] | None = None
    #: hive-style directory partitioning (directory mode only, and not
    #: with ``column_encodings``) — at 100 TB this is what makes
    #: downstream partition pruning possible.
    partition_by: tuple[str, ...] = ()
    #: range-cluster the output on these columns: repartitionByRange +
    #: sortWithinPartitions so each file/row-group carries a DISJOINT
    #: min/max range in its parquet stats — readers filtering on the
    #: cluster column skip whole files (stats-based data skipping). The
    #: range count is left to spark.sql.shuffle.partitions / AQE.
    cluster_by: tuple[str, ...] = ()


def _check_mode(opts: SinkOptions, mode: str) -> None:
    """Raise when ``opts`` sets an option the output ``mode`` cannot honour."""
    names, why = _MODE_REJECTS[mode]
    rejected = [name for name in names if getattr(opts, name)]
    if rejected:
        raise ValueError(f"{', '.join(rejected)} not supported in {mode} mode: {why}")


def _file_mode(opts: SinkOptions) -> bool:
    """Whether ``opts`` asks for .par files (one, or split) over a directory."""
    return bool(opts.single_file or opts.row_groups_per_file or opts.file_size_threshold)


def check_options(opts: SinkOptions, path: str) -> None:
    """Raise on each rule that depends only on ``opts`` and the output
    ``path`` (``-`` is stdout), so a caller can check them before any
    data is read: the options the output mode rejects, unknown column
    encoding names, a compression level for a codec the mode's writer
    carries no level for, and a file-mode path that is a directory."""
    if path == "-":
        _check_mode(opts, "stdout")
    elif _file_mode(opts):
        _check_mode(opts, "file")
        if os.path.isdir(path):
            # shutil.move would silently drop the part INSIDE the directory;
            # the reference treats a directory output path as an error
            # (tests/integration.rs:181).
            raise ValueError(f"output path {path!r} is an existing directory")
    if opts.column_encodings:
        _check_mode(opts, "column_encodings")
        unknown = {c: e for c, e in opts.column_encodings.items() if e not in COLUMN_ENCODINGS}
        if unknown:
            raise ValueError(
                f"unknown column encodings {unknown}; valid: {sorted(COLUMN_ENCODINGS)}"
            )
    _compression_level(opts, "arrow" if path == "-" or opts.column_encodings else "spark")


def _compression_level(opts: SinkOptions, writer: str) -> int | None:
    """``opts.compression_level``, if ``writer`` ("spark" or "arrow")
    carries a level for the codec; raises otherwise."""
    level = opts.compression_level
    if level is not None and opts.compression not in _LEVEL_CODECS[writer]:
        raise ValueError(
            f"compression_level is not supported for codec "
            f"{opts.compression!r} on the {writer} writer (codecs with a "
            f"level: {', '.join(f'{w} {sorted(c)}' for w, c in _LEVEL_CODECS.items())})"
        )
    return level


def _arrow_writer(opts: SinkOptions, columns: list[str]):
    """Return ``open(sink, schema)``, which opens a ParquetWriter with the
    codec, level and per-column encodings of ``opts`` (checked by
    :func:`check_options`). The columns are checked where this is called
    (the driver); the opener captures only plain values, so it pickles
    to executors."""
    col_encodings = opts.column_encodings or {}
    missing = set(col_encodings) - set(columns)
    if missing:
        raise ValueError(f"column_encodings for absent columns: {sorted(missing)}")
    kwargs = {
        "compression": opts.compression,
        "compression_level": _compression_level(opts, "arrow"),
    }
    if col_encodings:
        kwargs["column_encoding"] = {c: COLUMN_ENCODINGS[e] for c, e in col_encodings.items()}
        # pyarrow requires dictionary off for explicitly-encoded columns
        kwargs["use_dictionary"] = [c for c in columns if c not in col_encodings]

    def open_writer(sink, schema):
        import pyarrow.parquet as pq

        return pq.ParquetWriter(sink, schema, **kwargs)

    return open_writer


def _spark_write(df: DataFrame, path: str, opts: SinkOptions, max_records: int) -> None:
    """Spark's parquet writer with the codec, level and partitioning of
    ``opts``; ``max_records`` caps the rows of a file (0 = no cap)."""
    w = df.write.mode("overwrite").option("compression", opts.compression)
    level = _compression_level(opts, "spark")
    if level is not None:
        w = w.option(f"parquet.compression.codec.{opts.compression}.level", str(level))
    if opts.partition_by:
        w = w.partitionBy(*opts.partition_by)
    w.option("maxRecordsPerFile", max_records).parquet(path)


def parse_bytesize(value: int | str) -> int:
    """``2GiB`` / ``600Mb`` / ``1048576`` -> bytes.

    The reference's ``--batch-size-memory`` takes SI-unit strings via the
    bytesize crate (main.rs:97-105): binary units (KiB/MiB/GiB/TiB, powers
    of 1024) and decimal units (kB/MB/GB/TB, powers of 1000), unit
    case-insensitive, optional whitespace, fractional numbers allowed.
    A bare integer means bytes.
    """
    if isinstance(value, int):
        return value
    import re as _re

    m = _re.fullmatch(
        r"\s*([0-9]+(?:\.[0-9]+)?)\s*([a-zA-Z]*)\s*", str(value)
    )
    if not m:
        raise ValueError(f"cannot parse byte size {value!r}")
    num, unit = float(m.group(1)), m.group(2).lower()
    scale = {
        "": 1, "b": 1,
        "kb": 1000, "mb": 1000**2, "gb": 1000**3, "tb": 1000**4,
        "kib": 1024, "mib": 1024**2, "gib": 1024**3, "tib": 1024**4,
    }.get(unit)
    if scale is None:
        raise ValueError(f"cannot parse byte size {value!r}: unknown unit {unit!r}")
    return int(num * scale)


def rows_per_batch(opts: SinkOptions, bytes_per_row: int) -> int:
    """Rows per batch under the reference's limit matrix
    (batch_size_limit.rs:66-107):

    - only ``batch_size_rows``  -> that row cap, NO memory limit
    - only ``batch_memory_bytes`` -> memory // bytes-per-row, NO row cap
      (the 65,535-row default applies ONLY when neither limit is given)
    - neither -> both defaults (65,535 rows AND 2 GiB)
    - both -> min of the two

    A memory limit smaller than one row is an error with the reference's
    actionable guidance (batch_size_limit.rs:83-97), not a silent
    1-row batch.
    """
    rows, mem = opts.batch_size_rows, opts.batch_memory_bytes
    if rows is not None and mem is None:
        return max(1, rows)
    if rows is None and mem is None:
        rows, mem = DEFAULT_BATCH_SIZE_ROWS, DEFAULT_BATCH_MEMORY_BYTES
    mem_cap = mem // max(bytes_per_row, 1)
    if mem_cap == 0:
        raise ValueError(
            f"Memory required to hold a single row is larger than the "
            f"limit. Memory Limit: {mem} bytes, Memory per row: "
            f"{bytes_per_row} bytes.\nYou can use either '--batch-size-row' "
            f"or '--batch-size-memory' to raise the limit. You may also "
            f"apply an upper size limit to expected values in variadic "
            f"columns using '--column-length-limit'."
        )
    return mem_cap if rows is None else max(1, min(rows, mem_cap))


def path_with_suffix(path: str, index: int, suffix_length: int) -> str:
    """``out.par`` + 3 -> ``out_03.par`` (parquet_writer.rs:232-250)."""
    stem, ext = os.path.splitext(path)
    return f"{stem}_{index:0{suffix_length}d}{ext}"


def write_parquet_stdout(
    df: DataFrame,
    opts: SinkOptions | None = None,
    out=None,
    column_length_limit: int | None = None,
) -> int:
    """A8: stream the result as ONE parquet file to stdout (``out`` = '-').

    Single pass, like the reference (src/query/parquet_writer.rs:192-230,
    src/main.rs:151-155): result partitions stream to the driver one at a
    time (``toLocalIterator`` — executors keep at most one partition
    in flight), rows fold into Arrow batches of the reference's batch
    size, and a driver-side pyarrow ParquetWriter appends each batch as
    a row group straight into the pipe. Memory is bounded by ONE batch
    (the reference's own one-batch-in-memory claim); no temp file, no
    second IO pass. Splitting flags are rejected like the reference
    rejects them for stdout (src/main.rs:447-451), and so are the
    directory-mode options; per-column encodings are honoured.

    ``out`` overrides the sink (any writable binary file-like) — used by
    tests; defaults to ``sys.stdout.buffer``. ``column_length_limit`` is
    --column-length-limit, the cap on a string column's estimated bytes.
    Returns bytes written.
    """
    import io
    import sys

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    opts = opts or SinkOptions()
    check_options(opts, "-")
    open_writer = _arrow_writer(opts, df.columns)
    if opts.no_empty_file and df.isEmpty():
        return 0

    schema = to_arrow_schema(df.schema)
    batch_rows = rows_per_batch(
        opts, estimate_bytes_per_row(df.schema, column_length_limit)
    )

    class _CountingSink(io.RawIOBase):
        """File-like shim pyarrow can write through: counts bytes and,
        on close, flushes WITHOUT closing the underlying pipe (stdout
        belongs to the caller)."""

        def __init__(self, raw):
            super().__init__()
            self.raw, self.n = raw, 0

        def writable(self):
            return True

        def write(self, b):
            self.raw.write(b)
            self.n += len(b)
            return len(b)

        def flush(self):
            if not self.closed:
                self.raw.flush()

        def close(self):
            if not self.closed:
                self.raw.flush()
            super().close()

    sink = _CountingSink(out if out is not None else sys.stdout.buffer)
    names = df.columns

    # TimestampType (instant) columns: toLocalIterator hands the driver
    # NAIVE datetimes rendered in the OS-local zone, but the Arrow field
    # is timestamp[us, tz=UTC], which would read them as UTC wall time —
    # shifting every instant by the host's UTC offset. Normalize through
    # astimezone(utc) (naive ⇒ assumes local — exactly the zone PySpark
    # rendered in; aware ⇒ plain conversion), the same pitfall+fix as
    # writeback._to_dbapi_value.
    import datetime as _dt

    from pyspark.sql import types as _T

    _utc = _dt.timezone.utc
    instant_cols = {
        i for i, f in enumerate(df.schema.fields)
        if isinstance(f.dataType, _T.TimestampType)
    }

    def flush_batch(writer, rows):
        cols = list(zip(*rows)) if rows else [[] for _ in names]
        arrays = [
            pa.array(
                [v if v is None else v.astimezone(_utc) for v in col]
                if i in instant_cols
                else list(col),
                type=schema.field(i).type,
                from_pandas=True,
            )
            for i, col in enumerate(cols)
        ]
        writer.write_batch(
            pa.RecordBatch.from_arrays(arrays, schema=schema)
        )

    writer = open_writer(sink, schema)
    try:
        buf: list = []
        for row in df.toLocalIterator(prefetchPartitions=False):
            buf.append(tuple(row))
            if len(buf) >= batch_rows:
                flush_batch(writer, buf)
                buf = []
        if buf:
            flush_batch(writer, buf)
    finally:
        writer.close()
    return sink.n


def write_parquet(
    df: DataFrame,
    path: str,
    opts: SinkOptions | None = None,
    column_length_limit: int | None = None,
) -> list[str]:
    """Write ``df`` to parquet with the reference's shaping semantics.

    Returns the list of files/directories produced. Directory mode (no
    splitting flags, ``single_file=False``) writes a standard parquet
    directory — the scale path. File mode materializes ``path`` (or
    ``path_with_suffix`` parts) as single .par files via a driver-side
    rename of the committed part files. ``column_length_limit`` is
    --column-length-limit, the cap on a string column's estimated bytes
    (passed here, not carried as column metadata: Spark writes
    field metadata into the parquet footer).
    """
    opts = opts or SinkOptions()
    check_options(opts, path)
    file_mode = _file_mode(opts)

    if opts.no_empty_file and df.isEmpty():
        return []

    bpr = estimate_bytes_per_row(df.schema, column_length_limit)
    batch_rows = rows_per_batch(opts, bpr)

    if opts.cluster_by:
        cols = [df[c] for c in opts.cluster_by]
        df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    if opts.column_encodings:
        return _write_with_encodings(df, path, opts)
    if not file_mode:
        _spark_write(df, path, opts, batch_rows)
        return [path]

    # -- file mode: parallel write to a staging dir, deterministic rename --
    if opts.row_groups_per_file:
        records_per_file = batch_rows * opts.row_groups_per_file
    elif opts.file_size_threshold:
        # size threshold -> approximate rows via the length-capped schema
        # bytes/row estimate, mirroring how the reference converts its
        # memory cap to rows. When the whole result fits one file this
        # staging pass is the only write; the footer-measured resplit
        # below is the fallback for estimates that miss.
        records_per_file = max(1, opts.file_size_threshold // bpr)
    else:
        records_per_file = 0  # single file
        df = df.coalesce(1)

    staging = path + ".__staging__"
    _spark_write(df, staging, opts, records_per_file)
    parts = sorted(glob.glob(os.path.join(staging, "part-*")))

    if opts.file_size_threshold and parts:
        # True size-based splitting (reference checks the REAL written
        # bytes after each row group, src/query/batch_size_limit.rs:18-55;
        # the schema estimate can be off several-fold on compressible
        # text). Measure actual bytes/row from this run's own footers and
        # rewrite while the largest part misses the threshold by >2x in
        # either direction. Iterative because measured bytes/row on tiny
        # parts is dominated by per-file footer overhead; each pass
        # refines the marginal rate and the loop settles in <=4 rewrites
        # (or earlier, when the target stops moving).
        # Rewrites read the STAGED bytes back, never re-execute the source
        # plan: the first pass already materialized the (possibly
        # expensive) query, so each refinement is an IO-only pass over
        # the result, exactly like the reference re-chunking its own
        # written row groups.
        prev_rpf = records_per_file
        spark = df.sparkSession
        for i in range(4):
            actual_rpf, total_rows = _resplit_rows(parts, opts.file_size_threshold)
            if not actual_rpf or actual_rpf == prev_rpf:
                break
            prev_rpf = actual_rpf
            nxt = f"{path}.__staging{i}__"
            # maxRecordsPerFile splits WITHIN a task but never merges
            # ACROSS tasks, and the reread inherits one partition per
            # staged part — coalesce (order-preserving, no shuffle) to a
            # task count sized for ~32 capped files per task so
            # over-split parts can actually merge.
            tasks = max(1, math.ceil(total_rows / actual_rpf / 32))
            _spark_write(spark.read.parquet(staging).coalesce(tasks), nxt, opts, actual_rpf)
            shutil.rmtree(staging, ignore_errors=True)
            staging = nxt
            parts = sorted(glob.glob(os.path.join(staging, "part-*")))

    return _finalize_parts(parts, path, opts, staging)


def _resplit_rows(parts: list[str], threshold: int) -> tuple[int | None, int]:
    """(rows-per-file, total rows) of the staged parts. Rows-per-file is
    recomputed from MEASURED bytes/row, or None if the parts already land
    within [threshold/2, threshold]. Row counts come from the parquet
    footers, each read once — no data is read."""
    import pyarrow.parquet as pq

    sizes = [os.path.getsize(p) for p in parts]
    total_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    if total_rows == 0:
        return None, 0
    biggest = max(sizes)
    under = len(parts) > 1 and biggest < threshold // 2  # over-split
    over = biggest > threshold  # file exceeds the cap
    if not (under or over):
        return None, total_rows
    measured_bpr = max(1, sum(sizes) // total_rows)
    # 0.9 fill: leave headroom for per-file footer/dictionary overhead so
    # the rewrite lands UNDER the cap
    return max(1, int(threshold * 0.9) // measured_bpr), total_rows


def _stale_outputs(path: str) -> list[str]:
    """Survivors of a previous, larger run over the same stem: the bare
    ``out.par`` plus every ``out_<digits>.par``. Left in place they mix
    generations — yesterday's ``out_03.par`` next to today's
    ``out_01/02`` silently corrupts any downstream ``out_*.par`` glob
    (the reference never has this failure mode: it opens/truncates each
    suffix file itself, src/query/parquet_writer.rs:149-189)."""
    import re

    stem, ext = os.path.splitext(path)
    pat = re.compile(re.escape(stem) + r"_\d+" + re.escape(ext) + r"$")
    stale = [p for p in glob.glob(f"{stem}_*{ext}") if pat.match(p)]
    if os.path.isfile(path):
        stale.append(path)
    return stale


def _finalize_parts(parts: list[str], path: str, opts: SinkOptions, staging: str) -> list[str]:
    produced: list[str] = []
    try:
        # Snapshot previous-generation outputs, but DELETE them only
        # after every rename lands: same-named targets are overwritten
        # atomically by the move itself, and a mid-finalize IO error
        # leaves the prior generation intact instead of destroyed with
        # the new one incomplete.
        stale = set(_stale_outputs(path))
        if len(parts) <= 1 and not (opts.row_groups_per_file or opts.file_size_threshold):
            target = path
            if parts:
                shutil.move(parts[0], target)
            produced.append(target)
        else:
            width = max(opts.suffix_length, int(math.log10(max(len(parts), 1))) + 1)
            for i, part in enumerate(parts, start=1):
                target = path_with_suffix(path, i, width)
                shutil.move(part, target)
                produced.append(target)
        # every rename succeeded: now drop stale survivors this run did
        # not overwrite (yesterday's out_03.par next to today's
        # out_01/02 would corrupt any out_*.par glob)
        for old in stale - set(produced):
            os.remove(old)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return produced


def _write_with_encodings(df: DataFrame, path: str, opts: SinkOptions) -> list[str]:
    """Distributed pyarrow sink honoring per-column encodings (A13,
    enum_args.rs:72-97).

    Spark's parquet writer exposes no per-column encoding knob, so each
    task streams its Arrow batches straight into its own file through a
    pyarrow ParquetWriter (``mapInArrow`` — no shuffle, no driver
    materialization, one file per partition like a normal distributed
    write). Tasks write to a tmp name and rename on close, approximating
    the reference's tempfile-until-finalized commit
    (src/query/current_file.rs:14-80).
    """
    open_writer = _arrow_writer(opts, df.columns)
    out_dir = path
    os.makedirs(out_dir, exist_ok=True)
    for stale in glob.glob(os.path.join(out_dir, "part-*")):
        os.remove(stale)

    def write_partition(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        final = os.path.join(out_dir, f"part-{pid:05d}.parquet")
        tmp = final + ".tmp"
        writer = None
        try:
            for batch in batches:
                if writer is None:
                    writer = open_writer(tmp, batch.schema)
                writer.write_batch(batch)
            if writer is not None:
                writer.close()
                os.replace(tmp, final)
                yield pa.RecordBatch.from_pylist(
                    [{"file": final}], schema=pa.schema([("file", pa.string())])
                )
        finally:
            if writer is not None and os.path.exists(tmp):
                os.remove(tmp)

    files = df.mapInArrow(write_partition, "file string").collect()
    return sorted(r.file for r in files)


def audit_output(paths: list[str]) -> dict:
    """Footer-only reconciliation of a finished write: (n_rows, n_files,
    n_row_groups, total_bytes) summed from parquet METADATA — no data
    pages are read, so auditing a 100 TB export costs one footer fetch
    per file. The did-we-lose-rows check every transfer pipeline runs
    before swapping an output live; pair with the source count
    (reference analogue: the reference trusts its single writer loop,
    src/query/mod.rs — a distributed writer earns the explicit audit).

    ``paths`` is write_parquet's return value (files or directories). A
    directory is searched recursively, so hive-partitioned output
    (``col=val/part-*.parquet``) counts too.
    """
    import pyarrow.parquet as pq

    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            pattern = os.path.join(p, "**", "*.parquet")
            files.extend(sorted(glob.glob(pattern, recursive=True)))
        else:
            files.append(p)
    n_rows = n_groups = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        n_groups += md.num_row_groups
    return {
        "n_rows": n_rows,
        "n_files": len(files),
        "n_row_groups": n_groups,
        "total_bytes": sum(os.path.getsize(f) for f in files),
    }
