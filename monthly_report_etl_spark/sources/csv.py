"""CSV / TSV sources and sinks matching the reference's file contracts.

Three contracts (SURVEY.md §2.1):

* S3 — lookup CSV: ``competitor-list.csv`` comma CSV with a UTF-8 BOM
  (run_exports_query.py:223). Spark's CSV reader handles the BOM on the
  first column name via ``encoding``.
* S4 — directory-of-TSVs source: the merge job reads ``output/*.csv`` as
  all-string, tab-delimited, utf-8-sig, skipping unreadable files
  (merge_all_lenders.py:26,34-49). Spark reads the directory natively; a
  PERMISSIVE read approximates skip-on-error.
* S5/S6 — TSV sink: tab-delimited, QUOTE_ALL, ``''`` for NULL,
  ``%Y-%m-%d %H:%M:%S%z`` timestamps, ``\\n`` terminator, backslash escape,
  utf-8-sig BOM (run_exports_query.py:75-89, merge_all_lenders.py:63-77).
  Spark cannot emit a BOM itself; ``write_tsv(..., bom=True)`` post-fixes
  the part files (driver-side file rename, not a data pass).
"""

from __future__ import annotations

import glob
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG = logging.getLogger(__name__)

# pandas strftime '%Y-%m-%d %H:%M:%S%z' → Java pattern (+0000-style offset)
REFERENCE_TIMESTAMP_FORMAT = "yyyy-MM-dd HH:mm:ssZ"

_SINK_OPTIONS = {
    "sep": "\t",
    "header": "true",
    "quoteAll": "true",
    "nullValue": "",
    "emptyValue": "",
    "escape": "\\",
    "timestampFormat": REFERENCE_TIMESTAMP_FORMAT,
    "lineSep": "\n",
}


def read_lookup_csv(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S3: small dimension CSV (header, comma, possible BOM)."""
    reader = spark.read.option("header", True).option("encoding", "UTF-8")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", False)  # all-string, like dtype=str
    return reader.csv(path)


def read_tsv_directory(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    skip_bad_files: bool = False,
    multi_line: bool = False,
) -> DataFrame:
    """S4/U1: union-by-directory of per-lender TSVs, every column string.

    ``dtype=str`` + ``''``→NaN (merge_all_lenders.py:41-43) maps to an
    all-string schema with ``nullValue=''``.

    ``skip_bad_files=True`` reproduces the reference's per-file try/skip
    (merge_all_lenders.py:46-49 drops a whole unreadable CSV with a
    warning and continues). One probe parse tags every row with its
    source file and a corrupt-record column, and is materialized lazily
    (``localCheckpoint(eager=False)``): the job that collects the tiny
    bad-FILE list fills it, and the returned frame (bad files filtered
    out, both helper columns dropped) reads it back, so the directory is
    parsed once however often the result is consumed. The materialized
    set holds the whole directory as rows in executor memory, spilling to
    disk (about 2.6x the TSV bytes for the monthly export's directory).
    With the flag off, PERMISSIVE null-fills malformed rows in place.

    ``multi_line=True`` makes QUOTED EMBEDDED NEWLINES roundtrip like the
    reference's pandas reader (which handles them natively). It is off by
    default because multiLine parsing sacrifices byte-range splittability
    (one task per file — wrong at 100 TB). Neither the reference's F16
    strip nor this engine's clean_for_export removes whitespace (both
    strip only ``[]{}"\\,``): QUOTE_ALL keeps embedded tabs safe on the
    default path, and text that may hold newlines needs ``multi_line=True``.
    """
    reader = (
        spark.read.option("header", True)
        .option("sep", "\t")
        .option("nullValue", "")
        .option("mode", "PERMISSIVE")
        .option("escape", "\\")
    )
    if multi_line:
        reader = reader.option("multiLine", True)
    if not skip_bad_files:
        if columns is not None:
            schema = T.StructType([T.StructField(c, T.StringType()) for c in columns])
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", False)
        return reader.csv(path)

    if columns is None:
        # header pass only (schema inference off): establish the column set
        columns = spark.read.option("header", True).option("sep", "\t").csv(path).columns

    # Probe pass: read with an explicit corrupt-record column; a row that
    # fails tokenization (quote damage) or disagrees with the file's data
    # arity marks its FILE bad. Partition columns are subtracted from the
    # data schema by the reader (and typed string), so the arity check is
    # per-file-content, as in the reference. Only distinct bad file NAMES
    # cross the driver — bounded by file count, never data.
    probe = (
        reader.schema(
            T.StructType(
                [T.StructField(c, T.StringType()) for c in columns]
                + [T.StructField("_corrupt_record", T.StringType())]
            )
        )
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # The checkpoint keeps EVERY data column: CSV column pruning would
    # re-scope malformed-row detection to the required columns only (a
    # quote-broken tail column would go unnoticed), and a scan reduced to
    # the corrupt column alone is rejected at planning time
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN). Full-width
    # parsing is also the reference's semantics (pandas parses whole rows).
    tagged = probe.withColumn("_src_file", F.input_file_name()).localCheckpoint(eager=False)
    bad_files = [
        r["_src_file"]
        for r in tagged.filter(F.col("_corrupt_record").isNotNull())
        .select("_src_file")
        .distinct()
        .collect()
    ]
    for f in sorted(bad_files):
        _LOG.warning("skipping unreadable TSV file (corrupt records): %s", f)

    out = tagged
    if bad_files:
        out = out.filter(~F.col("_src_file").isin(bad_files))
    return out.drop("_corrupt_record", "_src_file")


def write_tsv(
    df: DataFrame,
    path: str,
    partition_by: str | None = None,
    single_file: bool = False,
    bom: bool = False,
) -> None:
    """S5/S6: the reference's TSV sink contract.

    ``partition_by`` reproduces one-file-per-lender (S5) as a partitioned
    directory — at scale the partitioned write replaces the reference's
    48 sequential per-lender jobs. ``single_file=True`` reproduces the
    merged single-file contract (S6) via ``coalesce(1)`` — only sane for
    final small outputs; the 100 TB path keeps the partitioned layout.
    """
    writer = df.coalesce(1).write if single_file else df.write
    writer = writer.mode("overwrite")
    for k, v in _SINK_OPTIONS.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.csv(path)
    if bom:
        _prepend_bom(path)


def _prepend_bom(path: str) -> None:
    """Prefix each written part file with the UTF-8 BOM (utf-8-sig).

    Also removes Hadoop LocalFS ``.crc`` sidecars for rewritten parts —
    mutating the file in place invalidates the checksum and would make any
    later Spark read of the directory fail with ChecksumException.
    """
    for part in part_files(path):
        with open(part, "rb") as f:
            data = f.read()
        if not data.startswith(b"\xef\xbb\xbf"):
            with open(part, "wb") as f:
                f.write(b"\xef\xbb\xbf" + data)
            crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
            if os.path.exists(crc):
                os.remove(crc)


def part_files(path: str) -> list[str]:
    """The written part files under ``path``, flat or partitioned, sorted."""
    return sorted(glob.glob(os.path.join(path, "**", "part-*.csv"), recursive=True))
