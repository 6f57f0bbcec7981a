"""Output checks: an order-independent digest of a DataFrame's rows, and the
monthly job's output contract.

The digest hashes each row's canonical text with ``xxhash64`` and sums the
hashes exactly (as DECIMAL), so it does not depend on row order or
partitioning, and duplicate rows count. Floating-point values are rounded
to ``FLOAT_DIGITS`` decimals first, so a change of summation order in a
later optimisation does not change the digest; numbers written as text
(the TSV outputs) are rounded the same way.

The monthly job's merged TSV is checked in Python instead (``tsv_digest``,
same rules, a different hash), so that checking it puts no work on the JVM
between two timed jobs."""

from __future__ import annotations

import csv
import glob
import hashlib
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FLOAT_DIGITS = 6
_NULL = "\u0000"


def _canonical(df: DataFrame, name: str) -> Column:
    c = F.col(f"`{name}`")
    dtype = df.schema[name].dataType
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        text = F.round(c.cast("double"), FLOAT_DIGITS).cast("string")
    elif isinstance(dtype, T.StringType):
        # text that parses as a number with a decimal point is a float
        rounded = F.round(c.cast("double"), FLOAT_DIGITS)
        text = F.when(c.contains(".") & rounded.isNotNull(), rounded.cast("string")).otherwise(c)
    elif isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
        text = F.to_json(c)
    elif isinstance(dtype, T.BinaryType):
        text = F.base64(c)
    else:
        text = c.cast("string")
    return F.coalesce(text, F.lit(_NULL))


def row_hash(df: DataFrame) -> Column:
    """Per-row hash of the canonical text of every column, in column order."""
    return F.xxhash64(*[_canonical(df, n) for n in df.columns])


def digest_aggregates(df: DataFrame) -> list[Column]:
    """Aggregates giving (rows, hash sum); feed them to ``agg`` or ``observe``."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(row_hash(df).cast("decimal(38,0)")).alias("hash_sum"),
    ]


def format_digest(hash_sum) -> str:
    return f"{int(hash_sum or 0) % (1 << 64):016x}"


def frame_digest(df: DataFrame) -> tuple[int, str]:
    """(row count, digest) of ``df`` in one aggregate job."""
    row = df.agg(*digest_aggregates(df)).collect()[0]
    return int(row["rows"]), format_digest(row["hash_sum"])


def sized_parquet_problems(pq_dir: str, target_file_mb: float = 128) -> list[str]:
    """The sized writer's contract: one file per started ``target_file_mb``
    of actual written bytes."""
    files = [f for f in os.listdir(pq_dir) if f.endswith(".parquet")]
    total = sum(os.path.getsize(os.path.join(pq_dir, f)) for f in files)
    expected = max(1, -(-total // int(target_file_mb * 1024 * 1024)))
    if len(files) != expected:
        return [f"sized writer produced {len(files)} files for {total} bytes; expected {expected}"]
    return []


def _canonical_text(field: str) -> str:
    if field == "":
        return _NULL  # the TSV reader's nullValue
    if "." in field:
        try:
            return repr(round(float(field), FLOAT_DIGITS))
        except ValueError:
            pass
    return field


def tsv_digest(path: str, column: str) -> tuple[int, str, set[str]]:
    """(rows, digest, distinct values of ``column``) of the TSV part files
    under ``path``, read as the engine writes them: header line, tab
    separator, backslash escape, optional UTF-8 BOM. The digest sums a
    64-bit hash of each row's canonical text modulo 2**64, so it ignores
    row order and counts duplicates."""
    rows, total, values = 0, 0, set()
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, encoding="utf-8-sig", newline="") as f:
            reader = csv.reader(f, delimiter="\t", quotechar='"', escapechar="\\", doublequote=False)
            header = next(reader, None)
            if header is None:
                continue
            at = header.index(column)
            for record in reader:
                text = "\x1f".join(_canonical_text(v) for v in record)
                total += int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")
                values.add(record[at])
                rows += 1
    return rows, format_digest(total), values


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path) if f.endswith(".parquet")
    )


def monthly_outputs(pq_dir: str, merged_dir: str, labels) -> dict:
    """Row counts, performance labels and merged-file digest of one
    export + merge; ``problems`` lists every broken invariant. The sized
    parquet copy is the report as written, so its row count is the report's."""
    rows, digest, seen = tsv_digest(merged_dir, "performance")
    out = {"merged_rows": rows, "digest": digest, "parquet_rows": parquet_rows(pq_dir)}
    problems = sized_parquet_problems(pq_dir)
    if out["merged_rows"] != out["parquet_rows"]:
        problems.append(
            "row counts differ: merged TSV {merged_rows}, sized parquet {parquet_rows}".format(**out)
        )
    unknown = sorted(seen - set(labels))
    if unknown:
        problems.append(f"performance values outside PERFORMANCE_LABELS: {unknown}")
    out["problems"] = problems
    return out
