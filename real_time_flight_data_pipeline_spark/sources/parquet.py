"""Parquet table loaders for the driver testdata layout.

One parquet file per table under ``{sf_dir}/{name}.parquet``. Columnar scans
with pushdown/pruning come for free; callers should still select only the
columns they need so ``ReadSchema`` stays narrow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA_TABLES

# Columns written as parquet TIMESTAMP(NANOS). Depending on the Spark
# runtime they arrive either as epoch-nanos longs (<=3.x with
# spark.sql.legacy.parquet.nanosAsLong) or as TIMESTAMP_NTZ (4.x, where that
# conf is accepted but ignored). Both branches normalize to a zoned
# TIMESTAMP truncated to micros, exactly like DuckDB's TIMESTAMP_NS ->
# TIMESTAMP read, keeping both engines bit-identical:
#   bigint         -> integer `div 1000` (float division would lose
#                     precision above 2^53 ns) + timestamp_micros
#   timestamp_ntz  -> to_utc_timestamp(_, "UTC") (session TZ is UTC, so the
#                     wall-clock instant is unchanged; only the type flips)
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _ensure_runtime_confs(spark: SparkSession) -> None:
    """Make a caller-provided SparkSession (e.g. the verification driver's)
    safe for this engine: nanos-typed parquet readable, UTC session clock.
    Both are runtime-settable SQL confs."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down (e.g. Spark Connect policy) — reads may still work


# (realpath, size, mtime) -> parquet row-group count. Footer METADATA
# only (never query results), keyed on file identity so a rewritten file
# re-probes. Lets plans/catalog._spread decide input parallelism from the
# file footer (~0.3 ms) instead of a df.rdd round trip that plans the
# whole scan JVM-side (~64 ms per call, r16 measured — at ~50 _spread
# call sites x 3 bench runs that probe alone was ~10 s of sweep build).
_RG_CACHE: dict[tuple[str, int, float], int] = {}


def _split_confs(spark: SparkSession) -> tuple[int, int, int]:
    """The inputs of Spark's scan split size (``FilePartition.
    maxSplitBytes``) as the JVM parses them (every byte-string suffix
    Spark accepts): maxPartitionBytes,
    openCostInBytes, and minPartitionNum (unset -> the session's leaf-node
    default parallelism). For sessions without a JVM handle (Spark
    Connect): Spark's byte defaults and a minPartitionNum of 1, i.e.
    splits of at most maxPartitionBytes."""
    try:
        jss = spark._jsparkSession
    except AttributeError:
        return 128 * 1024 * 1024, 4 * 1024 * 1024, 1
    conf = jss.sessionState().conf()
    min_parts = conf.filesMinPartitionNum()
    return (
        conf.filesMaxPartitionBytes(),
        conf.filesOpenCostInBytes(),
        min_parts.get()
        if min_parts.isDefined()
        else jss.leafNodeDefaultParallelism(),
    )


def _byte_splits(
    size: int, max_part_bytes: int, open_cost: int, min_parts: int
) -> int:
    """Scan partitions Spark plans for ONE file of ``size`` bytes: the
    split size is ``min(maxPartitionBytes, max(openCostInBytes, (size +
    openCostInBytes) / minPartitionNum))`` and every split of a lone file
    becomes its own partition."""
    split = min(max_part_bytes, max(open_cost, (size + open_cost) // min_parts))
    return max(1, -(-size // max(1, split)))


def _scan_splits(path: str, confs: tuple[int, int, int]) -> int | None:
    """Effective scan parallelism of a parquet file: the byte-range split
    count Spark will actually plan (``_byte_splits`` over ``confs``, see
    ``_split_confs``), capped by the row-group count — Spark cannot split
    a scan below a row-group boundary, so byte-range splits beyond that
    are empty tasks. None when the probe cannot answer (caller falls back
    to asking Spark)."""
    try:
        st = os.stat(path)
        key = (os.path.realpath(path), st.st_size, st.st_mtime)
        n = _RG_CACHE.get(key)
        if n is None:
            import pyarrow.parquet as pq  # noqa: PLC0415

            n = pq.ParquetFile(path).metadata.num_row_groups
            _RG_CACHE[key] = n
        return min(n, _byte_splits(st.st_size, *confs))
    except Exception:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    _ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for c in _NANOS_TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            df = df.withColumn(c, F.to_utc_timestamp(F.col(c), "UTC"))
    # Single-file layout: the footer answers "how parallel can this scan
    # be" without a JVM round trip; _spread reads it via this attribute.
    df._ff_scan_splits = _scan_splits(path, _split_confs(spark))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    wanted = names or TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in wanted}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as a temp view for the SQL API."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
