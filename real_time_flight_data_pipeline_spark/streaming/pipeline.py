"""The flight pipeline, collapsed into Spark (SURVEY.md §3, §7.1).

The reference runs five processes (REST poller -> Kafka -> Spark normalize ->
Postgres staging -> SQL loader -> export). Here the same semantics are two
stages in one engine:

* ``normalize_flight_stream`` — the streaming transform: explicit-schema JSON
  parse, timestamp normalization chain, flattening, status/retention/liveness
  filters (reference apps/spark_app/flight_stream.py:201-268). Works on both
  batch and streaming DataFrames (same plan, Structured Streaming contract).
* ``warehouse_load`` — one micro-batch of the warehouse cycle (reference
  apps/loader/load_warehouse.py:308-329): latest-per-key dedup, dim upserts
  with COALESCE backfill, route discovery, fact MERGE with per-column
  policies — executed in the loader's statement order so dims exist before
  fact resolution. ``curated_view`` is the J1 export view.

Both compose the star-schema operators the catalog queries use
(``operators.merge``, ``operators.joins``, ``latest_per_key``); this module
adds only the flight columns, the surrogate-key hashes and the commit order.

Exactly-once contract (reference flight_stream.py:33-36): the stream is
at-least-once; every warehouse write is an idempotent keyed MERGE, and
surrogate keys are deterministic hashes of natural keys (xxhash64 — M6), so
replaying a micro-batch converges to the same table state. A dim commits
only when the batch changes it, so a replayed epoch writes no dim version
at all; only the fact, which stamps ``last_updated``, commits again. This is
testable: tests/test_streaming.py replays a batch twice, diffs the
warehouse and checks the version history of every table.

Without Delta on the classpath, tables are versioned parquet directories
(ParquetTable): each commit writes a new version dir then flips a pointer
file — readers never see partial writes, and the merge never reads the
directory it is writing. On a Delta/Iceberg deployment ParquetTable swaps
for ``MERGE INTO`` with identical policy tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.normalize import parse_flight_ts
from ..operators.dedup import latest_per_key
from ..operators.joins import dim_lookup_maps, resolve_dim_id, star_join
from ..operators.merge import MergePolicy, merge_upsert
from ..schemas import (
    DIM_AIRLINE_SCHEMA,
    DIM_AIRPORT_SCHEMA,
    DIM_ROUTE_SCHEMA,
    FACT_SCHEMA,
    FLIGHT_WIRE_SCHEMA,
)
from .localio import local_relation, replace_file

KEEP_STATUSES = ("active", "landed", "arrived", "en-route", "enroute")
RETENTION = "INTERVAL 3 DAYS"


# ---------------------------------------------------------------------------
# Stage 1: normalize + filter (streaming-safe: no aggregation, pure rowwise)
# ---------------------------------------------------------------------------
def parse_wire_json(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka/file bytes -> declared wire schema (P1/P2). Unknown fields are
    dropped and missing fields become NULL by from_json contract."""
    return (
        raw.select(F.col(value_col).cast("string").alias("json"))
        .select(F.from_json("json", FLIGHT_WIRE_SCHEMA).alias("r"))
        .select("r.*")
    )


def normalize_flight_stream(
    wire: DataFrame, now_expr: str = "current_timestamp()"
) -> DataFrame:
    """Wire records -> 29-column staging rows (P3-P13, F1-F3).

    ``now_expr`` is the retention clock (F2): wall-clock in production,
    injected literal in tests/oracles (SURVEY.md §7.4 determinism).

    Divergence from reference (documented): negative delay minutes are
    nulled out instead of aborting the batch via CHECK constraint
    (db/00_warehous.sql:48; SURVEY.md §7.5).

    Retention (F2) and liveness (F3) are one ``greatest(4 timestamps) >=
    cutoff``: greatest skips NULLs, so it holds iff some timestamp parsed and
    is in the window. Catalyst inlines the parse into the pushed-down filter
    once per reference; a guard per column made the stage too big to compile.
    """
    ts = parse_flight_ts

    def delay(c: F.Column) -> F.Column:
        d = c.cast("double")
        return F.when(d >= 0, d)  # negative -> NULL (quarantined, not fatal)

    parsed = wire.select(
        F.col("flight_key"),
        # try_cast, not to_date: the wire field is free-form text and the
        # session keeps ANSI mode on — a malformed date must become NULL
        # (parse-to-NULL policy, same as parse_flight_ts), never kill the batch.
        F.expr("try_cast(flight_date AS DATE)").alias("flight_date"),
        F.col("status"),
        F.coalesce(ts(F.col("ingest_time")), F.expr(now_expr)).alias("ingest_time"),
        F.col("flight.number").alias("flight_number"),
        F.col("flight.iata").alias("flight_iata"),
        F.col("flight.icao").alias("flight_icao"),
        F.col("airline.iata").alias("airline_iata"),
        F.col("airline.icao").alias("airline_icao"),
        F.col("airline.name").alias("airline_name"),
        F.col("departure.airport").alias("dep_airport"),
        F.col("departure.iata").alias("dep_airport_iata"),
        F.col("departure.icao").alias("dep_airport_icao"),
        F.col("departure.terminal").alias("dep_terminal"),
        F.col("departure.gate").alias("dep_gate"),
        ts(F.col("departure.schedule")).alias("dep_scheduled"),
        ts(F.col("departure.estimated")).alias("dep_estimated"),
        ts(F.col("departure.actual")).alias("dep_actual"),
        delay(F.col("departure.delay_min")).alias("dep_delay_min"),
        F.col("arrival.airport").alias("arr_airport"),
        F.col("arrival.iata").alias("arr_airport_iata"),
        F.col("arrival.icao").alias("arr_airport_icao"),
        F.col("arrival.terminal").alias("arr_terminal"),
        F.col("arrival.gate").alias("arr_gate"),
        ts(F.col("arrival.schedule")).alias("arr_scheduled"),
        ts(F.col("arrival.estimated")).alias("arr_estimated"),
        ts(F.col("arrival.actual")).alias("arr_actual"),
        delay(F.col("arrival.delay_min")).alias("arr_delay_min"),
        F.col("source"),
    )

    newest = F.greatest("dep_scheduled", "arr_scheduled", "dep_actual", "arr_actual")
    return parsed.filter(
        F.lower(F.col("status")).isin(*KEEP_STATUSES)
        & (newest >= F.expr(f"{now_expr} - {RETENTION}"))
        & F.col("flight_key").isNotNull()
    )


def dead_letter_split(
    raw: DataFrame, now_expr: str = "current_timestamp()", value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """T6 hardened: (valid staging rows, dead-letter rows with a reason).

    The default path (normalize_flight_stream alone) silently drops rows
    failing the F3 guards and nulls out F6 violations — reference policy,
    no DLQ (SURVEY T6). This variant classifies *error* rows instead of
    losing them: unparseable JSON, missing flight_key, no parseable
    timestamp, negative delay (whole row quarantined here, stricter than
    the null-out — divergence documented). Business filters (status
    whitelist F1, retention window F2) remain silent drops by design.
    DLQ rows carry the original wire bytes, so replay after a fix is a
    re-ingest of the DLQ table. Pure row-wise expressions — streaming-safe.
    """
    ts = parse_flight_ts
    j = raw.select(F.col(value_col).cast("string").alias("_raw_json"))
    tagged = j.select(
        "_raw_json", F.from_json("_raw_json", FLIGHT_WIRE_SCHEMA).alias("r")
    )
    any_ts = (
        ts(F.col("r.departure.schedule")).isNotNull()
        | ts(F.col("r.arrival.schedule")).isNotNull()
        | ts(F.col("r.departure.actual")).isNotNull()
        | ts(F.col("r.arrival.actual")).isNotNull()
    )
    unparseable = F.col("r").isNull() | (
        F.col("r.flight_key").isNull()
        & F.col("r.status").isNull()
        & F.col("r.flight_date").isNull()
        & F.col("r.departure").isNull()
        & F.col("r.arrival").isNull()
    )
    reason = (
        F.when(unparseable, F.lit("unparseable_json"))
        .when(F.col("r.flight_key").isNull(), F.lit("missing_flight_key"))
        .when(~any_ts, F.lit("no_valid_timestamps"))
        .when(
            (F.col("r.departure.delay_min").cast("double") < 0)
            | (F.col("r.arrival.delay_min").cast("double") < 0),
            F.lit("negative_delay"),
        )
    )
    tagged = tagged.withColumn("_dlq_reason", reason)
    dlq = tagged.filter(F.col("_dlq_reason").isNotNull()).select(
        F.col("_raw_json").alias("raw_json"),
        F.col("_dlq_reason").alias("reason"),
        F.expr(now_expr).alias("dlq_time"),
    )
    valid = normalize_flight_stream(
        tagged.filter(F.col("_dlq_reason").isNull()).select("r.*"), now_expr
    )
    return valid, dlq


# ---------------------------------------------------------------------------
# Versioned parquet table (atomic overwrite without Delta)
# ---------------------------------------------------------------------------
class ParquetTable:
    """Versioned parquet table: atomic pointer-flip commits, bounded version
    retention with time-travel reads, and small-file compaction — the
    Delta/Iceberg property set this offline container can't install,
    emulated on plain parquet (COVERAGE.md 'MERGE INTO: blocked').

    ``keep_versions`` ≥ 2 retains a commit history (`versions()`,
    ``read(version=...)``) while still bounding disk: the vacuum keeps the
    newest N versions from the commit log, so a long-running stream cannot
    grow storage without bound, and the immediately-previous version always
    survives one cycle for in-flight readers that resolved the pointer
    pre-flip. The log is trimmed to the kept versions once it holds
    ``_LOG_SLACK`` lines more than that, so a commit reads a short log.

    Crash model. A commit writes the version directory, appends its ``_LOG``
    line, then flips ``_CURRENT`` (a regular file holding the version name)
    with ``replace_file``. The flip is atomic under a process crash: a
    reader or a restarted writer sees the old version or the new one, never
    a partial write. The version's parquet files are not fsynced, so no
    commit is durable across a power loss; the flush a plain rename used to
    force gave the table no such guarantee either. What a power loss can
    leave is a pointer of the right length that reads as zeros. A pointer
    that names no version makes readers fall back to the newest logged
    version still on disk, which is why the log itself is only appended to
    (an append does not read back as zeros on ext4) or rewritten with an
    fsync before its rename. If neither names a version while version
    directories exist, reads and commits raise and delete nothing."""

    _LOG_SLACK = 32  # log lines past the kept versions before a trim

    def __init__(self, spark: SparkSession, path: str, schema, keep_versions: int = 2):
        if keep_versions < 2:
            raise ValueError("keep_versions must be >= 2 (current + prev)")
        self.spark = spark
        self.path = path
        self.schema = schema
        self.keep_versions = keep_versions
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    @property
    def _log(self) -> str:
        return os.path.join(self.path, "_LOG")

    def _current_version(self) -> str | None:
        try:
            with open(self._pointer) as f:
                v = f.read().strip()
        except FileNotFoundError:
            return None
        if v.startswith("v_"):
            return v
        logged = self.versions()  # torn pointer: newest committed version
        if logged:
            return logged[-1]
        if any(n.startswith("v_") for n in os.listdir(self.path)):
            raise RuntimeError(
                f"{self._pointer} names no version and {self._log} names none on "
                "disk; the version directories are left in place"
            )
        return None

    def _log_lines(self) -> list[str]:
        try:
            with open(self._log) as f:
                return [line for line in f.read().splitlines() if line]
        except FileNotFoundError:
            return []

    def versions(self) -> list[str]:
        """Commit history, oldest first, restricted to still-on-disk dirs."""
        logged = [line.split("\t")[0] for line in self._log_lines()]
        on_disk = {n for n in os.listdir(self.path) if n.startswith("v_")}
        return [v for v in logged if v in on_disk]

    def read(self, version: str | None = None) -> DataFrame:
        if version is not None and version not in self.versions():
            raise ValueError(
                f"version {version!r} not in retained history {self.versions()}"
            )
        return self._read_at(version or self._current_version())

    def _read_at(self, v: str | None) -> DataFrame:
        """Version ``v``'s contents; ``None`` (no commit yet) reads empty."""
        if v is None:
            return self.spark.createDataFrame([], self.schema)
        return self._read_version(v)

    def _read_version(self, v: str) -> DataFrame:
        return self.spark.read.schema(self.schema).parquet(os.path.join(self.path, v))

    def _write_version(self, df: DataFrame, out: str, v: str) -> None:
        df.select([f.name for f in self.schema.fields]).write.mode("overwrite").parquet(out)

    def _commit_meta(self) -> dict | None:
        """Physical-layout metadata to persist with the commit log line
        (None for plain parquet). Subclasses whose reads depend on how the
        files were WRITTEN (bucketing) record the spec here so a later
        session can validate before trusting it."""
        return None

    def _version_meta(self, v: str) -> dict | None:
        try:
            for line in self._log_lines():
                parts = line.split("\t")
                if parts[0] == v:
                    if len(parts) <= 2 or not parts[2]:
                        return None
                    meta = json.loads(parts[2])
                    # Valid JSON that is not an object (log corruption
                    # or a future format change) must degrade to the
                    # safe plain-parquet read, not crash callers that
                    # .get() on it (ADVICE r9).
                    return meta if isinstance(meta, dict) else None
        except ValueError:
            pass
        return None

    def overwrite(self, df: DataFrame) -> None:
        prev = self._current_version()
        v = f"v_{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, v)
        self._write_version(df, out, v)
        meta = self._commit_meta()
        line = f"{v}\t{datetime.now(timezone.utc).isoformat()}"
        if meta:
            line += "\t" + json.dumps(meta, separators=(",", ":"))
        with open(self._log, "a") as f:
            f.write(line + "\n")
        # Atomic pointer flip without a forced flush: on ext4, auto_da_alloc
        # made a plain write-then-rename over _CURRENT a 40-58 ms flush. A
        # torn pointer falls back on the log line appended above.
        replace_file(self._pointer, v)
        keep = set(self.versions()[-self.keep_versions :]) | {v}
        if prev is not None:
            keep.add(prev)
        self._vacuum(keep)

    def compact(self, target_files: int = 1) -> None:
        """Rewrite the current contents into ``target_files`` parquet files
        as a new commit. Streaming micro-batch upserts accrete small files;
        periodic compaction restores scan efficiency (row-group sized reads,
        fewer tasks) without changing table contents — the OPTIMIZE
        equivalent."""
        if self._current_version() is None:
            return
        self.overwrite(self.read().coalesce(target_files))

    def _vacuum(self, keep: set[str]) -> None:
        """Drop superseded version dirs beyond the retention window so disk
        use is bounded at ~keep_versions versions, and trim ``_LOG`` to the
        kept versions' lines once it has grown ``_LOG_SLACK`` past them.

        The trimmed log is fsynced before its rename (a 40 ms flush on
        ext4): a flush-free rewrite could leave the log zero-filled by a
        power loss, and the log is what a torn ``_CURRENT`` falls back on.
        The slack pays that flush once per ``_LOG_SLACK`` commits."""
        for name in os.listdir(self.path):
            if name.startswith("v_") and name not in keep:
                self._drop_version(name)
        lines = self._log_lines()
        if len(lines) <= len(keep) + self._LOG_SLACK:
            return
        tmp = self._log + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(line + "\n" for line in lines if line.split("\t")[0] in keep)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._log)

    def _drop_version(self, v: str) -> None:
        shutil.rmtree(os.path.join(self.path, v), ignore_errors=True)


class BucketedParquetTable(ParquetTable):
    """ParquetTable whose versions are written BUCKETED by a key.

    Bucket metadata cannot live in bare parquet files — Spark only honors a
    bucket spec through the catalog — so each version commit registers an
    EXTERNAL table ``{name}__{version}`` over its version dir (bucketBy +
    sortBy the key) and a resolved version is read through the catalog.
    Everything else (pointer resolution, atomic pointer flip, commit log,
    time travel, bounded vacuum) is inherited unchanged.

    This is the 100 TB lever for the fact merge (M4, the reference's
    hottest operator, load_warehouse.py:244-277): with the fact stored
    bucketed by flight_key, the full-outer merge join reads the target
    pre-hashed — the executed plan carries ZERO target-side Exchange and
    only shuffles the micro-batch side (tests/test_bucketed_merge.py
    asserts this on the physical plan). A new session re-registers the
    catalog entry from the on-disk schema on first read."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema,
        bucket_key: str,
        n_buckets: int = 8,
        keep_versions: int = 2,
        name: str | None = None,
    ):
        super().__init__(spark, path, schema, keep_versions)
        self.bucket_key = bucket_key
        self.n_buckets = n_buckets
        # Catalog names are session-global: derive a stable unique default
        # from the table path so two warehouses never collide.
        self.name = name or f"bkt_{hashlib.md5(path.encode()).hexdigest()[:12]}"

    def _table_for(self, v: str) -> str:
        return f"{self.name}__{v}"

    def _write_version(self, df: DataFrame, out: str, v: str) -> None:
        (
            df.select([f.name for f in self.schema.fields])
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(self.n_buckets, self.bucket_key)
            .sortBy(self.bucket_key)
            .option("path", out)
            .saveAsTable(self._table_for(v))
        )

    def _commit_meta(self) -> dict | None:
        return {"bucket_key": self.bucket_key, "n_buckets": self.n_buckets}

    def _bucket_spec_valid(self, v: str) -> bool:
        """True iff the commit log records that version ``v``'s files were
        WRITTEN bucketed with exactly the current spec. Registering bucket
        metadata over files that were not written that way (a warehouse
        created by plain ParquetTable, or an n_buckets change between
        sessions) makes reads fail with 'Invalid bucket file' — or worse,
        silently mis-prune (ADVICE r8). No/mismatched record => plain read."""
        meta = self._version_meta(v)
        return (
            meta is not None
            and meta.get("bucket_key") == self.bucket_key
            and meta.get("n_buckets") == self.n_buckets
        )

    def _ensure_registered(self, v: str) -> None:
        if self.spark.catalog.tableExists(self._table_for(v)):
            return
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in self.schema.fields
        )
        self.spark.sql(
            f"CREATE TABLE {self._table_for(v)} ({cols}) USING parquet "
            f"CLUSTERED BY (`{self.bucket_key}`) "
            f"SORTED BY (`{self.bucket_key}`) INTO {self.n_buckets} BUCKETS "
            f"LOCATION '{os.path.join(self.path, v)}'"
        )

    def _read_version(self, v: str) -> DataFrame:
        # A table already in the session catalog was registered either by
        # the bucketed write itself or by a prior validated registration —
        # trust it. Otherwise only register bucket metadata when the commit
        # log proves the files match the spec; fall back to a plain parquet
        # read (correct, just without the zero-Exchange merge property —
        # regained at the next overwrite, which rewrites bucketed).
        if self.spark.catalog.tableExists(self._table_for(v)):
            return self.spark.table(self._table_for(v))
        if self._bucket_spec_valid(v):
            self._ensure_registered(v)
            return self.spark.table(self._table_for(v))
        return super()._read_version(v)

    def compact(self, target_files: int = 1) -> None:
        """Bucketed layout already bounds files at n_buckets per commit;
        rewriting through overwrite() (no coalesce — that would break the
        bucket spec) merges each bucket's accumulated files. The file
        count is therefore FIXED at n_buckets: a caller asking for any
        other target gets an error, not a silently ignored argument."""
        if target_files != 1:
            raise ValueError(
                "bucketed table compacts to one file per bucket "
                f"(n_buckets={self.n_buckets}); target_files is not "
                "tunable here"
            )
        if self._current_version() is None:
            return
        self.overwrite(self.read())

    def _drop_version(self, v: str) -> None:
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._table_for(v)}")
        except Exception:
            pass  # external table: dir removal below is the real cleanup
        super()._drop_version(v)


class FlightWarehouse:
    """dim_airline / dim_airport / dim_route / fact_flight_status
    (reference db/00_warehous.sql:77-134) on versioned parquet.

    It also holds what is derived from table versions and reused until one
    of them is superseded: the id-lookup maps of each dim (``lookup_maps``)
    and the ``curated_view`` plan."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self._derived: dict[str, tuple[tuple[str | None, ...], object]] = {}
        self.airline = ParquetTable(spark, os.path.join(root, "dim_airline"), DIM_AIRLINE_SCHEMA)
        self.airport = ParquetTable(spark, os.path.join(root, "dim_airport"), DIM_AIRPORT_SCHEMA)
        self.route = ParquetTable(spark, os.path.join(root, "dim_route"), DIM_ROUTE_SCHEMA)
        # Bucketed by the merge key: the M4 merge reads the target
        # pre-hashed, so the (100 TB at scale) fact side never re-shuffles
        # (r7 verdict #6; plan pinned by tests/test_bucketed_merge.py).
        self.fact = BucketedParquetTable(
            spark,
            os.path.join(root, "fact_flight_status"),
            FACT_SCHEMA,
            bucket_key="flight_key",
            n_buckets=8,
        )

    def _per_version(self, name: str, tables: tuple[ParquetTable, ...], build):
        """``build`` over ``tables`` read at their current versions, run once
        per tuple of those versions and held under ``name`` until one of
        them flips. Each table is read at the version in the key, so what is
        held always matches its key."""
        key = tuple(t._current_version() for t in tables)
        held = self._derived.get(name)
        if held is None or held[0] != key:
            held = self._derived[name] = (
                key, build(*(t._read_at(v) for t, v in zip(tables, key)))
            )
        return held[1]

    def lookup_maps(self, dim: str) -> tuple[DataFrame, DataFrame]:
        """``dim_lookup_maps`` (by IATA, by ICAO) of the current version of
        dim ``dim`` (``"airline"`` or ``"airport"``) for ``resolve_dim_id``.
        Built once per dim version, so a load that commits no dim version
        re-aggregates nothing, and held as driver-local relations
        (``local_relation``): nothing stays persisted on the executors, the
        superseded version's maps go with the last reference to them, and
        the dep and arr lookups still share one broadcast (an
        ``InMemoryRelation`` would defeat that exchange reuse)."""

        def build(table: DataFrame) -> tuple[DataFrame, DataFrame]:
            maps = dim_lookup_maps(table, f"{dim}_id", "iata", "icao")
            return tuple(local_relation(m, m._jdf.collectAsList()) for m in maps)

        return self._per_version(dim, (getattr(self, dim),), build)

    def curated_view(self) -> DataFrame:
        """``curated_view``'s plan, built once per tuple of the four tables'
        versions: a reader that polls between commits gets the plan it
        already built."""
        return self._per_version(
            "view", (self.airline, self.airport, self.route, self.fact), _star_view
        )


# ---------------------------------------------------------------------------
# Surrogate keys (M6): deterministic hashes of natural keys. Stable across
# batches and replays => the whole load cycle is idempotent.
# ---------------------------------------------------------------------------
def _airline_id(iata: F.Column, icao: F.Column) -> F.Column:
    nk = F.coalesce(iata, F.concat(F.lit("icao#"), icao))
    return F.xxhash64(F.lit("airline"), nk)


def _airport_id(iata: F.Column, icao: F.Column) -> F.Column:
    """ICAO-preferred natural key: the reference's airport backfill path
    (load_warehouse.py:124-151) links records by ICAO and backfills a late
    IATA code onto the ICAO row, so ICAO is the stable identity. (An airport
    seen first IATA-only and later with an ICAO becomes two dim rows sharing
    an IATA; resolve_dim_id keeps one id per lookup code.)"""
    nk = F.coalesce(F.concat(F.lit("icao#"), icao), F.concat(F.lit("iata#"), iata))
    return F.xxhash64(F.lit("airport"), nk)


def _route_id(dep_id: F.Column, arr_id: F.Column) -> F.Column:
    return F.xxhash64(F.lit("route"), dep_id, arr_id)


# ---------------------------------------------------------------------------
# Stage 2: the warehouse load cycle (one micro-batch)
# ---------------------------------------------------------------------------
def _upsert_dim(table: ParquetTable, keyed: DataFrame, id_col: str) -> None:
    """M1+M2 collapsed: one COALESCE-merge per surrogate key, latest snapshot
    per key first, rows with neither code dropped (F7). The reference needs
    two code paths only because Postgres cannot ON CONFLICT a nullable
    unique column (load_warehouse.py:32-79); a keyed MERGE has no such
    restriction, and the resulting table contents match (SURVEY.md §7.4.6).

    Like an ``ON CONFLICT`` that changes nothing, a batch that brings nothing
    new commits nothing. One probe comes first: the source rows left-anti
    joined to a broadcast of the dim, on the id and, per other column ``a``,
    ``src.a IS NULL OR src.a = dim.a``. An empty probe means every source id
    is in the dim and every non-NULL source value equals the dim's, so
    ``COALESCE(new, old)`` would reproduce the dim exactly: the merge, the
    rewrite, the pointer flip and the vacuum are skipped. Any other probe runs
    the merge unchanged (a new id, a changed value, a late code backfilled
    onto a NULL, or just an older in-batch row that differs)."""
    keyed = keyed.filter(F.col("iata").isNotNull() | F.col("icao").isNotNull())
    dim = table.read()
    unchanged = F.col(f"__src.{id_col}") == F.col(f"__dim.{id_col}")
    for c in dim.columns:
        if c != id_col:
            src, old = F.col(f"__src.{c}"), F.col(f"__dim.{c}")
            unchanged &= src.isNull() | (src == old)
    changes = keyed.alias("__src").join(
        F.broadcast(dim).alias("__dim"), unchanged, "left_anti"
    )
    if changes.isEmpty():
        return
    per_key = latest_per_key(keyed, [id_col], ["ingest_time"]).drop("ingest_time")
    merged = merge_upsert(
        dim,
        per_key,
        keys=[id_col],
        policies={},  # COALESCE(new, old) everywhere: never wipe with NULL
        default=MergePolicy.COALESCE_NEW_OLD,
    )
    table.overwrite(merged)


def _airport_rows(latest: DataFrame, side: str) -> DataFrame:
    iata, icao = F.col(f"{side}_airport_iata"), F.col(f"{side}_airport_icao")
    return latest.select(
        _airport_id(iata, icao).alias("airport_id"),
        iata.alias("iata"),
        icao.alias("icao"),
        F.col(f"{side}_airport").alias("airport_name"),
        "ingest_time",
    )


def warehouse_load(
    wh: FlightWarehouse, staging: DataFrame, batch_ts_expr: str = "current_timestamp()"
) -> None:
    """One load cycle in the reference's statement order (load_warehouse.py:
    322-327): airlines -> airports -> routes -> fact. The micro-batch
    boundary replaces the loader's single now() cutoff (F4); ``batch_ts_expr``
    is last_updated (injected in tests for determinism). Two eager barriers:
    ``latest`` (one row per flight_key) feeds the airline and airport commits;
    ``with_aid`` (its airport, airline and route ids, resolved once against
    the committed dims through their per-version ``lookup_maps``) feeds both
    the route insert and the fact merge.
    ``resolve_dim_id`` keeps one row per key, merge_upsert's precondition.

    Only the fact commits on every batch (it stamps ``last_updated``). The
    airline and airport commit only when the batch changes them (see
    ``_upsert_dim``), and the route only when the batch brings a route the
    dim lacks; a commit that happens writes ``routes ∪ fresh``, which is
    what ``insert_if_absent`` returns."""
    latest = latest_per_key(
        staging, ["flight_key"], ["ingest_time", F.col("dep_scheduled")]
    ).localCheckpoint(eager=True)

    _upsert_dim(
        wh.airline,
        latest.select(
            _airline_id(F.col("airline_iata"), F.col("airline_icao")).alias("airline_id"),
            F.col("airline_iata").alias("iata"),
            F.col("airline_icao").alias("icao"),
            "airline_name",
            "ingest_time",
        ),
        "airline_id",
    )
    _upsert_dim(
        wh.airport,
        _airport_rows(latest, "dep").unionByName(_airport_rows(latest, "arr")),
        "airport_id",
    )

    resolved = latest
    airport_maps = wh.lookup_maps("airport")
    for side in ("dep", "arr"):
        resolved = resolve_dim_id(
            resolved,
            airport_maps,
            out_col=f"{side}_airport_id",
            primary=f"{side}_airport_iata",
            fallback=f"{side}_airport_icao",
        )
    resolved = resolve_dim_id(
        resolved,
        wh.lookup_maps("airline"),
        out_col="airline_id",
        primary="airline_iata",
        fallback="airline_icao",
    )
    with_aid = resolved.withColumn(
        "route_id",
        F.when(
            F.col("dep_airport_id").isNotNull() & F.col("arr_airport_id").isNotNull(),
            _route_id(F.col("dep_airport_id"), F.col("arr_airport_id")),
        ),
    ).localCheckpoint(eager=True)

    # A2 + M3: distinct (dep_id, arr_id) pairs, insert-ignore.
    pairs = (
        with_aid.filter(F.col("route_id").isNotNull())
        .select("route_id", "dep_airport_id", "arr_airport_id")
        .dropDuplicates()
    )
    routes = wh.route.read()
    fresh = pairs.join(F.broadcast(routes.select("route_id")), "route_id", "left_anti")
    if not fresh.isEmpty():
        wh.route.overwrite(routes.unionByName(fresh))

    fact_src = with_aid.select(
        "flight_key",
        "flight_date",
        "status",
        "ingest_time",
        "airline_id",
        "route_id",
        "dep_scheduled",
        "dep_estimated",
        "dep_actual",
        "dep_delay_min",
        "arr_scheduled",
        "arr_estimated",
        "arr_actual",
        "arr_delay_min",
        F.expr(batch_ts_expr).alias("last_updated"),
    )

    # M4: measures/timestamps overwritten (incl. NULL); ingest_time GREATEST;
    # ids COALESCE(new, old); last_updated stamped on every touched row.
    merged = merge_upsert(
        wh.fact.read(),
        fact_src,
        keys=["flight_key"],
        policies={
            "ingest_time": MergePolicy.GREATEST,
            "airline_id": MergePolicy.COALESCE_NEW_OLD,
            "route_id": MergePolicy.COALESCE_NEW_OLD,
        },
        default=MergePolicy.OVERWRITE,
        set_on_update={"last_updated": F.expr(batch_ts_expr)},
        # flight_key is non-null by construction (F3 key guard), so plain
        # equality keeps the bucketed target's layout usable by the join.
        null_safe_keys=False,
    )
    wh.fact.overwrite(merged)


def curated_view(wh: FlightWarehouse) -> DataFrame:
    """J1: the 20-column denormalized export view (db/01_views.sql:44-83)
    over the four tables' current versions (memoized by the warehouse)."""
    return wh.curated_view()


def _star_view(
    airline: DataFrame, airport: DataFrame, route: DataFrame, fact: DataFrame
) -> DataFrame:
    """``curated_view`` over the given reads of the four tables."""

    def side(s: str) -> DataFrame:
        return airport.select(
            F.col("airport_id").alias(f"{s}_airport_id"),
            F.col("airport_name").alias(f"{s}_airport"),
            F.col("iata").alias(f"{s}_iata"),
            F.col("icao").alias(f"{s}_icao"),
        )

    airline = airline.select(
        "airline_id", F.col("iata").alias("airline_iata"), "airline_name"
    )
    return star_join(
        fact,
        [
            (airline, "airline_id"),
            (route, "route_id"),
            (side("dep"), "dep_airport_id"),
            (side("arr"), "arr_airport_id"),
        ],
    ).select(
        "flight_key", "flight_date", "status", "airline_iata", "airline_name",
        "dep_scheduled", "dep_estimated", "dep_actual", "dep_delay_min",
        "arr_scheduled", "arr_estimated", "arr_actual", "arr_delay_min",
        "dep_airport", "dep_iata", "dep_icao",
        "arr_airport", "arr_iata", "arr_icao",
        "last_updated",
    )


# ---------------------------------------------------------------------------
# Streaming shell: file-replay source -> normalize -> foreachBatch load
# ---------------------------------------------------------------------------
def run_file_replay_stream(
    spark: SparkSession,
    input_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    now_expr: str = "current_timestamp()",
) -> None:
    """Replay JSON files as a stream through the full pipeline (S2 test
    harness per SURVEY.md §2.1; in production swap the source for
    ``spark.readStream.format('kafka')`` — see sources/kafka.py)."""
    wh = FlightWarehouse(spark, warehouse_root)
    raw = (
        spark.readStream.schema(FLIGHT_WIRE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(input_dir)
    )
    staged = normalize_flight_stream(raw, now_expr)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():  # T7 empty-batch short-circuit
            return
        warehouse_load(wh, batch_df)

    q = (
        staged.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()
