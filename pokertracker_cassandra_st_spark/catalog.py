"""Table loader for the driver testdata layout (one parquet per table).

The reference's "catalog" is a single Cassandra keyspace with one table
(``/root/reference/src/test/resources/initial_db.sql:1-12``); here the
catalog is the set of parquet tables the driver materializes
(TESTDATA.md). Loading is lazy and binds a memoized schema: the first
``table()`` of a file lets Spark infer its schema (one Spark job), and
every later call passes that ``StructType`` back through
``spark.read.schema(...)``, which launches no job. The memo key is
``_stat_key(path)`` — (absolute path, inode, mtime_ns, size) — plus the
``spark.sql.legacy.parquet.nanosAsLong`` conf that changes how
``events.ts`` is inferred, so a regenerated file or a flipped conf
re-infers on its own. The ``events.ts`` footer probe uses the same
stat key.

This is schema binding, not result caching: every call returns a fresh
DataFrame, each execution scans the file again, and nothing is
registered with the CacheManager (tests/test_plans pins all three).
Catalyst prunes columns and pushes predicates into the scan, so each
query's plan reads only what it needs (checked in tests/test_plans).

Scale notes: at 100 TB each logical table would be a directory of many
parquet files (possibly partitioned by date/bucket); ``spark.read
.parquet(path)`` handles both layouts identically, and partition-column
pruning comes for free when the layout is hive-partitioned.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always be broadcast when joined against a
# fact table. region/nation are bounded (25/5 rows at any scale factor);
# supplier/part grow with sf but stay well under the broadcast threshold
# at test scale — join code uses F.broadcast() explicitly only for the
# truly bounded dims and lets AQE decide for the sf-scaled ones.
BOUNDED_DIMS = frozenset({"region", "nation"})


def events_ts_unit(sf_dir: str) -> str:
    """Physical parquet type of ``events.ts`` for this sf directory.

    The driver has shipped two layouts across rounds: TIMESTAMP(NANOS)
    (which Spark's vectorized reader rejects without the legacy
    nanos-as-long conf — pyarrow reports it as ``timestamp[ns]``, and
    test fixtures write the equivalent raw ``int64`` nanos directly)
    and plain TIMESTAMP(MICROS). Probe the footer once per directory
    (driver-side, metadata-only) so both load identically. Returns
    ``"ns"`` (int64-nanos path) or ``"us"`` (native timestamp path).
    """
    return "ns" if ("ns" in _events_ts_type(sf_dir) or _events_ts_type(sf_dir) == "int64") else "us"


def events_ts_tz_adjusted(sf_dir: str) -> bool:
    """True if ``events.ts`` shipped as tz-adjusted parquet TIMESTAMP
    (isAdjustedToUTC=true; pyarrow renders it ``timestamp[us, tz=UTC]``)
    rather than the NTZ layout. Streaming's user-supplied source schema
    must pick ``timestamp`` vs ``timestamp_ntz`` accordingly or a future
    driver regeneration would fail the stream or shift instants."""
    return "tz=" in _events_ts_type(sf_dir)


def _stat_key(path: str) -> tuple[str, int, int, int]:
    """Identity of one on-disk file version: (absolute path, inode,
    mtime_ns, size). Testdata can be regenerated in place under a
    long-lived process, so a path-only memo could keep serving stale
    metadata; a rewrite changes the inode or mtime, and both memos
    below are keyed on this tuple."""
    st = os.stat(path)
    return (os.path.abspath(path), st.st_ino, st.st_mtime_ns, st.st_size)


def _events_ts_type(sf_dir: str) -> str:
    """Raw pyarrow type string of events.ts, memoized per ``_stat_key``.
    The footer probe is metadata-only; re-probing after a regeneration
    costs microseconds."""
    path = f"{sf_dir}/events.parquet"
    key = _stat_key(path)
    if key not in _TS_TYPE_CACHE:
        import pyarrow.parquet as pq

        _TS_TYPE_CACHE[key] = str(pq.read_schema(path).field("ts").type)
    return _TS_TYPE_CACHE[key]


_TS_TYPE_CACHE: dict[tuple[str, int, int, int], str] = {}
_SCHEMA_CACHE: dict[tuple[str, int, int, int, str], StructType] = {}


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema bound from the memo.

    Spark's own inferred ``StructType`` is what gets memoized, so the
    bound schema is the one inference would produce by construction.
    The nanos conf is part of the key: it decides whether a
    TIMESTAMP(NANOS) column infers as ``long``. Two threads racing on a
    first read both infer and store the same schema, so no lock."""
    key = (
        *_stat_key(path),
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Rebuild ``ts`` as a session-UTC TimestampType column whatever the
    on-disk representation was: int64 nanos (legacy conf) -> integer-
    divide to µs (lossless — the generator emits µs-precision values);
    TIMESTAMP_NTZ µs -> instant-preserving cast under the engine's fixed
    UTC session timezone (session.py). Either way the cast stays inside
    the scan's project — no extra pass over the data — and downstream
    operators always see the same µs TimestampType DuckDB uses.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from an sf directory with its memoized schema
    (module doc; events.ts normalized, see ``normalize_events_ts``).
    Returns a fresh DataFrame on every call."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        if events_ts_unit(sf_dir) == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(_read(spark, path))
    return _read(spark, path)


def tables(spark: SparkSession, sf_dir: str, *names: str) -> SimpleNamespace:
    """Load several tables at once: ``t = tables(spark, d, 'orders', ...)``."""
    return SimpleNamespace(**{n: table(spark, sf_dir, n) for n in (names or TABLES)})


def scratch_dir(sf_dir: str, name: str) -> str:
    """Per-scale scratch path: ``.scratch/<name>_<sf-tag>``.

    Sink/roundtrip queries write real directories; keying them by the
    sf directory's basename isolates concurrent runs at different
    scales (the 10x sweep vs a sf0.01 differential racing on ONE
    ``sink_compaction_frag`` produced flaky cross-run overwrites) and
    mirrors what rollup_hourly already did. Overwrite mode still
    reclaims each scale's own directory run-to-run.
    """
    tag = os.path.basename(sf_dir.rstrip("/")) or "default"
    return f"/root/repo/.scratch/{name}_{tag}"
