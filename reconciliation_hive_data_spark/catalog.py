"""Fixture-table access.

Tables (TESTDATA.md / FIXTURES.md §A): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file per table in
each ``sf_dir``. Views registered here use the bare table name so Spark-SQL
query text stays byte-compatible with the DuckDB oracle's pre-registered
views (``__spark_entry__.py`` docstring).

At 100 TB these reads would be directory-partitioned datasets; nothing here
assumes single-file inputs — ``spark.read.parquet`` takes files or
directories alike, and all downstream operators are partition-agnostic.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

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

#: Small dimension tables that should always take the broadcast side of a
#: join — at any scale factor these stay tiny relative to the fact tables.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def events_ts_is_nanos(sf_dir: str) -> bool:
    """True when ``events.ts`` is TIMESTAMP(NANOS) parquet (needs the
    nanos-as-long legacy read + µs truncation), False when it is a native
    µs/ms timestamp Spark reads directly. Fixture generations have shipped
    both; probing the footer (a pyarrow metadata read, no data IO) keeps
    every query working against either vintage. Memoized on the probed
    file's identity AND stat (size, mtime_ns) — not on sf_dir alone — so
    a fixture directory regenerated in place with a different ts vintage
    (e.g. a test writing both variants to one tmp dir) re-probes instead
    of returning the stale answer; the steady-state cost is one os.stat
    per call, the footer read still runs once per file version."""
    import os

    path = table_path(sf_dir, "events")
    if os.path.isdir(path):  # directory-partitioned dataset: probe one file
        parts = [f for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
        if not parts:
            raise FileNotFoundError(
                f"no .parquet part files under events dataset dir {path!r}"
            )
        path = os.path.join(path, parts[0])
    st = os.stat(path)
    return _ts_is_nanos_probe(path, st.st_size, st.st_mtime_ns)


@functools.lru_cache(maxsize=None)
def _ts_is_nanos_probe(path: str, size: int, mtime_ns: int) -> bool:
    import pyarrow.parquet as pq

    # The arrow-level schema is NOT sufficient here: Hive-era INT96
    # timestamps (what Spark itself writes under the default
    # outputTimestampType and what most legacy Hive warehouses hold) also
    # surface as arrow timestamp[ns], but Spark reads INT96 natively — only
    # a true INT64 TIMESTAMP(NANOS) column needs the nanos-as-long legacy
    # path. Probe the PARQUET schema's physical + logical type instead.
    sch = pq.ParquetFile(path).schema
    col = next(
        sch.column(i) for i in range(len(sch)) if sch.column(i).name == "ts"
    )
    return col.physical_type == "INT64" and "nanoseconds" in str(
        col.logical_type
    )


#: Session-scoped RELATION cache for :func:`load` (r19, guide §1.2 /
#: VERDICT r18 item 4): ``spark.read.parquet`` costs 50-90 ms per call on
#: this box (py4j round trips + footer/schema inference) and the bench
#: makes 1000+ such calls per run — pure per-query fixed overhead. The
#: cache stores the LAZY DataFrame (an unexecuted plan: schema + file
#: listing — metadata, never data or results; every action still scans the
#: parquet), keyed on the owning session identity AND the file's stat
#: signature, so a fixture regenerated in place re-probes instead of
#: serving a stale schema — the events_ts_is_nanos memoization contract.
_RELATION_CACHE: dict[tuple, DataFrame] = {}
_RELATION_CACHE_MAX = 512


def _path_sig(path: str) -> tuple:
    """Stat signature of a fixture path. A directory dataset folds the stats
    of ALL its entries into (dir mtime, entry count, total size, newest entry
    mtime): recreating the dir, adding or removing a part file, and rewriting
    any part file in place each change it."""
    try:
        st = os.stat(path)
    except OSError:
        # absent path: let spark.read.parquet raise its own (uncached) error
        return ("missing",)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    count = total = newest = 0
    with os.scandir(path) as entries:
        for entry in entries:
            try:
                est = entry.stat()
            except OSError:
                continue
            count, total = count + 1, total + est.st_size
            newest = max(newest, est.st_mtime_ns)
    return (st.st_mtime_ns, count, total, newest)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet is self-describing: schema comes from
    the footer, column pruning + predicate pushdown apply automatically.
    The returned DataFrame is an immutable lazy relation and is served from
    a stat-validated per-session cache (``_RELATION_CACHE`` above).

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark 4 refuses outright
    (PARQUET_TYPE_ILLEGAL). We read nanos as int64 (legacy conf, runtime-
    settable) and truncate to µs — exactly what DuckDB's µs TIMESTAMP does,
    so the two engines see identical values. Integer DIV, not double
    division: ns epochs (~1.7e18) exceed double's 53-bit integer range.
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    key = (
        spark.sparkContext.applicationId,
        id(spark._jsparkSession),  # noqa: SLF001 - session identity
        path,
        _path_sig(path),
    )
    cached = _RELATION_CACHE.get(key)
    if cached is not None:
        return cached
    df = _load_uncached(spark, sf_dir, name)
    if len(_RELATION_CACHE) >= _RELATION_CACHE_MAX:
        _RELATION_CACHE.clear()
    _RELATION_CACHE[key] = df
    return df


def _load_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":  # noqa: PLR1702 - vintage fork documented in load()
        from pyspark.sql import functions as F

        if not events_ts_is_nanos(sf_dir):
            # Native µs timestamp: read directly; cast NTZ → TIMESTAMP so
            # downstream semantics (window(), tz arithmetic) match the
            # nanos vintage exactly. Session tz is UTC, so values are
            # identical to both the NTZ reading and the DuckDB oracle.
            df = spark.read.parquet(table_path(sf_dir, name))
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        # Scope the legacy conf to this read: parquet schema inference is
        # eager (footer read at .parquet() time), so restoring afterwards
        # does not break later actions on the lazy DataFrame — and the
        # nanos-as-long behavior no longer leaks into every subsequent
        # parquet read on the shared session.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(table_path(sf_dir, name))
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return spark.read.parquet(table_path(sf_dir, name))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view named after the table,
    matching the oracle's view names so ``spark.sql`` text can be shared
    nearly verbatim with ``oracle_sql()`` strings. Absent tables are
    skipped — the same contract as the oracle side's view registration
    (tests/parity.duckdb_con), so a partial synthetic dir serves the SQL
    queries that only touch what it contains."""
    for t in TABLES:
        if os.path.exists(table_path(sf_dir, t)):
            load(spark, sf_dir, t).createOrReplaceTempView(t)
