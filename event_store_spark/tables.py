"""Fixture tables, and the one cache for everything derived from them.

``load_tables`` reads each parquet lazily — Catalyst prunes columns and pushes
filters into the scan, so loading "all tables" costs nothing until an action.
At cluster scale the same call works over directory-partitioned datasets; the
paths are the only local-mode artifact.

The cache rule. A plan recomputes from lineage by default; it may
materialize only through one of two mechanisms here, never a
module-level dict of its own, and only where a measured first call plus
build wins over recomputing (the verdict table in CHANGES.md):

- ``memo(spark, key, build)`` — the per-session store (analyzed table
  scans, trained indexes, builds several registered queries share). Each
  key leads with its builder function, then its source directory; a
  ``.cache()`` in a plan sits in such a build. An entry lives only as
  long as its source directory's `parquet_identity`: once a data file
  under it changes, the next call drops every entry of that directory
  and unpersists their cached data, so the store holds one generation per
  corpus. Entries of a session whose context has stopped are dropped on
  the next miss.
- ``side_table(spark, sf_dir, table, name, write)`` — the write-once
  per-corpus directory (typed events, tokenized documents, verify
  sketches, BM25 postings), keyed by the source table's on-disk
  identity and published with one rename.

Any other cache a function takes it unpersists before it returns;
``localCheckpoint`` cuts lineage (an iterative operator's rounds, the
fixed BPE chain) and is not a session cache.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
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
]

#: dimension tables small enough to broadcast at any realistic scale factor
#: (region: 5 rows, nation: 25 — fixed-size in TPC-H regardless of SF)
BROADCAST_DIMS = {"region", "nation"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def parquet_identity(src: str) -> str:
    """Content identity of a parquet table on disk, the key of its side
    tables (`side_table_dir`).

    Walks the tree RECURSIVELY and digests (relative path, size,
    mtime_ns) of every DATA file: a top-level-only listing stats
    subdirectories of a partitioned layout, whose size/mtime do not
    change when a part file inside them is rewritten in place — the
    stale-cache hole ADVICE r11 flagged. Dot/underscore entries
    (_SUCCESS, .crc, _delta_log…) are skipped at every level."""
    parts = []
    if os.path.isdir(src):
        for root, dirs, files in os.walk(src):
            dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
            for name in sorted(files):
                if name.startswith((".", "_")):
                    continue
                p = os.path.join(root, name)
                st = os.stat(p)
                rel = os.path.relpath(p, src)
                parts.append(f"{rel}|{st.st_size}|{st.st_mtime_ns}")
    else:
        st = os.stat(src)
        parts.append(f"{os.path.basename(src)}|{st.st_size}|{st.st_mtime_ns}")
    return os.path.realpath(src) + "||" + ";".join(parts)


#: session -> {source: (identity, {key: artifact})}: the one per-session
#: store behind `memo`, one generation per source directory
_SESSION_MEMO: dict = {}


def _source_identity(src) -> str | None:
    """`parquet_identity` of a memo key's source directory (its second
    element); None when that element names no directory."""
    if isinstance(src, str) and os.path.isdir(src):
        return parquet_identity(src)
    return None


def _release(spark: SparkSession, src, entries: dict) -> None:
    """Unpersist every cached DataFrame the dropped ``entries`` hold, then
    refresh any other cached plan that reads ``src``."""

    def unpersist(v):
        if isinstance(v, DataFrame):
            v.unpersist()
        elif isinstance(v, (tuple, list)):
            for x in v:
                unpersist(x)

    for v in entries.values():
        unpersist(v)
    if isinstance(src, str):
        spark.catalog.refreshByPath(src)


def memo(spark: SparkSession, key: tuple, build: Callable[[], object] | None = None):
    """The session's artifact for ``key``, running ``build()`` on a miss
    and keeping its result (``None`` included). ``key`` starts with the
    builder function, then the source directory, e.g.
    ``(_minhash_candidates, sf_dir)``. With no ``build`` this only looks
    up: a miss returns None and stores nothing.

    An entry lives as long as its source directory's `parquet_identity`:
    once any data file under it changes, the next call drops every entry
    of that directory and releases their cached data, so the store holds
    one generation per corpus. A memoized DataFrame holds its session, so
    a weak session key would never free anything; instead a miss drops
    the entries of every session whose context has stopped."""
    src = key[1] if len(key) > 1 else None
    ident = _source_identity(src)
    corpora = _SESSION_MEMO.get(spark, {})
    gen = corpora.get(src)
    if gen is not None and gen[0] != ident:
        _release(spark, src, corpora.pop(src)[1])
        gen = None
    if gen is not None and key in gen[1]:
        return gen[1][key]
    if build is None:
        return None
    for stopped in [s for s in _SESSION_MEMO if s.sparkContext._jsc is None]:
        del _SESSION_MEMO[stopped]
    value = build()
    corpora = _SESSION_MEMO.setdefault(spark, {})
    corpora.setdefault(src, (ident, {}))[1][key] = value
    return value


def forget(spark: SparkSession, key: tuple):
    """Drop the session's entry for ``key`` and return it (None if absent).
    Unpersisting a cached entry is the caller's job."""
    src = key[1] if len(key) > 1 else None
    gen = _SESSION_MEMO.get(spark, {}).get(src)
    return gen[1].pop(key, None) if gen is not None else None


def side_table_dir(sf_dir: str, table: str, name: str) -> str:
    """Where the side table ``name`` derived from ``table`` lives: a
    temp-dir path keyed by ``name`` (which carries any layout version)
    and the source's `parquet_identity`, so an in-place rewrite of the
    source gets a fresh directory. Raises OSError if the source cannot
    be read."""
    ident = f"{name}|{parquet_identity(table_path(sf_dir, table))}"
    digest = hashlib.md5(ident.encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), "event_store_spark_side", digest, name)


def side_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    name: str,
    write: Callable[[str], None],
) -> str:
    """The published directory of side table ``name`` over ``sf_dir``'s
    ``table``, writing it first if this corpus identity has none.

    ``write(staged)`` fills a private staging directory, which one
    ``os.rename`` publishes. Losing the publish race keeps the winner's
    directory (the two are equivalent); any other rename failure raises
    rather than become a missing-path read later. An unreadable source
    raises OSError before anything is written."""
    final = side_table_dir(sf_dir, table, name)
    if not os.path.isdir(final):
        staged = f"{final}.staged-{os.getpid()}"
        shutil.rmtree(staged, ignore_errors=True)
        write(staged)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        try:
            os.rename(staged, final)
        except OSError:
            shutil.rmtree(staged, ignore_errors=True)
            if not os.path.isdir(final):
                raise
    return final


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing parquet TIMESTAMP(NANOS) columns.

    Spark 4 rejects nanosecond parquet timestamps outright
    (PARQUET_TYPE_ILLEGAL); the `events` fixture stores `ts` as
    timestamp[ns]. We read nanos as epoch-int64 via the legacy conf and
    rebuild a TimestampType column (exact: the fixture has no sub-microsecond
    components, and `div 1000` floors identically to DuckDB's ns→us cast).

    The analyzed DataFrame is memoized per session: schema inference costs
    ~75 ms of py4j + footer reads per `spark.read.parquet`, which across a
    79-query suite is seconds of pure driver overhead. Fixture tables are
    immutable and a DataFrame is an immutable plan, so reuse is safe.
    """
    return memo(
        spark, (load_table, sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    from event_store_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    # Event time is UTC by contract (reference stores timestamptz / epoch
    # millis); pin the session timezone so NTZ→LTZ casts and epoch
    # projections are deterministic regardless of the host session's config.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    # Fixture generations vary: timestamp[ns] (handled above), timestamp[us, UTC]
    # (read as TIMESTAMP), and timestamp[us] naive (read as TIMESTAMP_NTZ, which
    # epoch functions like unix_millis reject). Event time is UTC by contract
    # and the session tz is pinned UTC above, so NTZ→LTZ is a numeric identity;
    # normalizing here keeps every downstream plan on one timestamp type.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def hot_table(
    spark: SparkSession, sf_dir: str, name: str, cols: tuple[str, ...] | None = None
) -> DataFrame:
    """One fixture table projected to ``cols`` (every column when None).

    Not cached: pinning the projection in memory was measured no faster
    over the 29 registered queries that read it (first call plus build,
    15.7 s uncached against 16.4 s cached at sf0.1 on 4 vCPU, HEAD ahead
    in 4 of 10 pairs), so each
    query scans the parquet with its own pruning."""
    df = load_table(spark, sf_dir, name)
    return df.select(*cols) if cols else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Return ``{name: DataFrame}`` for every fixture table under ``sf_dir``."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> dict[str, DataFrame]:
    """Register each table as a temp view (optionally suffixed) and return them."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(f"{name}{suffix}")
    return dfs
