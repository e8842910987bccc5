"""Table catalog: scale-factor directory -> named DataFrames / temp views.

Mirrors the reference's Hive-table sourcing (SURVEY.md §2.1) with parquet +
temp views. At 100 TB these would be date-partitioned, key-bucketed external
tables; the loader is the single place that knowledge lives.

A table's schema is resolved on the driver: ``_read`` reads the footer that
``spark.read.parquet`` would infer from and converts it with Spark's own
``ParquetToSparkSchemaConverter``, then reads with that schema. The result
equals inference (nanosAsLong, NTZ and Spark's row-metadata key included,
since it is the same converter) but starts no Spark job: about 25 ms per
table on the driver, where an inference job took 70-120 ms. This is the
metastore's rule of keeping the schema with the table instead of
re-deriving it per read.

Table handles are cached per (session, sf_dir, name). The handle is a
logical plan, not data — caching it never pins row data in memory, and
Spark's InMemoryFileIndex on the handle keeps the file listing.
"""

from __future__ import annotations

import contextlib
import contextvars
import functools
import json
import math
import os
from collections.abc import Callable, Iterator

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

# Scratch root for the sources and sinks that write files (<repo>/.tmp).
TMP_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")

# (applicationId, sf_dir, name) -> DataFrame handle. applicationId is unique
# per SparkSession lifetime, so a handle can never leak across sessions
# (a stopped session's plans are unusable in its successor).
_HANDLES: dict[tuple[str, str, str], DataFrame] = {}


def _ensure_utc(spark: SparkSession) -> None:
    """Pin the session time zone before ANY table is served. Every
    timestamp/date that crosses to Python (toPandas/collect) renders in the
    SESSION zone, and the NTZ cast in the events loader interprets
    wall-clock values in it — an externally-built default-config session on
    a non-UTC host would shift every instant and date vs the DuckDB oracle
    (which reads the parquet values as naive UTC). Applies to all tables
    and all parquet generations, not just the events NTZ branch."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema resolved on the driver.

    The footer is the one inference reads with mergeSchema=false: the file
    itself, or in a directory ``_common_metadata``, else ``_metadata``, else
    the first data file by name. Spark's own converter, built from the
    session's conf as it is now, turns it into the inferred schema."""
    jvm, jss = spark._jvm, spark._jsparkSession
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    hconf = jss.sessionState().newHadoopConf()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)
    status = fs.getFileStatus(root)
    if status.isDirectory():
        names = [s.getPath().getName() for s in fs.listStatus(root)]
        names = [n for n in names if n in ("_common_metadata", "_metadata") or not n.startswith(("_", "."))]
        first = min(names, key=lambda n: (n != "_common_metadata", n != "_metadata", n))
        status = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(root, first))
    meta = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, hconf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(status.getPath(), meta),
        pq.ParquetToSparkSchemaConverter(jss.sessionState().conf()),
    )
    return spark.read.schema(StructType.fromJson(json.loads(schema.json()))).parquet(path)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
        # generations (Spark 4 refuses it by default; nanosAsLong reads it as
        # raw int64) and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others
        # (Spark reads TIMESTAMP_NTZ). Normalize BOTH to TimestampType at µs
        # precision — with the session timeZone pinned to UTC the NTZ cast is
        # wall-clock-identity, so every downstream query sees the same values
        # DuckDB does regardless of which generation is on disk (SURVEY §7.5).
        # nanosAsLong is set before _read builds its converter from the conf.
        from pyspark.sql import functions as F

        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read(spark, f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # nanos generation, via nanosAsLong
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_type != "timestamp":  # timestamp_ntz generation
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read(spark, f"{sf_dir}/{name}.parquet")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ensure_utc(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _HANDLES.get(key)
    if df is None:
        df = _load(spark, sf_dir, name)
        _HANDLES[key] = df
    return df


# (applicationId, sf_dir, name, args) -> persisted DataFrame, in LRU order.
_MEMO: dict[tuple, DataFrame] = {}
# Room for every memoized name of one sf_dir, with some to spare.
MEMO_CAP = 16


def memo(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Decorator: the session memo for shared persisted building blocks.

    ``fn(spark, sf_dir, *args)`` runs once per key
    ``(applicationId, sf_dir, name, args)``; its frame is ``persist()``ed and
    every later call returns the same handle. applicationId is unique per
    SparkSession, so an entry never leaks into a successor session. One LRU
    bound, ``MEMO_CAP`` entries, covers all names together; the entry pushed
    out is unpersisted without blocking (a job still holding it computes
    uncached). Entries hold only persisted frames, never checkpoints, so
    ``spark.catalog.clearCache()`` is the complete reset: a hit on a cleared
    entry persists it again, and the next action recomputes it once for all
    the branches that share it.
    """
    name = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str, *args) -> DataFrame:
        key = (spark.sparkContext.applicationId, sf_dir, name, args)
        df = _MEMO.pop(key, None)
        if df is None:
            df = fn(spark, sf_dir, *args).persist()
        elif not (df.storageLevel.useMemory or df.storageLevel.useDisk):
            df.persist()
        _MEMO[key] = df  # (re)insert as most recent
        while len(_MEMO) > MEMO_CAP:
            evicted = _MEMO.pop(next(iter(_MEMO)))
            try:
                evicted.unpersist(blocking=False)
            except Exception:
                pass  # a stopped session's handle: nothing left to unpin
        return df

    return wrapper


# JVM RDDs that checkpoint() made for the registered query running in this
# context (registry.query sets a fresh list per call); None outside any query.
_CHECKPOINTS: contextvars.ContextVar[list | None] = contextvars.ContextVar(
    "checkpoints", default=None
)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of `df`: the one lineage cut for iterative
    operators (star contraction, BFS, label propagation, BPE merges, power
    iterations), whose rounds otherwise re-run every earlier round.

    Inside a registered query the checkpointed RDD goes on that call's
    ledger, and ``registry.query`` releases it once the query's output is
    materialized, so nothing a query checkpoints outlives
    ``spark.catalog.clearCache()``. Outside any query (tests driving
    ``star_contract`` directly) it only checkpoints. Memo builders must not
    call it: a cleared memo entry recomputes from its plan, which would
    read a released checkpoint."""
    out = df.localCheckpoint(eager=True)
    ledger = _CHECKPOINTS.get()
    if ledger is not None:
        ledger.append(out._jdf.logicalPlan().rdd())
    return out


@contextlib.contextmanager
def owned_persists(spark: SparkSession) -> Iterator[None]:
    """Put the RDDs that the block leaves persisted on the running query's
    ledger, as ``checkpoint`` does with its own: for library code that
    persists its result itself (MLlib's ALS keeps its final user and item
    factor RDDs). ``registry.query`` then materializes the query's output
    before releasing them. Outside any query it changes nothing. The block
    must not be the first to compute a ``@memo`` frame: that frame's cache
    would be released with the rest."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())
    yield
    ledger = _CHECKPOINTS.get()
    if ledger is not None:
        now = rdds()
        ledger.extend(now.get(i) for i in set(now.keySet()) - before)


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin a low-parallelism source across the session's cores
    before CPU-heavy per-row work.

    The test corpus ships as single-row-group parquet files, so every scan
    is ONE task — and chains whose cost scales with per-row compute or
    candidate fan-out (tokenize+md5 per doc, blocked joins with expensive
    verify predicates) inherit that single task: input-byte-based split
    sizing cannot see compute-bound stages. Measured: q_join_fuzzy ran 44 s
    of its 45 s CPU in one task; q_sim_setjoin_prefix spent ~60 s across
    six 1-task stages.

    Scale-adaptive: when the scan already yields at least the session's
    parallelism (any real multi-file/multi-row-group table at cluster
    scale), this is the identity — no exchange is added, so the 100 TB plan
    is untouched. Row-deterministic downstream operators make the
    round-robin value-neutral: aggregates here are exact-integer or
    order-independent by the repo's determinism discipline."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def state_partitions(n_rows: int, row_bytes: int = 24) -> int:
    """Partition budget for checkpointed iterative state (guide §2.2/§6):
    size partitions by BYTES (AQE's 64 MB advisory), because the session's
    default coalescing keeps parallelism first — a 0.3 MB contracted edge
    set otherwise re-materializes on 32-64 partitions every round, and each
    of the ~6 exchanges per round then pays 32-64 task launches for
    microseconds of work (measured: 64-task stages at 11-23 s wall with
    <5 s executor CPU across 8 star rounds / 3 BFS hops at sf0.1).
    Scale-adaptive by construction: a cluster-sized edge set (say 20 GB)
    gets ~320 partitions, the catalog-sized local one gets 1."""
    return max(1, math.ceil(n_rows * row_bytes / (64 << 20)))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """createOrReplaceTempView for every table (operator A5)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
