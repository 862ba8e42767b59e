"""Parquet source with nanosecond-timestamp normalization.

Spark (through 4.x) rejects Parquet ``TIMESTAMP(NANOS)`` columns
(PARQUET_TYPE_ILLEGAL); engines like DuckDB read them by truncating to
microseconds. To present one logical schema regardless of writer precision,
we sniff the footer with pyarrow and — when nanos columns exist — read them
as raw int64 (``spark.sql.legacy.parquet.nanosAsLong``) and cast
``timestamp_micros(ns div 1000)``, matching DuckDB's truncation semantics.

Footer sniffing is a driver-side metadata read of ONE footer (O(KB)); the
data scan stays fully distributed and columnar, and filter/projection
pushdown is unaffected for the non-rewritten columns.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Column names with parquet timestamp[ns] type, from one footer."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if not files:
            return []
        path = files[0]
    # Use the parquet-level schema, not the arrow view: INT96 timestamps
    # (Spark's own default writer format) also surface as timestamp[ns] in
    # arrow, but Spark reads INT96 natively — only INT64 TIMESTAMP(NANOS)
    # needs the nanosAsLong rewrite.
    schema = pq.ParquetFile(path).schema
    out = []
    for i in range(len(schema)):
        col = schema.column(i)
        lt = col.logical_type
        if (
            col.physical_type == "INT64"
            and lt is not None
            and lt.type == "TIMESTAMP"
            and "nanoseconds" in str(lt)
        ):
            out.append(col.name)
    return out


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a small-file scan so CPU-heavy per-row operators use every
    core. A compact parquet (one row-group) scans as ONE partition — fine for
    IO-bound aggregation, catastrophic for hash/fold-heavy map work (single
    thread). The shuffle cost is negligible versus the compute it unlocks;
    at real scale multi-file inputs already arrive well-partitioned and this
    becomes a no-op."""
    spark = df.sparkSession
    if min_partitions is None:
        min_partitions = spark.sparkContext.defaultParallelism
    # Estimate the scan's split count from the file index instead of
    # df.rdd.getNumPartitions(): the RDD conversion re-analyzes the plan
    # (~70 ms per fresh DataFrame) where inputFiles() is ~1 ms. Callers
    # pass scan + narrow ops only, so scan splits == partition count.
    # Mirrors Spark's FilePartition.maxSplitBytes formula —
    # min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism))
    # with files padded by the open cost — so the estimate agrees with the
    # probe and a well-split scan never gets a redundant repartition.
    cur: int | None = None
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 - non-file-backed plans
        files = []
    if files:
        import math

        try:
            mpb = _bytes_conf(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
            )
            open_cost = _bytes_conf(
                spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
            )
            sizes = []
            for f in files:
                local = f[len("file:") :] if f.startswith("file:") else f
                sizes.append(os.path.getsize(local))
            total = sum(sizes) + open_cost * len(sizes)
            par = max(spark.sparkContext.defaultParallelism, 1)
            max_split = min(mpb, max(open_cost, total / par))
            # Spark bin-packs splits up to max_split per partition
            cur = max(1, math.ceil(total / max_split))
        except (OSError, ValueError):
            cur = None  # remote file / exotic size conf: fall back to probe
    if cur is None:
        cur = df.rdd.getNumPartitions()
    if cur >= min_partitions:
        return df
    return df.repartition(min_partitions)


def _bytes_conf(v: str) -> int:
    """Spark size conf: plain bytes or b/k/m/g/t/p-suffixed (kb/mb/... too)."""
    v = v.strip().lower().removesuffix("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}.get(
        v[-1:], 1
    )
    return int(v[:-1] if mult != 1 else v) * mult


# (SparkSession id, path, mtime) → DataFrame. A DataFrame is a lazy plan —
# reusing it skips repeated footer sniffing and schema inference
# (~0.1-0.3 s of driver work per read). The mtime in the key invalidates on
# rewrite (incremental feeds); session id keeps a stopped session's plans
# from being served to a new one.
_DF_CACHE: dict[tuple[int, str, int], DataFrame] = {}


def _mtime_ns(path: str) -> int:
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return -1


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that tolerates nanosecond timestamps."""
    key = (id(spark), path, _mtime_ns(path))
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    if any(k[0] == key[0] and k[1] == path for k in _DF_CACHE):
        # path changed on disk: drop stale plans and Spark's file-listing
        # cache for it before re-reading
        for k in [k for k in _DF_CACHE if k[0] == key[0] and k[1] == path]:
            del _DF_CACHE[k]
        spark.catalog.refreshByPath(path)
    df = _read_parquet_uncached(spark, path)
    _DF_CACHE[key] = df
    return df


# (layout root, sub) → StructType. Scratch-layout dirs (segmented postings,
# doclen/termset/stats sidecars, tombstone partitions) are re-read many times
# per operator invocation — every delete/compact/serve phase — and each bare
# ``spark.read.parquet`` pays a schema-inference pass (a footer-reading Spark
# job for partitioned dirs) plus, past 32 files, a distributed listing job.
# A layout sub-directory's SCHEMA is invariant for the life of the process
# (each writer in this repo emits one fixed shape per layout kind, and the
# scratch roots are PID-scoped), so the first read memoizes the inferred
# schema and every later read passes it explicitly, skipping the inference
# job. This memoizes METADATA only — the file listing and every data scan
# still happen per read, so results always reflect the current on-disk state
# (no result caching across runs).
_LAYOUT_SCHEMA_MEMO: dict = {}


def read_layout(spark: SparkSession, root: str, sub: str = "") -> DataFrame:
    """Read ``root[/sub]`` (a rewritable scratch-layout parquet dir) with the
    per-(root, sub) schema memo above. ``sub`` may be a per-segment path like
    ``seg-3/postings``; the memo key collapses it to its layout-invariant
    kind (the last component), so every segment of a layout shares one entry."""
    path = f"{root}/{sub}" if sub else root
    kind = sub.rsplit("/", 1)[-1]
    if "=" in kind:  # a single partition dir, e.g. delete=3: one kind per name
        kind = kind.split("=", 1)[0] + "="
    key = (id(spark), root, kind)
    schema = _LAYOUT_SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _LAYOUT_SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _read_parquet_uncached(spark: SparkSession, path: str) -> DataFrame:
    nanos_cols = _nanos_timestamp_columns(path)
    if not nanos_cols:
        return spark.read.parquet(path)
    prev = spark.conf.get(_NANOS_CONF, "false")
    spark.conf.set(_NANOS_CONF, "true")
    try:
        df = spark.read.parquet(path)
    finally:
        spark.conf.set(_NANOS_CONF, prev)
    for c in nanos_cols:
        # ns → µs truncation, same as DuckDB's read of TIMESTAMP(NANOS).
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


_SCRATCH_PATHS: set[str] = set()


def _scratch_path(root: str, sf_dir: str, op: str = "") -> str:
    """Per-process scratch directory ``<repo>/<root>/<sf tag>[-op]-<pid>``
    for a registered op's layout. These ops rebuild their layout on
    every call, so two processes running them against the same sf_dir
    would race on rewrite vs read; the pid suffix isolates them, and
    within one process every reader sees the same path. The directory,
    and any ``<dir>_<name>`` sidecar a writer puts beside it, is removed
    when the interpreter exits."""
    import atexit

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    if op:
        tag = f"{tag}-{op}"
    path = os.path.join(repo, root, f"{tag}-{os.getpid()}")
    if path not in _SCRATCH_PATHS:
        _SCRATCH_PATHS.add(path)
        atexit.register(_remove_scratch, path)
    return path


def _remove_scratch(path: str) -> None:
    import shutil

    for p in [path, *glob.glob(glob.escape(path) + "_*")]:
        shutil.rmtree(p, ignore_errors=True)
