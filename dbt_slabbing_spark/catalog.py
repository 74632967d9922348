"""Table catalog over the driver-generated TESTDATA parquet.

Scans stay declarative (``spark.read.parquet``) so Catalyst gets filter
pushdown, column pruning, and partition pruning for free. At 100 TB the
same catalog points at a partitioned lake layout (e.g. ``orders``
partitioned by ``o_orderdate`` month); nothing here assumes local files.
"""

from __future__ import annotations

import os
import stat
import tempfile
import threading
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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

#: Dimension tables. Only ``region`` (5 rows) and ``nation`` (25 rows) are
#: BOUNDED and safe to broadcast unconditionally; query code hints those with
#: ``F.broadcast`` so even a stats-less plan never sort-merge-joins them.
#: ``customer``/``supplier``/``part`` grow linearly with the fact tables
#: (TPC-H scaling) — at the 100 TB design point they are terabytes, so a
#: hard-coded broadcast would OOM every executor. Their join strategy is left
#: to ``spark.sql.autoBroadcastJoinThreshold`` (picks broadcast from file-size
#: stats at test SF) and AQE's runtime broadcast conversion at scale.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})
BOUNDED_DIM_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: The session confs that decide the schema Spark infers for a parquet
#: file: the inputs of Spark 4.1's ``ParquetToSparkSchemaConverter`` and
#: ``ParquetUtils.inferSchema``. A pinned schema is keyed on their values
#: (and on nothing else of the session, so toggling an unrelated conf
#: keeps the pin).
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.variant.allowReadingShredded",
)

#: Most pinned schemas kept per process; the oldest goes first.
_SCHEMA_MEMO_CAP = 512
_schema_memo: dict[tuple, StructType] = {}
_schema_memo_lock = threading.Lock()


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile`` (once per
    SparkContext).

    Module-level UDF callables (applyInPandas bodies, UDTF classes,
    mapInPandas/mapInArrow iterators) are cloudpickled BY REFERENCE, so
    the worker process must be able to ``import dbt_slabbing_spark``.
    When the consumer drives a vanilla session from a cwd that doesn't
    contain the repo (the round driver's contract), the worker's
    sys.path has no such entry and every one of those queries dies with
    a worker ImportError. The zip lands on each worker's sys.path — cwd
    and PYTHONPATH no longer matter.
    """
    sc = spark.sparkContext
    if getattr(sc, "_dbt_slabbing_pyfiled", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # mkstemp, not a predictable /tmp name: a pid-keyed shared path can
    # be pre-created/symlinked by another local user or collide on pid
    # reuse and ship a stale zip into a fresh context.
    fd, zip_path = tempfile.mkstemp(prefix="dbt_slabbing_spark_pkg_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._dbt_slabbing_pyfiled = True


def _read_parquet_file(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a local file's schema
    once per process. The first read of a file runs Spark's inference
    job and keeps the schema Spark inferred; a later read of the same
    unchanged file under the same schema confs passes that schema to
    the reader, so it plans without a job. The key is the file's real
    path, inode, size and mtime plus the values of
    :data:`_SCHEMA_CONFS`, so a replaced or rewritten file, or a changed
    conf, is inferred again. Relative paths, directories, URIs and paths
    that cannot be stat'ed are read as plain ``spark.read.parquet``."""
    try:
        st = os.stat(path)
    except (OSError, TypeError, ValueError):
        st = None
    if st is None or not os.path.isabs(path) or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    key = (os.path.realpath(path), st.st_ino, st.st_size, st.st_mtime_ns, confs)
    schema = _schema_memo.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schema_memo_lock:
        _schema_memo[key] = df.schema
        while len(_schema_memo) > _SCHEMA_MEMO_CAP:
            del _schema_memo[next(iter(_schema_memo))]
    return df


def table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread: bool | tuple[str, ...] = False,
) -> DataFrame:
    """Read one TESTDATA table as a DataFrame.

    The scan's schema is pinned per process (:func:`_read_parquet_file`):
    the first read of a table file runs Spark's one schema-inference
    job, and every later read of the unchanged file plans with no job.
    The pin is keyed on the file's real path, inode, size and mtime and
    on the parquet schema confs (:data:`_SCHEMA_CONFS`), so a file
    replaced at the same path, or a changed conf such as
    ``binaryAsString``, is inferred again.

    ``events.ts`` has shipped in two physical encodings across testdata
    generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    reader only accepts as raw nanos via ``nanosAsLong``) and
    TIMESTAMP(MICROS) without the UTC-adjustment flag (which Spark reads
    as TIMESTAMP_NTZ). Both are normalized here to a session-TZ
    TIMESTAMP: the session pins UTC (session.py), so the NTZ→LTZ cast
    re-interprets the naive values as UTC instants — exactly how the
    DuckDB oracle treats them — and downstream event-time code
    (watermarks, ``unix_millis``, window frames) sees one stable type.

    ``spread`` (guide §2.5 "input skew: one huge unsplittable file …
    repartition immediately after the read"): opt-in for queries whose
    per-row compute between the scan and the first exchange dominates
    (shingling, hashing, regex). Parquet's atomic split unit is the ROW
    GROUP, and the local testdata files carry exactly ONE — so every
    scan is a single non-empty task no matter the split size (measured:
    6 splits of sf0.1 lineitem → rows per task [0,0,600000,0,0,0]).
    When the input cannot feed the cores (:func:`scan_slices` <
    shuffle.partitions), one extra exchange redistributes the rows so
    the expensive map work parallelizes; on a well-split input (any
    real lake layout — thousands of row groups) the condition is false
    and this is a NO-OP, so the shuffle is never paid at scale.
    ``spread=True`` → round-robin (keeps downstream key exchanges as
    reuse points); a column tuple → hash partitioning on those columns
    (no sort-before-repartition pass, and a downstream groupBy/window
    on a superset of them needs no further exchange).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ensure_workers_can_import(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _normalize_event_time(_read_parquet_file(spark, f"{sf_dir}/{name}.parquet"))
    else:
        df = _read_parquet_file(spark, f"{sf_dir}/{name}.parquet")
    if spread:
        df = _spread_small_scan(spark, sf_dir, name, df, spread)
    return df


def _parse_bytes(v: str) -> int:
    """Spark size-conf string → bytes ('2097152', '128m', '128mb', '1gb').

    Accepts every unit Spark's own byte-string parser does (b/k/kb/m/mb/
    g/gb/t/tb/p/pb). Unparseable values return 0 instead of raising: the
    sole caller divides file size by this, and ``scan_slices`` clamps a
    0 divisor to 1, so the size-based bound drops out and the gate is
    decided by the parquet row-group count alone — the physical truth —
    rather than crashing the hot read path on an odd conf string.
    """
    v = v.strip().lower()
    if v.endswith("b") and not v[:-1].rstrip("0123456789") in ("", "-"):
        v = v[:-1]  # strip the 'b' of kb/mb/gb/tb/pb, keep bare '...b'
    units = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "p": 1024**5}
    try:
        for suffix, mult in units.items():
            if v.endswith(suffix):
                return int(v[: -len(suffix)]) * mult
        return int(v)
    except ValueError:
        return 0


def scan_slices(sf_dir: str, name: str, split_bytes: int) -> int:
    """Upper bound on the non-empty scan tasks this parquet input can
    yield: min(size-based splits, row groups) for a single local file —
    row groups are the unit Spark can actually parallelize over. A
    directory (multi-file table) or unreadable footer is assumed
    well-split (returns a large number → spread stays off)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.isfile(path):
        return 1 << 30
    try:
        import pyarrow.parquet as pq

        n_rg = pq.ParquetFile(path).metadata.num_row_groups
    except Exception:
        return 1 << 30
    n_splits = max(1, -(-os.path.getsize(path) // max(split_bytes, 1)))
    return min(n_rg, n_splits)


def _spread_small_scan(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    df: DataFrame,
    spread: bool | tuple[str, ...],
) -> DataFrame:
    try:
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
        split = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
        cores = spark.sparkContext.defaultParallelism
    except Exception:
        return df  # unparseable session conf → spread off, same as scan_slices' fail-open
    if scan_slices(sf_dir, name, split) >= min(target, cores):
        return df  # input already feeds the cores — never pay the shuffle
    if spread is True:
        return df.repartition(target)
    return df.repartition(target, *[F.col(c) for c in spread])


def _normalize_event_time(df: DataFrame) -> DataFrame:
    """Coerce ``ts`` to TIMESTAMP (LTZ) whatever the parquet encoding."""
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":  # TIMESTAMP(NANOS) read as raw nanos
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dtype == "timestamp_ntz":  # TIMESTAMP(MICROS), isAdjustedToUTC=false
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every TESTDATA table. The first read of each table file in
    a process runs one schema-inference job; later calls over unchanged
    files run none (see :func:`table`)."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for the SQL API surface."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
