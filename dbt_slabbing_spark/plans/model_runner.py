"""dbt-style SQL model runner: ``{{ ref('model') }}`` /
``{{ source('table') }}`` templated SQL → dependency DAG → Spark SQL.

This is the "dbt SQL → Spark SQL" translation path stated as the
project's north star (BASELINE.json): a dbt project is, mechanically, a
set of SELECT statements wired by ref(); on Spark each model becomes a
temp view (an ephemeral model) or a persisted table, and Catalyst sees
the WHOLE chain — views inline into one optimized plan, so staging
models cost nothing at runtime (nothing is materialized unless asked
for).

Persisted models — ``run_models(materialize="manifest")``,
``run_incremental`` and ``run_snapshot`` — are manifest tables
(:mod:`..operators.layout`), published by exactly one atomic commit
per model per run: readers see the previous build until the commit
and the new one after it, and a failed run publishes nothing.

Deliberately minimal: ref/source resolution, cycle detection,
topological execution, the ``is_incremental()`` / ``this`` macros, and
dbt's schema tests (``run_tests``). No other jinja.
"""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import DataFrame, SparkSession

_REF_RE = re.compile(r"\{\{\s*ref\(\s*['\"]([A-Za-z0-9_]+)['\"]\s*\)\s*\}\}")
_SOURCE_RE = re.compile(r"\{\{\s*source\(\s*['\"]([A-Za-z0-9_]+)['\"]\s*\)\s*\}\}")


class ModelError(ValueError):
    pass


def load_model_dir(path: str) -> dict[str, str]:
    """Read ``*.sql`` files as models named by file stem."""
    models = {}
    for p in sorted(pathlib.Path(path).glob("*.sql")):
        models[p.stem] = p.read_text()
    return models


def model_refs(sql: str) -> tuple[set[str], set[str]]:
    return set(_REF_RE.findall(sql)), set(_SOURCE_RE.findall(sql))


def topo_order(models: dict[str, str]) -> list[str]:
    """Dependency order; raises on unknown refs and cycles."""
    deps = {name: model_refs(sql)[0] for name, sql in models.items()}
    for name, d in deps.items():
        unknown = d - set(models)
        if unknown:
            raise ModelError(f"model {name!r} refs unknown model(s): {sorted(unknown)}")
    order: list[str] = []
    state: dict[str, int] = {}  # 0=unvisited 1=visiting 2=done

    def visit(n: str, chain: tuple[str, ...]) -> None:
        if state.get(n) == 2:
            return
        if state.get(n) == 1:
            cycle = " -> ".join(chain[chain.index(n):] + (n,))
            raise ModelError(f"ref cycle: {cycle}")
        state[n] = 1
        for d in sorted(deps[n]):
            visit(d, chain + (n,))
        state[n] = 2
        order.append(n)

    for n in sorted(models):
        visit(n, ())
    return order


def run_models(
    spark: SparkSession,
    models: dict[str, str],
    sources: dict[str, DataFrame],
    materialize: str = "view",
    view_prefix: str = "model_",
    base_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Execute the model DAG; returns {model_name: DataFrame}.

    ``materialize='view'`` registers each model as a temp view —
    downstream models and Catalyst inline them (one fused plan).
    ``materialize='cache'`` additionally caches hot intermediate models
    (the Spark analogue of a dbt table model for iterative
    use of the same upstream).
    ``materialize='manifest'`` is dbt's persisted ``table`` model
    over GOVERNED tables: each model full-refreshes
    into a manifest table under ``base_dir/<name>`` via
    ``overwrite_table`` — one atomic commit per model, the previous
    build stays time-travelable/restorable, and downstream models read
    the committed snapshot (physical barrier between models, the
    trade dbt's table models make deliberately).
    """
    if materialize not in ("view", "cache", "manifest"):
        raise ModelError(f"unknown materialize={materialize!r}")
    if materialize == "manifest":
        if not base_dir:
            raise ModelError("materialize='manifest' needs base_dir")
        from ..operators.layout import overwrite_table, read_table
    for name, df in sources.items():
        df.createOrReplaceTempView(f"src_{name}")

    out: dict[str, DataFrame] = {}
    for name in topo_order(models):
        sql = _REF_RE.sub(lambda m: f"{view_prefix}{m.group(1)}", models[name])
        sql = _SOURCE_RE.sub(lambda m: f"src_{m.group(1)}", sql)
        df = spark.sql(sql)
        if materialize == "cache":
            df = df.cache()
        elif materialize == "manifest":
            target = str(pathlib.Path(base_dir) / name)
            overwrite_table(spark, target, df)
            df = read_table(spark, target)
        df.createOrReplaceTempView(f"{view_prefix}{name}")
        out[name] = df
    return out


_THIS_RE = re.compile(r"\{\{\s*this\s*\}\}")
_IS_INCR_RE = re.compile(
    r"\{%\s*if\s+is_incremental\(\)\s*%\}(.*?)\{%\s*endif\s*%\}", re.S
)


def _built(target_path: str) -> bool:
    """Whether ``target_path`` holds a committed build: a manifest table
    with at least one live file (a plain parquet directory is adopted).
    A first build that died before its commit leaves a table without
    one, so the next run builds it from scratch again."""
    from ..operators.layout import ensure_manifest

    return pathlib.Path(target_path).exists() and bool(ensure_manifest(target_path))


def run_incremental(
    spark: SparkSession,
    model_sql: str,
    target_path: str,
    sources: dict[str, DataFrame],
    unique_key: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """dbt-style INCREMENTAL model — the 100 TB workhorse:
    recompute only new rows, never the history.

    Macros supported, with dbt semantics:
    - ``{% if is_incremental() %} … {% endif %}`` — the block is
      STRIPPED on the first run (full build) and inlined when the
      target holds a committed build (:func:`_built`); the block's
      WHERE clause restricts the scan to rows past the model's high
      watermark, so at scale the predicate prunes partitions and cost
      tracks the DELTA, not the history;
    - ``{{ this }}`` → the existing target (for
      ``WHERE ts > (SELECT max(ts) FROM {{ this }})``) — only valid
      inside the is_incremental block.

    The target is a manifest table (:mod:`..operators.layout`) and
    every run publishes its result with ONE atomic commit, like
    ``run_models(materialize="manifest")``. The first build and
    append-only runs (``unique_key`` None) are ``append_files`` of the
    delta, O(delta). Upsert runs (latest-change-wins via ``order_col``
    CDC compaction first) are ``overwrite_table`` of ``upsert(this,
    delta)``, where ``this`` is the one snapshot read that also backs
    ``{{ this }}``. A run that fails before its commit leaves the
    target as it was, and displaced files stay on disk for time travel
    until ``vacuum_orphans``, so frames returned by earlier runs stay
    readable. The O(delta) deletion-vector upsert is
    ``merge_rows(mode="dv")`` / SQL ``MERGE INTO``; a plain parquet
    target from before the manifest layer is adopted as version 1.
    """
    from ..operators.layout import append_files, overwrite_table, read_table
    from ..operators.merge import dedup_updates, upsert

    exists = _built(target_path)
    for name, df in sources.items():
        df.createOrReplaceTempView(f"src_{name}")
    sql = _SOURCE_RE.sub(lambda m: f"src_{m.group(1)}", model_sql)
    sql = _IS_INCR_RE.sub((lambda m: m.group(1)) if exists else "", sql)
    if exists:
        this = read_table(spark, target_path)
        this.createOrReplaceTempView("_incr_this")
    delta = spark.sql(_THIS_RE.sub("_incr_this", sql))

    if not exists or unique_key is None:
        append_files(spark, target_path, delta)
    else:
        if order_col is not None:
            delta = dedup_updates(delta, unique_key, order_col)
        overwrite_table(spark, target_path, upsert(this, delta, unique_key))
    return read_table(spark, target_path)


def run_snapshot(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    unique_key: str,
    tracked_cols: list[str],
    snapshot_time: str,
) -> DataFrame:
    """dbt-style SNAPSHOT ('check' strategy): capture a mutable source
    table's state as an SCD2 history.

    First run seeds every source row as the current version
    (valid_from = snapshot_time, open valid_to). Later runs diff the
    source against the stored CURRENT rows on ``tracked_cols``
    (null-safe): changed keys close their version at snapshot_time and
    open a new one; unchanged keys are no-ops; brand-new keys open
    their first version. Keys that VANISH from the source keep their
    open version — dbt snapshots never delete history, they only
    append to it. Re-running with an identical source is a no-op
    (idempotent), so a crashed-and-retried schedule is safe.

    The SCD2 fold itself is ``operators/merge.py::scd2_apply`` — same
    versioning semantics as the CDC path, one code path to trust. The
    target is a manifest table published by ONE ``overwrite_table``
    commit per run, like ``run_incremental``: a run that fails before
    its commit leaves the whole history readable, which matters here
    because snapshot history is NOT recomputable from the source.

    100 TB story: the diff is one key-equality join of source vs the
    CURRENT slice (is_current pushes to the scan), and history grows
    only by actual changes. Completes dbt's set of model kinds:
    view/ephemeral, cache/table, incremental, snapshot.
    """
    from pyspark.sql import functions as F

    from ..operators.layout import overwrite_table, read_table
    from ..operators.merge import scd2_apply

    snap_ts = F.lit(snapshot_time).cast("timestamp")
    cols = [unique_key, *tracked_cols]
    if _built(target_path):
        changes = source.select(*cols).withColumn("_snap_at", snap_ts)
        out = scd2_apply(
            read_table(spark, target_path), changes, unique_key, "_snap_at", tracked_cols
        )
    else:
        out = source.select(*cols).select(
            "*",
            snap_ts.alias("valid_from"),
            F.lit("9999-12-31 00:00:00").cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    overwrite_table(spark, target_path, out)
    return read_table(spark, target_path)


def run_tests(
    spark: SparkSession,
    relations: dict[str, DataFrame],
    tests: dict[str, dict[str, list]],
) -> DataFrame:
    """dbt-style schema (data) tests: the dbt layer the module docstring
    deferred, now first-class. ``tests`` mirrors a dbt schema.yml:

        {"orders": {"o_orderkey": ["unique", "not_null"],
                    "o_orderstatus": [{"accepted_values": ["F", "O"]}],
                    "o_custkey": [{"relationships": ("customer", "c_custkey")}]}}

    Returns one row per (model, column, test): ``n_failures`` and
    ``passed`` — dbt's contract (a test SELECTs failing rows; 0 rows =
    pass). Failure semantics match dbt's built-ins:

    - ``not_null``: rows where the column IS NULL;
    - ``unique``: DISTINCT non-null values occurring more than once
      (dbt counts offending values, not offending rows);
    - ``accepted_values``: non-null rows outside the list;
    - ``relationships``: non-null child values with no parent match
      (referential integrity as an anti-join).

    100 TB shape: every test is ONE aggregation or anti-join over the
    relation — not_null/accepted_values are map-side-combined counts
    (shuffle = 1 row), unique shuffles on the tested column only, and
    relationships is a null-skipping LEFT ANTI join the planner
    broadcasts when the parent is small. Tests on one relation are
    independent Spark jobs; a scheduler can run them concurrently.
    """
    from pyspark.sql import functions as F

    results: list[tuple[str, str, str, int]] = []

    def _count(df: DataFrame) -> int:
        return int(df.count())

    for model, cols in tests.items():
        rel = relations[model]
        for col, specs in cols.items():
            for spec in specs:
                if spec == "not_null":
                    n = _count(rel.filter(F.col(col).isNull()))
                    results.append((model, col, "not_null", n))
                elif spec == "unique":
                    n = _count(
                        rel.filter(F.col(col).isNotNull())
                        .groupBy(col)
                        .agg(F.count(F.lit(1)).alias("_n"))
                        .filter(F.col("_n") > 1)
                    )
                    results.append((model, col, "unique", n))
                elif isinstance(spec, dict) and "accepted_values" in spec:
                    vals = list(spec["accepted_values"])
                    n = _count(
                        rel.filter(F.col(col).isNotNull() & ~F.col(col).isin(vals))
                    )
                    results.append((model, col, "accepted_values", n))
                elif isinstance(spec, dict) and "relationships" in spec:
                    parent, pcol = spec["relationships"]
                    n = _count(
                        rel.filter(F.col(col).isNotNull())
                        .select(col)
                        .join(
                            relations[parent].select(F.col(pcol).alias(col)).distinct(),
                            col,
                            "left_anti",
                        )
                    )
                    results.append((model, col, "relationships", n))
                else:
                    raise ModelError(f"unknown test spec {spec!r} on {model}.{col}")

    return spark.createDataFrame(
        [(m, c, t, n, n == 0) for m, c, t, n in results],
        "model string, column string, test string, n_failures bigint, passed boolean",
    )
