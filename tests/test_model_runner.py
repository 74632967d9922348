"""Model-runner mechanics: DAG order, cycle/unknown-ref errors, view
inlining (the chain collapses into ONE optimized plan)."""

from __future__ import annotations

import pytest

from dbt_slabbing_spark.catalog import load_tables
from dbt_slabbing_spark.plans.model_runner import ModelError, load_model_dir, run_models, topo_order
from tests.conftest import SF_SMOKE


def test_topo_order_respects_refs():
    models = {
        "c": "SELECT * FROM {{ ref('b') }}",
        "b": "SELECT * FROM {{ ref('a') }}",
        "a": "SELECT 1 AS x",
    }
    order = topo_order(models)
    assert order.index("a") < order.index("b") < order.index("c")


def test_cycle_detected():
    models = {"a": "SELECT * FROM {{ ref('b') }}", "b": "SELECT * FROM {{ ref('a') }}"}
    with pytest.raises(ModelError, match="cycle"):
        topo_order(models)


def test_unknown_ref_detected():
    with pytest.raises(ModelError, match="unknown model"):
        topo_order({"a": "SELECT * FROM {{ ref('ghost') }}"})


def test_models_inline_into_one_plan(spark):
    """Ephemeral (view) materialization: Catalyst must fuse the chain —
    the mart's optimized plan reads the parquet source directly, with
    the staging filter pushed into the scan."""
    tables = load_tables(spark, SF_SMOKE)
    models = {
        "stg": "SELECT o_orderkey, o_totalprice FROM {{ source('orders') }} WHERE o_totalprice > 100000",
        "mart": "SELECT count(*) AS n FROM {{ ref('stg') }}",
    }
    built = run_models(spark, models, {"orders": tables["orders"]})
    plan = built["mart"]._jdf.queryExecution().optimizedPlan().toString()
    assert "Relation" in plan and "o_totalprice" in plan
    n = built["mart"].collect()[0]["n"]
    assert n == tables["orders"].filter("o_totalprice > 100000").count()


def test_load_model_dir(tmp_path):
    (tmp_path / "m1.sql").write_text("SELECT 1 AS x")
    (tmp_path / "m2.sql").write_text("SELECT * FROM {{ ref('m1') }}")
    models = load_model_dir(str(tmp_path))
    assert set(models) == {"m1", "m2"}


def test_incremental_append_watermark(spark, tmp_path):
    """Incremental model: first run full-builds; second run sees the
    is_incremental block, reads only rows past max(ts) in the target,
    and appends — final state equals a from-scratch build."""
    from pyspark.sql import functions as F

    from dbt_slabbing_spark.catalog import table
    from dbt_slabbing_spark.plans.model_runner import run_incremental

    events = table(spark, SF_SMOKE, "events").select("event_id", "ts", "event_type", "value")
    first_half = events.filter(F.col("event_id") < 500)
    model = """
        SELECT event_id, ts, event_type, value
        FROM src_events
        {% if is_incremental() %}
        WHERE ts > (SELECT max(ts) FROM {{ this }})
        {% endif %}
    """
    target = str(tmp_path / "incr_events")

    out1 = run_incremental(spark, model, target, sources={"events": first_half})
    n1 = out1.count()
    assert n1 == first_half.count()

    out2 = run_incremental(spark, model, target, sources={"events": events})
    # watermark append: history kept, late rows added exactly once —
    # except rows whose ts ties the old max (strictly-greater predicate
    # is the standard dbt trade-off); with µs timestamps none tie here
    assert out2.count() == events.count()
    assert sorted(r["event_id"] for r in out2.collect()) == sorted(
        r["event_id"] for r in events.collect()
    )


def test_incremental_upsert_by_key(spark, tmp_path):
    """unique_key incremental: re-delivered keys UPDATE in place (CDC
    compaction keeps the latest change), new keys INSERT."""
    from dbt_slabbing_spark.plans.model_runner import run_incremental

    cols = "k int, v string, seq int"
    base = spark.createDataFrame([(1, "a", 0), (2, "b", 0)], cols)
    model = "SELECT k, v, seq FROM src_changes"
    target = str(tmp_path / "incr_upsert")

    run_incremental(spark, model, target, sources={"changes": base}, unique_key="k", order_col="seq")
    updates = spark.createDataFrame(
        [(2, "b_stale", 1), (2, "b_new", 2), (3, "c", 1)], cols
    )
    out = run_incremental(
        spark, model, target, sources={"changes": updates}, unique_key="k", order_col="seq"
    )
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "a", 2: "b_new", 3: "c"}


def test_dbt_style_data_checks(spark):
    """unique / not_null / accepted_values / relationships over the
    testdata star schema: clean keys pass, injected violations count."""
    from pyspark.sql import functions as F

    from dbt_slabbing_spark.catalog import table
    from dbt_slabbing_spark.plans.checks import (
        accepted_values_check,
        not_null_check,
        relationships_check,
        run_checks,
        unique_check,
    )

    orders = table(spark, SF_SMOKE, "orders")
    nation = table(spark, SF_SMOKE, "nation")
    customer = table(spark, SF_SMOKE, "customer")
    results = {
        r.name: r.failures
        for r in run_checks(
            [
                unique_check(orders, "o_orderkey"),
                not_null_check(orders, "o_custkey"),
                accepted_values_check(orders, "o_orderstatus", ["O", "F", "P"]),
                relationships_check(customer, "c_nationkey", nation, "n_nationkey"),
            ]
        )
    }
    assert results == {
        "unique:o_orderkey": 0,
        "not_null:o_custkey": 0,
        "accepted_values:o_orderstatus": 0,
        "relationships:c_nationkey": 0,
    }

    # violations are counted, not just flagged
    dirty = orders.limit(2).withColumn("o_orderkey", F.lit(1)).unionByName(orders)
    bad = {
        r.name: r.failures
        for r in run_checks(
            [
                unique_check(dirty, "o_orderkey"),
                relationships_check(
                    customer.withColumn("c_nationkey", F.col("c_nationkey") + 1000),
                    "c_nationkey",
                    nation,
                    "n_nationkey",
                ),
            ]
        )
    }
    assert bad["unique:o_orderkey"] >= 3  # the two injected + original key 1
    assert bad["relationships:c_nationkey"] == customer.count()

    # an EMPTY table trivially passes every check (SUM over zero rows is
    # NULL; the checks must coalesce it to 0, not report failures=None)
    empty = orders.limit(0)
    empties = {
        r.name: r.failures
        for r in run_checks(
            [
                unique_check(empty, "o_orderkey"),
                not_null_check(empty, "o_custkey"),
                accepted_values_check(empty, "o_orderstatus", ["O", "F", "P"]),
            ]
        )
    }
    assert empties == {
        "unique:o_orderkey": 0,
        "not_null:o_custkey": 0,
        "accepted_values:o_orderstatus": 0,
    }
    assert all(
        run_checks([not_null_check(empty, "o_custkey")])[0].passed for _ in range(1)
    )


def test_snapshot_materialization_builds_scd2_history(spark, tmp_path):
    """Three runs over a mutating source: seed -> change one key + add
    one -> identical re-run (idempotence). Vanished keys keep their
    open version (dbt snapshots never delete)."""
    from dbt_slabbing_spark.plans.model_runner import run_snapshot

    p = str(tmp_path / "snap_customers")

    def src(rows):
        return spark.createDataFrame(rows, "id long, segment string")

    # run 1: seed
    out1 = run_snapshot(
        spark, src([(1, "basic"), (2, "gold")]), p, "id", ["segment"], "2024-01-01 00:00:00"
    )
    assert out1.count() == 2
    assert out1.filter("is_current").count() == 2

    # run 2: key 1 changes, key 3 appears, key 2 VANISHES from source
    out2 = run_snapshot(
        spark, src([(1, "gold"), (3, "basic")]), p, "id", ["segment"], "2024-02-01 00:00:00"
    )
    rows = {(r["id"], r["segment"], r["is_current"]): r for r in out2.collect()}
    n2 = len(rows)
    assert (1, "basic", False) in rows and (1, "gold", True) in rows
    assert (3, "basic", True) in rows
    assert (2, "gold", True) in rows  # vanished key keeps open version
    closed = rows[(1, "basic", False)]
    assert str(closed["valid_to"]).startswith("2024-02-01")

    # run 3: identical source -> byte-level no-op
    out3 = run_snapshot(
        spark, src([(1, "gold"), (3, "basic")]), p, "id", ["segment"], "2024-03-01 00:00:00"
    )
    assert out3.count() == n2
    assert out3.filter("is_current").count() == 3
    assert out3.filter("valid_from >= '2024-03-01'").count() == 0


def test_failed_snapshot_run_keeps_history(spark, tmp_path, monkeypatch):
    """A run that dies before its commit publishes nothing: the SCD2
    history (not recomputable from the source) still reads in full,
    and the re-run applies its changes on top of it — never re-seeds."""
    from dbt_slabbing_spark.operators import layout
    from dbt_slabbing_spark.operators.layout import read_table
    from dbt_slabbing_spark.plans.model_runner import run_snapshot

    p = str(tmp_path / "snap")

    def src(rows):
        return spark.createDataFrame(rows, "id long, segment string")

    run_snapshot(spark, src([(1, "basic"), (2, "gold")]), p, "id", ["segment"], "2024-01-01 00:00:00")
    history = sorted(map(tuple, read_table(spark, p).collect()))
    assert len(history) == 2

    def crash(*a, **k):
        raise RuntimeError("killed before the commit")

    with monkeypatch.context() as m:
        m.setattr(layout, "_commit_manifest", crash)
        with pytest.raises(RuntimeError, match="killed"):
            run_snapshot(spark, src([(1, "gold")]), p, "id", ["segment"], "2024-02-01 00:00:00")
    assert sorted(map(tuple, read_table(spark, p).collect())) == history

    out = run_snapshot(spark, src([(1, "gold")]), p, "id", ["segment"], "2024-02-01 00:00:00")
    rows = {(r["id"], r["segment"], r["is_current"]) for r in out.collect()}
    assert rows == {(1, "basic", False), (1, "gold", True), (2, "gold", True)}


def test_failed_first_build_is_built_again(spark, tmp_path, monkeypatch):
    """A first build that dies before its commit leaves no build, so
    the re-run is a first build again (``is_incremental()`` false), not
    an incremental run over an empty target."""
    from dbt_slabbing_spark.operators import layout
    from dbt_slabbing_spark.plans.model_runner import run_incremental

    target = str(tmp_path / "incr")
    model = """
        SELECT k FROM src_rows
        {% if is_incremental() %} WHERE k > (SELECT max(k) FROM {{ this }}) {% endif %}
    """
    src = {"rows": spark.createDataFrame([(1,), (2,)], "k int")}
    commit = layout._commit_manifest

    def crash(p, files, *a, **k):
        if files:  # the data commit; the new table's empty version 1 lands
            raise RuntimeError("killed before the commit")
        return commit(p, files, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(layout, "_commit_manifest", crash)
        with pytest.raises(RuntimeError, match="killed"):
            run_incremental(spark, model, target, src)
    out = run_incremental(spark, model, target, src)
    assert sorted(r["k"] for r in out.collect()) == [1, 2]


def test_earlier_run_frames_still_read(spark, tmp_path):
    """A frame returned by run N collects its own rows after run N+1:
    each run commits a new snapshot and leaves the files of the old one
    in place for time travel."""
    from dbt_slabbing_spark.plans.model_runner import run_incremental, run_snapshot

    snap = str(tmp_path / "snap")
    seg = "id long, segment string"
    s1 = run_snapshot(
        spark, spark.createDataFrame([(1, "basic")], seg), snap, "id", ["segment"],
        "2024-01-01 00:00:00",
    )
    run_snapshot(
        spark, spark.createDataFrame([(1, "gold")], seg), snap, "id", ["segment"],
        "2024-02-01 00:00:00",
    )
    assert [(r["id"], r["segment"], r["is_current"]) for r in s1.collect()] == [
        (1, "basic", True)
    ]

    model = "SELECT k, v FROM src_rows"
    kv = "k int, v string"
    for key, incr in ((None, "incr_append"), ("k", "incr_upsert")):
        target = str(tmp_path / incr)
        i1 = run_incremental(
            spark, model, target, {"rows": spark.createDataFrame([(1, "a")], kv)}, key
        )
        i2 = run_incremental(
            spark, model, target, {"rows": spark.createDataFrame([(1, "b"), (2, "c")], kv)}, key
        )
        assert sorted(map(tuple, i1.collect())) == [(1, "a")]
        want = [(1, "b"), (2, "c")] if key else [(1, "a"), (1, "b"), (2, "c")]
        assert sorted(map(tuple, i2.collect())) == want


@pytest.mark.parametrize(
    "gate,budget",
    [("model_incremental_hourly_mart", 11), ("model_snapshot_customer_segments", 7)],
)
def test_model_gate_job_budget(spark, gate, budget):
    """Spark jobs of one warm gate call plus its collect: two runs of
    the model, each published by ONE manifest commit."""
    from dbt_slabbing_spark.queries import registry
    from tests.conftest import _next_job_id

    fn = registry()[gate].fn
    fn(spark, SF_SMOKE).collect()  # warm: catalog, footers, codegen
    before = _next_job_id(spark)
    fn(spark, SF_SMOKE).collect()
    assert _next_job_id(spark) - before <= budget


def test_run_tests_counts_failures_on_hand_built_fixture(spark):
    """dbt test semantics on a fixture with KNOWN defects: one null id,
    one duplicated id (counted once — dbt counts offending VALUES),
    two out-of-list statuses, one orphan foreign key; plus the
    passing parent side."""
    from dbt_slabbing_spark.plans.model_runner import ModelError, run_tests

    child = spark.createDataFrame(
        [
            (1, "A", 10),
            (2, "A", 20),
            (2, "B", 20),     # duplicate id 2 (one offending value)
            (None, "A", 30),  # null id
            (4, "X", 40),     # bad status
            (5, "Y", 99),     # bad status + orphan fk
        ],
        "id long, status string, fk long",
    )
    parent = spark.createDataFrame([(10,), (20,), (30,), (40,)], "pk long")
    got = {
        (r["model"], r["column"], r["test"]): (r["n_failures"], r["passed"])
        for r in run_tests(
            spark,
            {"child": child, "parent": parent},
            {
                "child": {
                    "id": ["unique", "not_null"],
                    "status": [{"accepted_values": ["A", "B"]}],
                    "fk": [{"relationships": ("parent", "pk")}],
                },
                "parent": {"pk": ["unique", "not_null"]},
            },
        ).collect()
    }
    assert got == {
        ("child", "id", "unique"): (1, False),
        ("child", "id", "not_null"): (1, False),
        ("child", "status", "accepted_values"): (2, False),
        ("child", "fk", "relationships"): (1, False),
        ("parent", "pk", "unique"): (0, True),
        ("parent", "pk", "not_null"): (0, True),
    }

    import pytest as _pytest

    with _pytest.raises(ModelError):
        run_tests(spark, {"child": child}, {"child": {"id": ["bogus_test"]}})
