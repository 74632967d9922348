"""Fourth wave: the remaining §2.6 cells — RIGHT join, map-typed JSON,
salted hot-key aggregation (the manual skew pattern), and q15/q17
TPC-H shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from . import dround, register


@register(
    "join_right_suppliers_per_nation",
    """
    SELECT n_name, CAST(count(s_suppkey) AS BIGINT) AS n_suppliers
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    "right outer join preserving nations with zero suppliers",
    tags=("join",),
)
def join_right_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    return (
        supp.join(nation, supp.s_nationkey == nation.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@register(
    "fn_map_from_json",
    """
    SELECT event_id,
           json_keys(props)[1]                              AS first_key,
           CAST(json_extract_string(props, '$.k') AS INT)   AS k_value,
           CAST(len(json_keys(props)) AS INT)               AS n_keys
    FROM events
    """,
    "map-typed JSON: parse props to map<string,int>, keys/values access",
    tags=("scalar", "json", "map"),
)
def fn_map_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumn("_m", F.from_json("props", "map<string,int>"))
    keys = F.map_keys(F.col("_m"))
    return ev.select(
        "event_id",
        F.element_at(F.array_sort(keys), 1).alias("first_key"),
        F.element_at(F.col("_m"), "k").alias("k_value"),
        F.size(keys).alias("n_keys"),
    )


@register(
    "agg_salted_hot_keys",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round((sum(value)) * 100.0) / 100.0 + 0.0 AS total
    FROM events GROUP BY event_type
    """,
    "two-phase salted aggregation over 5 hot keys (manual skew pattern; "
    "result identical to the plain groupBy oracle)",
    tags=("agg", "skew"),
)
def agg_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Phase 1: aggregate on (key, salt) — hot keys split across 8
    # reducers; phase 2: merge the partials per key. On skewed data the
    # first shuffle is what melts; salting bounds any reducer's share of
    # a hot key at 1/8. (AQE skew-join handles the join case; this is
    # the groupBy-side version it doesn't cover.)
    ev = table(spark, sf_dir, "events").withColumn("_salt", F.pmod(F.col("event_id"), F.lit(8)))
    partial = ev.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_sum")
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").cast("bigint").alias("n"), dround(F.sum("_sum"), 2).alias("total")
    )


@register(
    "q15_top_revenue_suppliers",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round((sum(l_extendedprice * (1 - l_discount))) * 100.0) / 100.0 + 0.0 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_shipdate < TIMESTAMP '2000-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    "TPC-H Q15-style: revenue view + scalar-max subquery (top supplier)",
    tags=("subquery", "agg", "join"),
)
def q15_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("_max"))
    return (
        table(spark, sf_dir, "supplier")
        .join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("_max"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT round((sum(l_extendedprice) / 7.0) * 10000.0) / 10000.0 + 0.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS pk, 0.5 * avg(l_quantity) AS half_avg_qty
          FROM lineitem GROUP BY l_partkey) t
      ON p_partkey = t.pk
    WHERE p_brand = 'Brand#1' AND l_quantity < half_avg_qty
    """,
    "TPC-H Q17-style: correlated avg-quantity threshold (decorrelated join)",
    tags=("subquery", "agg", "join"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    half_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1"),
                li.l_partkey == F.col("p_partkey"))
        .join(half_avg, F.col("p_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(dround(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@register(
    "agg_approx_topk_event_types",
    # approx_top_k with maxItemsTracked ≥ column cardinality tracks
    # EVERY item exactly, so the sketch output equals the exact GROUP BY
    # — the oracle states the exact form; the engine must surface the
    # sketch's (item, count) pairs bit-for-bit. (On a high-cardinality
    # column the same sketch returns estimates; this gate pins the API
    # + exact regime.)
    """
    SELECT event_type AS item, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    "approx_top_k frequent-items sketch (exact regime: tracked ≥ cardinality)",
    tags=("agg", "approx", "topk"),
)
def agg_approx_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "events").createOrReplaceTempView("_topk_events")
    return spark.sql(
        """
        SELECT pair.item AS item, pair.count AS n
        FROM (SELECT explode(approx_top_k(event_type, 10, 10000)) AS pair
              FROM _topk_events)
        """
    )


@register(
    "sink_orc_roundtrip",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           round((sum(o_totalprice)) * 100.0) / 100.0 + 0.0 AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
    "ORC sink + source roundtrip (SURVEY §2.6 scans/sinks): aggregate, "
    "write ORC, read back — the returned frame is the ORC scan, so the "
    "gate hash-checks the full format roundtrip against the oracle",
    tags=("sink", "source", "orc"),
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    agg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    path = tempfile.mkdtemp(prefix="dbt_slabbing_orc_") + "/orders_by_status"
    agg.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "join_salted_replicated_dim",
    """
    SELECT event_type, c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY event_type, segment
    """,
    "salted skew join (manual pattern): fact keys salted, dim rows "
    "replicated once per salt, join on (key, salt) — result identical "
    "to the plain equi-join oracle",
    tags=("join", "skew"),
)
def join_salted_replicated_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-side sibling of agg_salted_hot_keys: when one fact key
    owns a reducer-melting share of rows and the dim side is small
    enough to replicate but too big (or too mid-plan) to broadcast,
    salting bounds any reducer's share of a hot key at 1/R.

    Mechanics: fact gets a DETERMINISTIC salt in [0, R); the dim side
    is replicated R× via a posexplode'd R-array; the join key becomes
    (key, salt). Deterministic salt (event_id % R, not rand()) keeps
    the gate hash-stable AND is what you want in production anyway —
    retried tasks must salt identically or exactly-once sinks break.

    At this SF the plain join is fine — the point is the dataflow is
    provably result-identical (the oracle IS the unsalted join), so
    the rewrite can be dropped in at 100 TB without a semantics
    review. (AQE's skew-join handles sort-merge cases adaptively;
    manual salting remains the tool for stateful/streaming joins and
    pre-partitioned layouts AQE won't touch.)
    """
    R = 8
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.pmod(F.col("event_id"), F.lit(R)).alias("_salt")
    )
    cust = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(R - 1))).alias("_salt"))
    )
    return (
        ev.join(cust, (ev["user_id"] == cust["c_custkey"]) & (ev["_salt"] == cust["_salt"]))
        .groupBy("event_type", F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "layout_manifest_delete",
    """
    WITH cond AS (
        SELECT *, (o_orderstatus = 'F' AND o_totalprice < 100000.0) AS del
        FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS rows_before,
           CAST(sum(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT) AS rows_deleted,
           CAST(sum(CASE WHEN NOT coalesce(del, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
               AS rows_after,
           CAST(sum(CASE WHEN NOT coalesce(del, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rows_read,
           CAST(count(DISTINCT CASE WHEN NOT coalesce(del, FALSE)
                                    THEN o_orderkey END) AS BIGINT) AS n_keys,
           round((sum(CASE WHEN NOT coalesce(del, FALSE)
                           THEN o_totalprice END)) * 100.0) / 100.0 + 0.0
               AS sum_price
    FROM cond
    """,
    "manifest-commit targeted DELETE end-to-end: copy orders into a "
    "multi-file manifest table, delete_rows a predicate, read the "
    "committed snapshot back through the manifest -- before/deleted/"
    "after counts and a survivor checksum (count, distinct keys, "
    "2-dp price sum)",
    tags=("layout", "maintenance"),
)
def layout_manifest_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the table-format maintenance path END-TO-END under the
    driver's oracle gate (operators/layout.py::delete_rows was
    previously pytest-only): an 8-file copy of orders becomes a
    manifest table, the DELETE rewrites only affected files and
    commits ONE atomic manifest swap, and the verdict reads the new
    snapshot THROUGH the manifest. Everything emitted is
    distribution-independent (counts, distinct keys, rounded sum), so
    the oracle is the plain SQL statement of DELETE semantics over
    orders — including the NULL-predicate row survival rule. Runs its
    jobs eagerly and cleans up its tempdir before returning."""
    import shutil
    import tempfile

    from ..operators.layout import delete_rows, read_table

    work = tempfile.mkdtemp(prefix="manifest_delete_gate_")
    try:
        table(spark, sf_dir, "orders").repartition(8, "o_orderkey").write.mode(
            "overwrite"
        ).parquet(work)
        stats = delete_rows(
            spark, work, "o_orderstatus = 'F' AND o_totalprice < 100000.0"
        )
        survivors = read_table(spark, work)
        row = survivors.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows_read"),
            F.count_distinct("o_orderkey").cast("bigint").alias("n_keys"),
            dround(F.sum("o_totalprice"), 2).alias("sum_price"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                stats["rows_before"],
                stats["rows_deleted"],
                stats["rows_after"],
                row["n_rows_read"],
                row["n_keys"],
                float(row["sum_price"]),
            )
        ],
        "rows_before bigint, rows_deleted bigint, rows_after bigint, "
        "n_rows_read bigint, n_keys bigint, sum_price double",
    )


@register(
    "layout_merge_upsert",
    # MERGE semantics replayed in plain SQL: merged = (target rows
    # whose key is NOT a source key) UNION ALL source. Updates = keys
    # o_orderkey % 7 = 0 with bumped price + status 'U'; inserts =
    # negated keys derived from o_orderkey % 5 = 1 (negatives cannot
    # collide with real keys).
    """
    WITH upd AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice + 100000.0 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    ins AS (
        SELECT -o_orderkey AS o_orderkey, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 5 = 1
    ),
    merged AS (
        SELECT * FROM orders WHERE o_orderkey % 7 <> 0
        UNION ALL SELECT * FROM upd
        UNION ALL SELECT * FROM ins
    ),
    stats AS (
        SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS rows_before,
               CAST((SELECT count(*) FROM upd) AS BIGINT)    AS rows_updated,
               CAST((SELECT count(*) FROM ins) AS BIGINT)    AS rows_inserted
    )
    SELECT s.rows_before, s.rows_updated, s.rows_inserted,
           CAST(count(*) AS BIGINT)                   AS rows_after,
           CAST(count(DISTINCT m.o_orderkey) AS BIGINT) AS n_keys,
           round(sum(m.o_totalprice) * 100.0) / 100.0 + 0.0 AS sum_price,
           CAST(sum(CASE WHEN m.o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated_status,
           CAST(sum(CASE WHEN m.o_orderkey < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inserted_rows
    FROM merged m, stats s
    GROUP BY s.rows_before, s.rows_updated, s.rows_inserted
    """,
    "copy-on-write MERGE INTO (record-key upsert) end-to-end: copy "
    "orders into a multi-file manifest table, merge a source of "
    "updates (bumped price, status 'U') + inserts (negated keys), "
    "read the committed snapshot back -- merge stats and a survivor "
    "checksum",
    tags=("layout", "maintenance"),
)
def layout_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::merge_rows END-TO-END under the
    oracle gate: an 8-file copy of orders becomes a manifest table,
    MERGE rewrites only the files holding matched keys, appends the
    source as fresh files, and commits ONE atomic manifest swap; the
    verdict reads the new snapshot THROUGH the manifest. All emitted
    values are distribution-independent (counts, distinct keys,
    rounded sum), so the oracle is the SQL statement of MERGE
    semantics over orders. Cleans up its tempdir before returning."""
    import shutil
    import tempfile

    from ..operators.layout import merge_rows, read_table

    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    orders = table(spark, sf_dir, "orders").select(*cols)
    upd = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 100000.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    ins = orders.filter(F.col("o_orderkey") % 5 == 1).select(
        (-F.col("o_orderkey")).alias("o_orderkey"), *cols[1:]
    )
    work = tempfile.mkdtemp(prefix="merge_upsert_gate_")
    try:
        orders.repartition(8, "o_orderkey").write.mode("overwrite").parquet(work)
        stats = merge_rows(spark, work, upd.unionByName(ins), on="o_orderkey")
        merged = read_table(spark, work)
        row = merged.agg(
            F.count(F.lit(1)).cast("bigint").alias("rows_after"),
            F.count_distinct("o_orderkey").cast("bigint").alias("n_keys"),
            dround(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.sum((F.col("o_orderstatus") == "U").cast("int"))
            .cast("bigint")
            .alias("n_updated_status"),
            F.sum((F.col("o_orderkey") < 0).cast("int"))
            .cast("bigint")
            .alias("n_inserted_rows"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                stats["rows_before"],
                stats["rows_updated"],
                stats["rows_inserted"],
                row["rows_after"],
                row["n_keys"],
                float(row["sum_price"]),
                row["n_updated_status"],
                row["n_inserted_rows"],
            )
        ],
        "rows_before bigint, rows_updated bigint, rows_inserted bigint, "
        "rows_after bigint, n_keys bigint, sum_price double, "
        "n_updated_status bigint, n_inserted_rows bigint",
    )


@register(
    "layout_time_travel",
    # Three snapshots replayed in SQL: v1 = orders (adoption), v2 =
    # v1 + appended slice (negated keys from o_orderkey % 13 = 0),
    # v3 = v2 minus DELETE o_orderstatus='O' AND o_totalprice<150000
    # (predicate TRUE only; applies to appended rows too).
    """
    WITH v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    app AS (
        SELECT -o_orderkey AS o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM app),
    v3 AS (
        SELECT * FROM v2
        WHERE NOT coalesce(o_orderstatus = 'O' AND o_totalprice < 150000.0,
                           FALSE)
    )
    SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           round(sum(o_totalprice) * 100.0) / 100.0 + 0.0 AS sum_price
    FROM v1
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT o_orderkey) AS BIGINT),
           round(sum(o_totalprice) * 100.0) / 100.0 + 0.0
    FROM v2
    UNION ALL
    SELECT 3, CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT o_orderkey) AS BIGINT),
           round(sum(o_totalprice) * 100.0) / 100.0 + 0.0
    FROM v3
    """,
    "manifest time travel (VERSION AS OF over plain parquet): adopt "
    "orders (v1), append a slice (v2), delete a predicate with "
    "retained originals (v3), then read ALL THREE snapshots back "
    "through the version log -- per-version counts and checksums",
    tags=("layout", "maintenance"),
)
def layout_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the manifest version log END-TO-END: every mutation in
    operators/layout.py commits a new version whose file list stays
    queryable (copy-on-write + retained originals), so `read_table(
    version=N)` reproduces each historical snapshot exactly — the
    Delta/Iceberg `VERSION AS OF` read expressed over plain parquet +
    one atomic manifest file. The verdict re-reads v1/v2/v3 AFTER all
    three commits and emits per-version distribution-independent
    checksums; vacuum honoring `retain_versions` is pytest-covered."""
    import shutil
    import tempfile

    from ..operators.layout import (
        delete_rows,
        ensure_manifest,
        merge_rows,  # noqa: F401  (sibling op; see test module)
        read_table,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    app = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        (-F.col("o_orderkey")).alias("o_orderkey"), "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="time_travel_gate_")
    try:
        orders.repartition(8, "o_orderkey").write.mode("overwrite").parquet(work)
        ensure_manifest(work)  # v1: adoption commit
        from ..operators.layout import append_files

        append_files(spark, work, app)  # v2
        delete_rows(
            spark,
            work,
            "o_orderstatus = 'O' AND o_totalprice < 150000.0",
            retain=True,  # keep displaced originals: v2/v1 stay readable
        )  # v3
        out = []
        for v in (1, 2, 3):
            row = (
                read_table(spark, work, version=v)
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                    F.count_distinct("o_orderkey").cast("bigint").alias("n_keys"),
                    dround(F.sum("o_totalprice"), 2).alias("sum_price"),
                )
                .collect()[0]
            )
            out.append((v, row["n_rows"], row["n_keys"], float(row["sum_price"])))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out, "version int, n_rows bigint, n_keys bigint, sum_price double"
    )


@register(
    "layout_compact_manifest",
    # Compaction changes LAYOUT, not content: the verdict states the
    # table's content checksum (row count, distinct keys, 2-dp value
    # sum) over the raw events — identical before and after — plus the
    # structural facts the maintenance pass guarantees (file count
    # shrinks to the byte-derived target of 1 at this scale; versions:
    # adopt=1, 3 appends, compact=5).
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_keys,
           round((sum(value)) * 100.0) / 100.0 + 0.0 AS sum_value,
           CAST(1 AS BIGINT) AS n_files_after,
           CAST(5 AS BIGINT) AS version
    FROM events
    """,
    "manifest-table OPTIMIZE end-to-end: land events in 3 appended "
    "micro-batches (small files), compact_table rewrites the live list "
    "and publishes ONE OCC manifest commit, verdict reads the new "
    "snapshot through the manifest — content checksum unchanged, file "
    "count at the byte-derived target, version log intact",
    tags=("layout", "maintenance"),
)
def layout_compact_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the r9 manifest-aware compaction END-TO-END: three
    batch-id-keyed appends fragment the table (the streaming-sink
    steady state), compact_table coalesces the live list behind one
    atomic OCC commit, and the verdict is read THROUGH the manifest.
    Time-travel to the pre-compaction snapshot and the conflict path
    are pytest-covered (test_layout_concurrency / test_r9_layout)."""
    import shutil
    import tempfile

    from ..operators.layout import (
        append_batch_idempotent,
        compact_table,
        manifest_versions,
        read_table,
    )

    work = tempfile.mkdtemp(prefix="manifest_compact_gate_")
    tdir = work + "/t"
    try:
        ev = table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        for b in range(3):
            append_batch_idempotent(
                spark, tdir, ev.filter(F.col("event_id") % 3 == b).repartition(4), b
            )
        stats = compact_table(spark, tdir)
        assert stats["version"] == len(manifest_versions(tdir))
        row = (
            read_table(spark, tdir)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count_distinct("event_id").cast("bigint").alias("n_keys"),
                dround(F.sum("value"), 2).alias("sum_value"),
            )
            .collect()[0]
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                row["n_rows"],
                row["n_keys"],
                float(row["sum_value"]),
                stats["n_files_after"],
                stats["version"],
            )
        ],
        "n_rows bigint, n_keys bigint, sum_value double, "
        "n_files_after bigint, version bigint",
    )


@register(
    "layout_hilbert_locality",
    # Cross-engine pin of the Hilbert-curve clustering key
    # (operators/layout.py::with_hilbert_key, the write_hilbert_clustered
    # / liquid-clustering primitive): the oracle replays the EXACT xy2d
    # rotation recurrence as a recursive CTE (state (x, y, d), one
    # iteration per bit, bits=6 -> 64x64 grid), so every key value is
    # hash-checked, and the locality CLAIM is verified as data: walking
    # cells in key order, every step between curve-adjacent present
    # cells has Manhattan distance 1 (the property Z-order lacks);
    # missing cells (the event sample covers ~90% of the grid) surface
    # as the counted >1 jumps.
    """
    WITH RECURSIVE cells AS (
        SELECT DISTINCT CAST(user_id % 64 AS BIGINT) AS x0,
                        CAST(event_id % 64 AS BIGINT) AS y0
        FROM events
    ),
    walk(x0, y0, i, x, y, d) AS (
        SELECT x0, y0, 5, x0, y0, CAST(0 AS BIGINT) FROM cells
        UNION ALL
        SELECT x0, y0, i - 1,
               CASE WHEN ((y >> i) & 1) = 0
                    THEN CASE WHEN ((x >> i) & 1) = 1
                              THEN (CAST(1 AS BIGINT) << i) - 1 - y ELSE y END
                    ELSE x END,
               CASE WHEN ((y >> i) & 1) = 0
                    THEN CASE WHEN ((x >> i) & 1) = 1
                              THEN (CAST(1 AS BIGINT) << i) - 1 - x ELSE x END
                    ELSE y END,
               d + (CAST(1 AS BIGINT) << i) * (CAST(1 AS BIGINT) << i)
                   * xor(3 * ((x >> i) & 1), (y >> i) & 1)
        FROM walk WHERE i >= 0
    ),
    keyed AS (SELECT x0, y0, d AS hkey FROM walk WHERE i = -1),
    hops AS (
        SELECT hkey,
               abs(x0 - lead(x0) OVER w) + abs(y0 - lead(y0) OVER w) AS jump
        FROM keyed WINDOW w AS (ORDER BY hkey)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(hkey) AS BIGINT) AS hkey_sum,
           CAST(count(*) FILTER (WHERE jump = 1) AS BIGINT) AS n_unit_jumps,
           CAST(max(jump) AS BIGINT) AS max_jump,
           round(sum(jump) / (count(*) - 1.0) * 1000000.0) / 1000000.0 + 0.0
               AS avg_jump
    FROM hops
    """,
    "Hilbert-curve clustering key verified value-by-value against a "
    "recursive-CTE xy2d twin (64x64 grid from event cells), plus the "
    "locality property as data: unit-jump count / max / average "
    "Manhattan step between curve-consecutive present cells",
    tags=("layout", "clustering"),
)
def layout_hilbert_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The key derivation is one whole-stage-codegen projection per bit
    over the distinct-cell aggregate (with_hilbert_key's plan contract);
    the locality walk is a window over the ≤4096-row cell table —
    bounded by the 64×64 grid LITERAL in the query, not by data volume
    (the plan-invariant allowlist entry cites this). At 100 TB the same
    key feeds write_hilbert_clustered's repartitionByRange: the only
    data-sized step is the distinct-cell aggregate."""
    from pyspark.sql import Window as W

    from ..operators.layout import with_hilbert_key

    cells = (
        table(spark, sf_dir, "events")
        .select(
            (F.col("user_id") % 64).cast("long").alias("x0"),
            (F.col("event_id") % 64).cast("long").alias("y0"),
        )
        .distinct()
    )
    keyed = with_hilbert_key(cells, "x0", "y0", bits=6, out="hkey")
    w = W.orderBy("hkey")
    hops = keyed.select(
        "hkey",
        (
            F.abs(F.col("x0") - F.lead("x0").over(w))
            + F.abs(F.col("y0") - F.lead("y0").over(w))
        ).alias("jump"),
    )
    return hops.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("hkey").cast("bigint").alias("hkey_sum"),
        F.sum((F.col("jump") == 1).cast("int")).cast("bigint").alias("n_unit_jumps"),
        F.max("jump").cast("bigint").alias("max_jump"),
        dround(F.sum("jump") / (F.count(F.lit(1)) - 1.0), 6).alias("avg_jump"),
    )


#: explicit per-file cluster cells for the prune gate: 4 value ranges
#: x 2 event_type groups = 8 files, every cell non-empty at every
#: tested SF (checked 0.001/0.01/0.1, min cell 5 rows), so the file
#: count and the pruned-file count are literals the oracle can state.
_PRUNE_VRANGES = ((0.0, 50.0), (50.0, 100.0), (100.0, 200.0), (200.0, None))
_PRUNE_TGROUPS = (("a", "o"), ("o", "z"))  # {click,error} | {purchase,signup,view}
_PRUNE_LO, _PRUNE_HI = 60.0, 110.0  # overlaps v-ranges 2,3
_PRUNE_TLO, _PRUNE_THI = "a", "o"  # overlaps t-group 1 only


@register(
    "layout_manifest_prune_read",
    # Two-column file skipping on a manifest table whose per-file
    # min/max ride the COMMIT RECORD (written by append_files at write
    # time, r11): 8 files clustered on (value, event_type), a
    # [60,110] x ['a','o'] box read plans only the 2 files whose
    # committed boxes overlap BOTH ranges (value ranges 50-100 and
    # 100-200, type group {click,error}). The file counts are literals
    # BY CONSTRUCTION (explicit cell boundaries, every cell non-empty
    # at every tested SF); the data columns are the plain SQL filter
    # over events, so the oracle checks the pruning arithmetic, that
    # the commit carried stats for every live file and both columns,
    # and that pruning lost no rows.
    f"""
    SELECT CAST(8 AS BIGINT) AS n_files_live,
           CAST(2 AS BIGINT) AS n_files_scanned,
           CAST(8 AS BIGINT) AS n_files_stats_carried,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round((sum(value)) * 100.0) / 100.0 + 0.0 AS sum_value
    FROM events
    WHERE value BETWEEN {_PRUNE_LO} AND {_PRUNE_HI}
      AND event_type BETWEEN '{_PRUNE_TLO}' AND '{_PRUNE_THI}'
    """,
    "manifest-table two-column file skipping with commit-carried "
    "stats: (value, event_type)-clustered files appended through "
    "append_files, min/max boxes in the manifest commit prune 6 of 8 "
    "files out of the plan entirely; row results hash-checked against "
    "the unpruned filter semantics",
    tags=("layout", "pruning"),
)
def layout_manifest_prune_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the r11 write-time stats path end-to-end under the
    oracle gate: 8 (value x event_type)-clustered files are appended
    through ``append_files`` (each commit records the file's column
    min/max; later commits carry earlier entries forward), then
    ``read_table(prune=[(c1, ...), (c2, ...)])`` intersects BOTH
    ranges against the COMMITTED boxes — non-overlapping files never
    enter the plan (no tasks, no footer reads anywhere: the gate
    asserts every live file's stats came from the manifest), and the
    row filter on top makes the result EXACTLY the unpruned filtered
    read. At 100 TB this is the Iceberg/Delta stats-manifest scan over
    a Hilbert/z-order-clustered table — tight per-file boxes on BOTH
    dims are precisely what those writers exist to produce."""
    import json
    import pathlib
    import shutil
    import tempfile

    from ..operators.layout import (
        _MANIFEST,
        append_files,
        prune_file_list,
        read_table,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="manifest_prune_gate_")
    shutil.rmtree(work)  # append_files creates the table dir itself
    try:
        for vlo, vhi in _PRUNE_VRANGES:
            for tlo, thi in _PRUNE_TGROUPS:
                cond = (
                    (F.col("value") >= vlo)
                    & (F.col("event_type") >= tlo)
                    & (F.col("event_type") < thi)
                )
                if vhi is not None:
                    cond = cond & (F.col("value") < vhi)
                append_files(spark, work, ev.filter(cond).coalesce(1))
        doc = json.loads((pathlib.Path(work) / _MANIFEST).read_text())
        live = sorted(doc["files"])
        carried = sum(
            1
            for n in live
            if doc.get("stats", {}).get(n, {}).get("value")
            and doc["stats"][n].get("event_type")
        )
        scanned = prune_file_list(
            work,
            prune_file_list(work, live, "value", _PRUNE_LO, _PRUNE_HI),
            "event_type",
            _PRUNE_TLO,
            _PRUNE_THI,
        )
        pruned = read_table(
            spark,
            work,
            prune=[
                ("value", _PRUNE_LO, _PRUNE_HI),
                ("event_type", _PRUNE_TLO, _PRUNE_THI),
            ],
        ).filter(
            F.col("value").between(_PRUNE_LO, _PRUNE_HI)
            & F.col("event_type").between(_PRUNE_TLO, _PRUNE_THI)
        )
        row = pruned.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            dround(F.sum("value"), 2).alias("sum_value"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                len(live),
                len(scanned),
                carried,
                row["n_rows"],
                row["n_users"],
                float(row["sum_value"]),
            )
        ],
        "n_files_live bigint, n_files_scanned bigint, "
        "n_files_stats_carried bigint, n_rows bigint, "
        "n_users bigint, sum_value double",
    )


@register(
    "layout_snapshot_diff_read",
    # Change-data-feed over a manifest table's version history: append
    # A (value<100), append B (value>=100), compact, DELETE value>=200.
    # read_changes between consecutive snapshots must produce exactly
    # B's rows as inserts (file-level fast path: appends-only range),
    # NOTHING across the compaction (files rewrote, rows didn't -- the
    # row-level fallback proves it), and exactly the value>=200 rows
    # as deletes. All six outputs are plain filters over events, so
    # the oracle states them directly; the compaction row is the
    # literal 0 BY CONSTRUCTION.
    """
    SELECT CAST(count(*) FILTER (WHERE value >= 100) AS BIGINT)
               AS n_ins_append,
           round((sum(value) FILTER (WHERE value >= 100)) * 100.0)
               / 100.0 + 0.0 AS sum_ins_append,
           CAST(0 AS BIGINT) AS n_del_append,
           CAST(0 AS BIGINT) AS n_chg_compact,
           CAST(count(*) FILTER (WHERE value >= 200) AS BIGINT)
               AS n_del_delete,
           round((sum(value) FILTER (WHERE value >= 200)) * 100.0)
               / 100.0 + 0.0 AS sum_del_delete
    FROM events
    """,
    "snapshot-diff / change-data-feed read: appended rows surface as "
    "inserts via the file-level fast path, a compaction-only range "
    "diffs to empty via the row-level exceptAll fallback, deleted "
    "rows surface as deletes; counts and value sums hash-checked "
    "against direct filters",
    tags=("layout", "cdf"),
)
def layout_snapshot_diff_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::read_changes end-to-end under the
    oracle gate, across the three commit kinds an incremental consumer
    meets: a pure append (fast path: only the NEW files are scanned --
    no old-snapshot read at all), a compaction (rewrites every file,
    changes no row: the row-level exceptAll fallback returns empty),
    and a DELETE (rewritten survivors + dropped rows: deletes surface
    row-level). At 100 TB the fast path is the one that matters -- a
    streaming landing zone is appends-only, so each incremental read
    costs exactly the new files."""
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        compact_table,
        delete_rows,
        manifest_versions,
        read_changes,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="snapshot_diff_gate_")
    shutil.rmtree(work)  # append_files creates the table dir itself
    try:
        append_files(spark, work, ev.filter(F.col("value") < 100).coalesce(2))
        v_a = manifest_versions(work)[-1]
        append_files(spark, work, ev.filter(F.col("value") >= 100).coalesce(2))
        v_b = manifest_versions(work)[-1]
        compact_table(spark, work)
        v_c = manifest_versions(work)[-1]
        delete_rows(spark, work, F.col("value") >= 200, retain=True)
        v_d = manifest_versions(work)[-1]

        chg_append = read_changes(spark, work, v_a, v_b)
        chg_compact = read_changes(spark, work, v_b, v_c)
        chg_delete = read_changes(spark, work, v_c, v_d)
        ins = chg_append.filter(F.col("_change_type") == "insert")
        row_a = ins.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("value"), 2).alias("s"),
        ).collect()[0]
        n_del_append = chg_append.filter(
            F.col("_change_type") == "delete"
        ).count()
        n_chg_compact = chg_compact.count()
        dels = chg_delete.filter(F.col("_change_type") == "delete")
        row_d = dels.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("value"), 2).alias("s"),
        ).collect()[0]
        n_ins_delete = chg_delete.filter(
            F.col("_change_type") == "insert"
        ).count()
        assert n_ins_delete == 0, "DELETE range must produce no inserts"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                row_a["n"],
                float(row_a["s"]),
                n_del_append,
                n_chg_compact,
                row_d["n"],
                float(row_d["s"]),
            )
        ],
        "n_ins_append bigint, sum_ins_append double, "
        "n_del_append bigint, n_chg_compact bigint, "
        "n_del_delete bigint, sum_del_delete double",
    )


@register(
    "layout_incremental_mart_from_changes",
    # The CDF CONSUMER pattern: a per-event_type (count, sum) mart is
    # maintained INCREMENTALLY -- full aggregate at the first snapshot,
    # then one delta aggregate over read_changes() across an append AND
    # a delete (inserts add, deletes subtract) -- and must equal the
    # full recompute of the final snapshot exactly. The oracle states
    # the final mart directly from events (append A = value < 150,
    # append B = value >= 150, delete value >= 250), and the all_match
    # flag is the literal TRUE by construction: exact for the bigint
    # counts, and for the double sums because both sides round to the
    # SAME 2 dp grid before comparing.
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round((sum(value)) * 100.0) / 100.0 + 0.0 AS total_value,
           TRUE AS matches_full_recompute
    FROM events
    WHERE value < 250
    GROUP BY event_type
    """,
    "incremental materialized mart maintained from read_changes "
    "deltas across an append and a delete; proven equal to the full "
    "recompute of the final snapshot (counts exact, sums on the "
    "common 2dp grid)",
    tags=("layout", "cdf", "incremental"),
)
def layout_incremental_mart_from_changes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Why a downstream pipeline wants read_changes: the mart is
    updated with ONE aggregate over the change feed (insert rows add,
    delete rows subtract -- counts via +/-1, sums via +/-value)
    instead of re-reading the table. At 100 TB the feed for an
    appends-only landing zone is just the new files (read_changes'
    fast path), so maintenance cost tracks the DELTA, not the table.
    This gate spans a delete too, exercising the row-level fallback
    feed, and proves the maintained mart equals the full recompute."""
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        delete_rows,
        manifest_versions,
        read_changes,
        read_table,
    )

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    work = tempfile.mkdtemp(prefix="incr_mart_gate_")
    shutil.rmtree(work)
    try:
        append_files(spark, work, ev.filter(F.col("value") < 150).coalesce(2))
        v1 = manifest_versions(work)[-1]
        append_files(spark, work, ev.filter(F.col("value") >= 150).coalesce(2))
        delete_rows(spark, work, F.col("value") >= 250, retain=True)
        v3 = manifest_versions(work)[-1]

        base = (
            read_table(spark, work, version=v1)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n0"),
                F.sum("value").alias("s0"),
            )
        )
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        delta = (
            read_changes(spark, work, v1, v3)
            .groupBy("event_type")
            .agg(
                F.sum(sign).cast("bigint").alias("dn"),
                F.sum(sign * F.col("value")).alias("ds"),
            )
        )
        maintained = (
            base.join(delta, "event_type", "full_outer")
            .select(
                "event_type",
                (
                    F.coalesce("n0", F.lit(0)) + F.coalesce("dn", F.lit(0))
                ).cast("bigint").alias("n"),
                dround(
                    F.coalesce("s0", F.lit(0.0)) + F.coalesce("ds", F.lit(0.0)),
                    2,
                ).alias("total_value"),
            )
            .filter(F.col("n") > 0)
        )
        full = (
            read_table(spark, work, version=v3)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_f"),
                dround(F.sum("value"), 2).alias("s_f"),
            )
        )
        out = maintained.join(full, "event_type", "full_outer").select(
            "event_type",
            "n",
            "total_value",
            (
                (F.col("n") == F.col("n_f"))
                & (F.col("total_value") == F.col("s_f"))
            ).alias("matches_full_recompute"),
        )
        rows = out.collect()  # bounded: one row per event_type (5)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "event_type string, n bigint, total_value double, "
        "matches_full_recompute boolean",
    )


@register(
    "layout_optimize_cluster_prune",
    # OPTIMIZE ... ZORDER BY, end to end: 8 round-robin (unclustered)
    # files -- every one overlaps any value band, so pruning keeps all
    # 8 (the literal baseline) -- then compact_table(cluster_by=
    # ['value']) rewrites them range-clustered, and the SAME pruned
    # read now plans strictly fewer files (clustered files are
    # value-DISJOINT, so a narrow band can't touch them all). Counts
    # of the clustered read's file list are data-placement-dependent,
    # so the oracle states the INVARIANTS (8 before, 8 scanned before,
    # improvement TRUE) plus the row results as a plain filter.
    """
    SELECT CAST(8 AS BIGINT) AS n_files_unclustered,
           CAST(8 AS BIGINT) AS n_scanned_unclustered,
           TRUE AS clustered_prune_improves,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round((sum(value)) * 100.0) / 100.0 + 0.0 AS sum_value
    FROM events WHERE value BETWEEN 60.0 AND 110.0
    """,
    "OPTIMIZE with clustering: a round-robin table prunes nothing "
    "(all 8 files overlap the band); compact_table(cluster_by) "
    "rewrites it range-clustered and the same two-sided prune plans "
    "strictly fewer files, with row results hash-checked",
    tags=("layout", "pruning", "compaction"),
)
def layout_optimize_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why OPTIMIZE takes a clustering spec: compaction is the one
    moment the whole table is rewritten anyway, so it is free to also
    SORT it -- range-partition + sortWithinPartitions gives each new
    file a tight min/max box, the commit carries those boxes
    (added=), and every subsequent selective read prunes from the
    manifest alone. This is Delta's OPTIMIZE ZORDER / Iceberg's
    sort-order rewrite expressed as repartitionByRange, the plan a
    1000-executor cluster wants (the sort is per-file, the partition
    exchange is the only corpus-wide move)."""
    import pathlib
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        compact_table,
        ensure_manifest,
        prune_file_list,
        read_table,
    )

    lo, hi = 60.0, 110.0
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="optimize_cluster_gate_")
    shutil.rmtree(work)
    try:
        append_files(spark, work, ev.repartition(8))
        live = ensure_manifest(work)
        scanned_before = prune_file_list(work, live, "value", lo, hi)
        p = pathlib.Path(work)
        total = sum((p / n).stat().st_size for n in live)
        stats = compact_table(
            spark, work, target_file_bytes=max(total // 8, 1),
            cluster_by=["value"],
        )
        live2 = ensure_manifest(work)
        scanned_after = prune_file_list(work, live2, "value", lo, hi)
        improves = len(scanned_after) < len(scanned_before) and stats[
            "n_files_after"
        ] > 1
        pruned = read_table(spark, work, prune=("value", lo, hi)).filter(
            F.col("value").between(lo, hi)
        )
        row = pruned.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            dround(F.sum("value"), 2).alias("sum_value"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                len(live),
                len(scanned_before),
                improves,
                row["n_rows"],
                row["n_users"],
                float(row["sum_value"]),
            )
        ],
        "n_files_unclustered bigint, n_scanned_unclustered bigint, "
        "clustered_prune_improves boolean, n_rows bigint, "
        "n_users bigint, sum_value double",
    )


@register(
    "layout_deletion_vector_read",
    # Merge-on-read DELETE (Delta deletion vectors / Iceberg positional
    # delete files): two DV deletes ('click', then 'error') rewrite ZERO
    # data files -- matched (file, row-position) pairs land in one small
    # DV parquet each and the manifest maps affected files to them; the
    # read path anti-joins the broadcast dead-position set inside the
    # scan. OPTIMIZE (compact_table) then MATERIALIZES the deletes and
    # must reproduce the same aggregates. The oracle states the final
    # live content directly; n_files_rewritten=0 and n_dv_parquets=2
    # are literals BY CONSTRUCTION of the mode="dv" contract, and
    # post_optimize_match is TRUE because both sides round to the same
    # 2-dp grid before comparing.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows_live,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value) * 100.0) / 100.0 + 0.0 AS sum_value,
           (SELECT CAST(count(*) AS BIGINT) FROM events
             WHERE event_type IN ('click', 'error')) AS n_deleted,
           CAST(0 AS BIGINT) AS n_files_rewritten,
           CAST(2 AS BIGINT) AS n_dv_parquets,
           TRUE AS post_optimize_match
    FROM events
    WHERE event_type NOT IN ('click', 'error')
    """,
    "deletion-vector (merge-on-read) DELETE: two row-level deletes "
    "rewrite zero data files (positions land in DV parquet sidecars "
    "mapped by the manifest commit; reads anti-join the broadcast "
    "dead set inside the scan), and OPTIMIZE materializes them to "
    "the same aggregates",
    tags=("layout", "dv"),
)
def layout_deletion_vector_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::delete_rows(mode="dv") end-to-end
    under the oracle gate: the DELETE cost model a 100 TB table needs
    (O(matched rows) DV write instead of O(affected files) rewrite --
    at that scale a targeted delete touching every file would rewrite
    the whole table under copy-on-write), the union of a second DELETE
    on the same files, the DV-applied scan, and the OPTIMIZE pass that
    converts merge-on-read back to copy-on-write. Cites the Delta
    deletion-vector / Iceberg positional-delete-file design."""
    import pathlib
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        compact_table,
        delete_rows,
        read_table,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="dv_gate_")
    shutil.rmtree(work)  # append_files creates the table dir itself
    try:
        for i in range(4):
            append_files(
                spark, work, ev.filter(F.col("user_id") % 4 == i).coalesce(1)
            )
        st1 = delete_rows(spark, work, "event_type = 'click'", mode="dv")
        st2 = delete_rows(spark, work, "event_type = 'error'", mode="dv")
        n_dv = len(list(pathlib.Path(work).glob("dv-*.parquet")))

        def _agg(df):
            r = df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count_distinct("user_id").cast("bigint").alias("n_users"),
                dround(F.sum("value"), 2).alias("sum_value"),
            ).collect()[0]
            return (r["n_rows"], r["n_users"], float(r["sum_value"]))

        before = _agg(read_table(spark, work))
        compact_table(spark, work, target_file_bytes=1 << 30)
        after = _agg(read_table(spark, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                after[0],
                after[1],
                after[2],
                int(st1["rows_deleted"] + st2["rows_deleted"]),
                int(st1["n_files_rewritten"] + st2["n_files_rewritten"]),
                n_dv,
                before == after,
            )
        ],
        "n_rows_live bigint, n_users bigint, sum_value double, "
        "n_deleted bigint, n_files_rewritten bigint, "
        "n_dv_parquets bigint, post_optimize_match boolean",
    )


@register(
    "layout_bloom_point_lookup",
    # Per-file bloom-filter index (Delta's CREATE BLOOMFILTER INDEX /
    # parquet column blooms lifted to the manifest): 16 files split by
    # o_custkey % 16, so every file's min/max range covers any probe --
    # range stats can skip NOTHING (n_kept_by_range = 16 is the literal
    # proof: a MID-RANGE probe key sits inside every file's [min, max]
    # box) -- while the bloom keeps exactly the ONE file whose hash
    # bucket holds the probed key (deterministic xxhash64 bitsets; no
    # false positive for this data at the 65536-bit/7-hash sizing,
    # verified at sf0.001/0.01/0.1 -- k=3 produced one FP at sf0.1's
    # ~625 keys/file; k=7 puts the per-file FP near 1e-8 there).
    # The aggregate over the point-pruned read must
    # equal the plain filter; the probe key is the smallest existing
    # custkey at or above the integer midpoint of the key range, stated
    # identically on both sides.
    """
    WITH probe AS (
        SELECT min(o_custkey) AS k FROM orders
        WHERE o_custkey >= (SELECT (min(o_custkey) + max(o_custkey)) // 2
                            FROM orders)
    )
    SELECT CAST(16 AS BIGINT) AS n_files_live,
           CAST(16 AS BIGINT) AS n_kept_by_range,
           CAST(1 AS BIGINT) AS n_kept_by_bloom,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice) * 100.0) / 100.0 + 0.0 AS sum_price
    FROM orders
    WHERE o_custkey = (SELECT k FROM probe)
    """,
    "bloom-index point lookup: a high-cardinality key probe skips "
    "15 of 16 files from manifest metadata alone where min/max range "
    "stats can skip none (the layout is hash-split, every file's "
    "range covers the probe); result equals the plain filter",
    tags=("layout", "bloom"),
)
def layout_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::create_bloom_index +
    read_table(point=) end-to-end under the oracle gate: the file-
    skipping primitive for lookup keys the layout is NOT clustered on.
    At 100 TB this is the difference between a point lookup issuing
    16 object-store GETs and issuing ONE -- range stats are useless on
    a hash-distributed key (every file covers the probe), and parquet's
    own row-group blooms only help AFTER a file's footer is fetched;
    the manifest-level bitset decides from metadata already in hand."""
    from ..operators.layout import (
        append_files,
        create_bloom_index,
        ensure_manifest,
        prune_file_list,
        prune_files_bloom,
        read_table,
    )
    import shutil
    import tempfile

    od = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    mn, mx = od.agg(F.min("o_custkey"), F.max("o_custkey")).collect()[0]
    probe = od.filter(F.col("o_custkey") >= (mn + mx) // 2).agg(
        F.min("o_custkey")
    ).collect()[0][0]
    work = tempfile.mkdtemp(prefix="bloom_gate_")
    shutil.rmtree(work)  # append_files creates the table dir itself
    try:
        for i in range(16):
            append_files(
                spark, work, od.filter(F.col("o_custkey") % 16 == i).coalesce(1)
            )
        create_bloom_index(spark, work, "o_custkey", m_bits=65536, k=7)
        live = ensure_manifest(work)
        kept_range = prune_file_list(work, live, "o_custkey", probe, probe)
        kept_bloom = prune_files_bloom(spark, work, live, "o_custkey", probe)
        row = (
            read_table(spark, work, point=("o_custkey", probe))
            .filter(F.col("o_custkey") == probe)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                dround(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
            .collect()[0]
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                len(live),
                len(kept_range),
                len(kept_bloom),
                row["n_orders"],
                float(row["sum_price"]),
            )
        ],
        "n_files_live bigint, n_kept_by_range bigint, "
        "n_kept_by_bloom bigint, n_orders bigint, sum_price double",
    )


@register(
    "layout_cdf_update_images",
    # Delta CDF's full four-type vocabulary: read_changes(keys=) pairs
    # the row-level diff on the record key, so a MERGE's replaced rows
    # surface as update_preimage (old values) + update_postimage (new
    # values) while pure inserts stay 'insert'. The oracle states each
    # cohort directly from customer: updates = the BUILDING segment
    # (acctbal bumped +100 by the merge source), inserts = the 2
    # literal fresh keys, deletes = 0 by construction.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_pre,
           CAST(count(*) AS BIGINT) AS n_post,
           CAST(2 AS BIGINT) AS n_ins,
           CAST(0 AS BIGINT) AS n_del,
           round(sum(c_acctbal) * 100.0) / 100.0 + 0.0 AS sum_pre,
           round((sum(c_acctbal) + 100.0 * count(*)) * 100.0) / 100.0
               + 0.0 AS sum_post
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
    "change-data-feed update pre/post images: a MERGE's replaced rows "
    "pair on the record key into update_preimage (old values) and "
    "update_postimage (new values); fresh keys stay inserts; sums of "
    "the pre and post images hash-checked against the source segment",
    tags=("layout", "cdf"),
)
def layout_cdf_update_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives read_changes(keys=) end-to-end under the oracle gate:
    the UPDATE half of the CDF contract (a downstream audit/merge-apply
    consumer needs "what did this row look like before", not a
    delete+insert it must re-pair itself). Pairing is two semi/anti
    equi-joins against the changed-key intersection — no extra scan."""
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        manifest_versions,
        merge_rows,
        read_changes,
    )

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    work = tempfile.mkdtemp(prefix="cdf_upd_gate_")
    shutil.rmtree(work)
    try:
        append_files(spark, work, cust.coalesce(4))
        v0 = manifest_versions(work)[-1]
        src = cust.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
            "c_acctbal", F.col("c_acctbal") + F.lit(100.0)
        )
        fresh = spark.createDataFrame(
            [(-1, "NEW", 10.0), (-2, "NEW", 20.0)],
            "c_custkey bigint, c_mktsegment string, c_acctbal double",
        )
        merge_rows(
            spark, work, src.unionByName(fresh), on="c_custkey", retain=True
        )
        v1 = manifest_versions(work)[-1]
        ch = read_changes(spark, work, v0, v1, keys=["c_custkey"])
        row = ch.agg(
            F.count(F.when(F.col("_change_type") == "update_preimage", 1))
            .cast("bigint")
            .alias("n_pre"),
            F.count(F.when(F.col("_change_type") == "update_postimage", 1))
            .cast("bigint")
            .alias("n_post"),
            F.count(F.when(F.col("_change_type") == "insert", 1))
            .cast("bigint")
            .alias("n_ins"),
            F.count(F.when(F.col("_change_type") == "delete", 1))
            .cast("bigint")
            .alias("n_del"),
            dround(
                F.sum(
                    F.when(
                        F.col("_change_type") == "update_preimage",
                        F.col("c_acctbal"),
                    )
                ),
                2,
            ).alias("sum_pre"),
            dround(
                F.sum(
                    F.when(
                        F.col("_change_type") == "update_postimage",
                        F.col("c_acctbal"),
                    )
                ),
                2,
            ).alias("sum_post"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                row["n_pre"],
                row["n_post"],
                row["n_ins"],
                row["n_del"],
                float(row["sum_pre"]),
                float(row["sum_post"]),
            )
        ],
        "n_pre bigint, n_post bigint, n_ins bigint, n_del bigint, "
        "sum_pre double, sum_post double",
    )


@register(
    "layout_wap_audit_publish",
    # Write-audit-publish (Iceberg WAP): two batches land as REGISTERED
    # BUT INVISIBLE staged files; their audits run against exactly the
    # staged bytes; the passing batch publishes via ONE metadata commit
    # (no data copied), the failing batch discards without the table
    # ever seeing it. The oracle states the final content directly:
    # base (value < 100) + published (100 <= value < 200); the
    # discarded cohort (value >= 200) never lands. n_before/audit
    # literals are BY CONSTRUCTION of the staging contract.
    """
    SELECT CAST(count(*) FILTER (WHERE value < 100) AS BIGINT)
               AS n_before,
           CAST(count(*) FILTER (WHERE value >= 100 AND value < 200)
                AS BIGINT) AS n_staged_good,
           TRUE AS staged_invisible,
           CAST(count(*) FILTER (WHERE value >= 200) AS BIGINT)
               AS n_discarded,
           CAST(count(*) FILTER (WHERE value < 200) AS BIGINT) AS n_after,
           round((sum(value) FILTER (WHERE value < 200)) * 100.0) / 100.0
               + 0.0 AS sum_after
    FROM events
    """,
    "write-audit-publish staging: batches land invisible, audits read "
    "exactly the staged bytes, publish is one metadata commit and "
    "discard leaves no trace; final content hash-checked against the "
    "direct filter",
    tags=("layout", "wap"),
)
def layout_wap_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives stage_append/read_staged/publish_staged/discard_staged
    end-to-end under the oracle gate — the quality-gated ingest shape a
    100 TB pipeline needs: data lands ONCE in place, visibility is a
    metadata bit flipped after the audit, and a failed audit never
    contaminates readers (no quarantine copy, no rewrite)."""
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        discard_staged,
        publish_staged,
        read_staged,
        read_table,
        stage_append,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="wap_gate_")
    shutil.rmtree(work)
    try:
        append_files(spark, work, ev.filter(F.col("value") < 100).coalesce(2))
        stage_append(
            spark,
            work,
            ev.filter((F.col("value") >= 100) & (F.col("value") < 200)).coalesce(1),
            audit_id="good",
        )
        stage_append(
            spark, work, ev.filter(F.col("value") >= 200).coalesce(1), audit_id="bad"
        )
        n_before = read_table(spark, work).count()
        n_staged_good = read_staged(spark, work, "good").count()
        staged_invisible = (
            n_before
            == ev.filter(F.col("value") < 100).count()
        )
        n_discarded = read_staged(spark, work, "bad").count()
        publish_staged(spark, work, "good")  # audit passed
        discard_staged(work, "bad")  # audit failed
        row = read_table(spark, work).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_after"),
            dround(F.sum("value"), 2).alias("sum_after"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                n_before,
                n_staged_good,
                staged_invisible,
                n_discarded,
                row["n_after"],
                float(row["sum_after"]),
            )
        ],
        "n_before bigint, n_staged_good bigint, staged_invisible boolean, "
        "n_discarded bigint, n_after bigint, sum_after double",
    )


@register(
    "layout_check_constraints",
    # Table CHECK constraints (Delta ADD CONSTRAINT): writes violating
    # a registered expression are rejected WHOLE before anything is
    # staged or committed -- the two booleans are literals BY
    # CONSTRUCTION of that contract (the bad batch raised; the table
    # count was unchanged after the rejection), and the final content
    # is the base events + exactly the 2 valid literal rows.
    """
    SELECT TRUE AS constraint_blocks,
           TRUE AS whole_batch_rejected,
           CAST(count(*) + 2 AS BIGINT) AS n_rows_final,
           round((sum(value) + 7.5) * 100.0) / 100.0 + 0.0 AS sum_value_final
    FROM events
    """,
    "CHECK constraint enforcement: a batch with one violating row is "
    "rejected whole across append/stage/merge; valid writes land; "
    "final count and sum hash-checked",
    tags=("layout", "constraints"),
)
def layout_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives add_constraint + per-write enforcement end-to-end under
    the oracle gate: the schema-quality half of the ingest story
    (WAP gates a batch on an ARBITRARY audit job; constraints are the
    declarative always-on subset every write pays one combined
    aggregate for). SQL CHECK semantics: FALSE rejects, NULL passes."""
    import shutil
    import tempfile

    from ..operators.layout import (
        ConstraintViolationError,
        add_constraint,
        append_files,
        read_table,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="check_gate_")
    shutil.rmtree(work)
    try:
        append_files(spark, work, ev.coalesce(2))
        add_constraint(spark, work, "value_nonneg", "value >= 0")
        n0 = read_table(spark, work).count()
        bad = spark.createDataFrame(
            [(1, "x", -5.0), (2, "x", 2.5)],
            "user_id bigint, event_type string, value double",
        )
        blocked = False
        try:
            append_files(spark, work, bad.coalesce(1))
        except ConstraintViolationError:
            blocked = True
        whole_batch_rejected = read_table(spark, work).count() == n0
        good = spark.createDataFrame(
            [(3, "y", 2.5), (4, "y", 5.0)],
            "user_id bigint, event_type string, value double",
        )
        append_files(spark, work, good.coalesce(1))
        row = read_table(spark, work).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("value"), 2).alias("s"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [(blocked, whole_batch_rejected, row["n"], float(row["s"]))],
        "constraint_blocks boolean, whole_batch_rejected boolean, "
        "n_rows_final bigint, sum_value_final double",
    )


@register(
    "layout_metadata_tables",
    # Queryable metadata tables (Iceberg's db.table.snapshots /
    # db.table.files): the commit ladder is append(2 files) ->
    # append(1 file) -> DV delete (files unchanged, 1 file gains a DV)
    # -> compact (all swap for 1, DV materialized). Every structural
    # column is a literal BY CONSTRUCTION of that ladder (v1 is the
    # empty adoption commit); the row count/sum tie the metadata to
    # the data: current content = events with value < 150 (the DV
    # delete removed value >= 150).
    """
    SELECT CAST(5 AS BIGINT) AS n_versions,
           CAST(2 AS BIGINT) AS n_files_v2,
           CAST(3 AS BIGINT) AS n_files_v3,
           CAST(1 AS BIGINT) AS n_dv_files_v4,
           CAST(1 AS BIGINT) AS n_files_current,
           TRUE AS all_have_stats,
           CAST(count(*) FILTER (WHERE value < 150) AS BIGINT)
               AS n_rows_current,
           round((sum(value) FILTER (WHERE value < 150)) * 100.0) / 100.0
               + 0.0 AS sum_value_current
    FROM events
    """,
    "metadata tables: table_snapshots exposes the version log "
    "(adoption, appends, a DV delete, a compaction) and table_files "
    "the current inventory, with the current content hash-checked "
    "against the direct filter",
    tags=("layout", "metadata"),
)
def layout_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives table_snapshots/table_files end-to-end under the oracle
    gate: the operational observability surface (what changed when,
    how many files, where the DV debt is) that a 100 TB table's
    maintenance jobs — compaction triggers, vacuum policies, DV
    materialization thresholds — read INSTEAD of listing the object
    store. Driver-side metadata only; no data file is opened."""
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        compact_table,
        delete_rows,
        read_table,
        table_files,
        table_snapshots,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="meta_gate_")
    shutil.rmtree(work)
    try:
        append_files(spark, work, ev.filter(F.col("value") < 100).repartition(2))
        append_files(spark, work, ev.filter(F.col("value") >= 100).coalesce(1))
        delete_rows(spark, work, "value >= 150", mode="dv")
        compact_table(spark, work, target_file_bytes=1 << 30)
        snaps = {
            r["version"]: r for r in table_snapshots(spark, work).collect()
        }
        files = table_files(spark, work).collect()
        row = read_table(spark, work).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("value"), 2).alias("s"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                len(snaps),
                snaps[2]["n_files"],
                snaps[3]["n_files"],
                snaps[4]["n_files_with_dv"],
                snaps[5]["n_files"],
                all(r["has_stats"] and r["size_bytes"] > 0 for r in files),
                row["n"],
                float(row["s"]),
            )
        ],
        "n_versions bigint, n_files_v2 bigint, n_files_v3 bigint, "
        "n_dv_files_v4 bigint, n_files_current bigint, "
        "all_have_stats boolean, n_rows_current bigint, "
        "sum_value_current double",
    )


@register(
    "layout_incremental_optimize",
    # Incremental OPTIMIZE (Delta auto-compaction / liquid-clustering
    # maintenance): after a clustered rewrite, three late appends are
    # re-clustered by ONE compact_incremental pass that rewrites
    # EXACTLY those three files -- the clustered bulk keeps its file
    # names (bulk_untouched) and the clustering state covers the whole
    # table again (state_covers_all). Literals BY CONSTRUCTION of the
    # three coalesce(1) appends; content = events with value < 200
    # (base value < 100 + the three appended slices).
    """
    SELECT CAST(3 AS BIGINT) AS n_rewritten,
           TRUE AS bulk_untouched,
           TRUE AS state_covers_all,
           CAST(count(*) FILTER (WHERE value < 200) AS BIGINT) AS n_rows,
           round((sum(value) FILTER (WHERE value < 200)) * 100.0) / 100.0
               + 0.0 AS sum_value
    FROM events
    """,
    "incremental OPTIMIZE: only files appended since the last "
    "clustering pass are rewritten into the recorded cluster layout; "
    "the clustered bulk is byte-untouched — maintenance cost is "
    "O(new data), not O(table)",
    tags=("layout", "optimize"),
)
def layout_incremental_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives compact_incremental end-to-end under the oracle gate:
    the steady-state maintenance shape for a 100 TB clustered table —
    a full OPTIMIZE is O(table) every run; this pass is O(new files),
    adding one clustered LSM-style run whose per-file min/max boxes
    keep read_table(prune=) skipping."""
    import json
    import pathlib
    import shutil
    import tempfile

    from ..operators.layout import (
        _MANIFEST,
        append_files,
        compact_incremental,
        compact_table,
        read_table,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="incopt_gate_")
    shutil.rmtree(work)
    try:
        append_files(spark, work, ev.filter(F.col("value") < 100).repartition(4))
        compact_table(
            spark, work, target_file_bytes=256 * 1024, cluster_by=["value"]
        )
        bulk = set(
            json.loads((pathlib.Path(work) / _MANIFEST).read_text())[
                "clustered"
            ]["files"]
        )
        for lo, hi in ((100, 120), (120, 150), (150, 200)):
            append_files(
                spark,
                work,
                ev.filter(
                    (F.col("value") >= lo) & (F.col("value") < hi)
                ).coalesce(1),
            )
        st = compact_incremental(spark, work, target_file_bytes=1 << 30)
        doc = json.loads((pathlib.Path(work) / _MANIFEST).read_text())
        bulk_untouched = bulk <= set(doc["files"])
        state_covers_all = set(doc["clustered"]["files"]) == set(doc["files"])
        row = read_table(spark, work).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("value"), 2).alias("s"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                int(st["n_files_rewritten"]),
                bulk_untouched,
                state_covers_all,
                row["n"],
                float(row["s"]),
            )
        ],
        "n_rewritten bigint, bulk_untouched boolean, "
        "state_covers_all boolean, n_rows bigint, sum_value double",
    )


@register(
    "layout_rename_column_metadata_only",
    # Metadata-only column rename (Delta column mapping / Iceberg
    # field-ID rename): value -> amount is ONE manifest commit; zero
    # data files are rewritten (files_untouched is the literal TRUE by
    # the inode/mtime check); reads and writes translate at the
    # scan/write boundary, so an append AND a logical-name DELETE
    # compose after the rename. The oracle restates the surviving
    # content directly (amount IS the old value column).
    """
    SELECT TRUE AS files_untouched,
           TRUE AS drop_untouched,
           CAST(count(*) FILTER (WHERE value < 150) AS BIGINT)
               AS n_rows_after,
           round((sum(value) FILTER (WHERE value < 150)) * 100.0) / 100.0
               + 0.0 AS sum_amount,
           CAST(count(*) FILTER (WHERE value >= 150) AS BIGINT)
               AS n_deleted,
           CAST(2 AS BIGINT) AS n_cols_after
    FROM events
    """,
    "metadata-only column rename AND drop (column mapping): one commit "
    "each, zero rewrites; appends write the frozen physical schema, "
    "logical-name predicates delete correctly after the rename, and "
    "the dropped column vanishes from every read",
    tags=("layout", "schema-evolution"),
)
def layout_rename_column_metadata_only(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drives operators/layout.py::rename_column end-to-end under the
    oracle gate: without column mapping, renaming a column of a 100 TB
    table is a full rewrite; with it, the physical schema is frozen
    and the rename is a metadata bit every boundary translates."""
    import pathlib
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        delete_rows,
        drop_column,
        read_table,
        rename_column,
    )

    def ident(work):
        return {
            f.name: (f.stat().st_ino, f.stat().st_mtime_ns)
            for f in pathlib.Path(work).glob("*.parquet")
        }

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="rename_gate_")
    shutil.rmtree(work)
    try:
        append_files(spark, work, ev.filter(F.col("value") < 100).coalesce(2))
        pre = ident(work)
        rename_column(work, "value", "amount")
        untouched = ident(work) == pre
        late = ev.filter(F.col("value") >= 100).withColumnRenamed(
            "value", "amount"
        )
        append_files(spark, work, late.coalesce(1))
        st = delete_rows(spark, work, "amount >= 150", mode="dv")
        pre2 = ident(work)
        drop_column(work, "event_type")
        drop_untouched = ident(work) == pre2
        final = read_table(spark, work)
        row = final.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("amount"), 2).alias("s"),
        ).collect()[0]
        n_cols = len(final.columns)  # user_id + amount
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                untouched,
                drop_untouched,
                row["n"],
                float(row["s"]),
                int(st["rows_deleted"]),
                n_cols,
            )
        ],
        "files_untouched boolean, drop_untouched boolean, "
        "n_rows_after bigint, sum_amount double, n_deleted bigint, "
        "n_cols_after bigint",
    )


@register(
    "layout_sql_over_manifest",
    # Plain SQL over a manifest table: the temp view pins a snapshot
    # that already reflects a DV delete AND a metadata-only rename, so
    # GROUP-BY SQL over the logical schema returns exactly the oracle's
    # restatement (kind IS event_type; value >= 150 rows are dead).
    """
    SELECT event_type AS kind,
           CAST(count(*) AS BIGINT) AS n,
           round((sum(value)) * 100.0) / 100.0 + 0.0 AS total_amount
    FROM events WHERE value < 150
    GROUP BY event_type
    """,
    "Spark SQL over a manifest-table view: snapshot-pinned reads "
    "compose deletion vectors and column mapping under plain SQL",
    tags=("layout", "sql"),
)
def layout_sql_over_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives register_table end-to-end under the oracle gate: the SQL
    front-end is how most consumers reach a lakehouse table, and it
    must see the same snapshot semantics (DVs applied, logical names)
    the DataFrame reader does."""
    import shutil
    import tempfile
    import uuid

    from ..operators.layout import (
        append_files,
        delete_rows,
        register_table,
        rename_column,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="sql_manifest_gate_")
    shutil.rmtree(work)
    view = f"mtab_{uuid.uuid4().hex[:8]}"
    try:
        append_files(spark, work, ev.coalesce(2))
        delete_rows(spark, work, "value >= 150", mode="dv")
        rename_column(work, "event_type", "kind")
        rename_column(work, "value", "amount")
        register_table(spark, view, work)
        out = (
            spark.sql(
                f"""
                SELECT kind, CAST(count(*) AS BIGINT) AS n,
                       sum(amount) AS _raw
                FROM {view} GROUP BY kind
                """
            )
            .select("kind", "n", dround(F.col("_raw"), 2).alias("total_amount"))
            .localCheckpoint()  # eager: outlives the tmpdir cleanup
        )
    finally:
        spark.catalog.dropTempView(view)
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "layout_auto_maintenance",
    # The metadata-driven maintenance loop end-to-end: three straggler
    # appends trigger INCREMENTAL clustering (O(new data)); two DV
    # deletes push the sidecar debt to the threshold and the next pass
    # runs a full OPTIMIZE (materializing the DVs, preserving the
    # clustered layout) plus vacuum. All four booleans are literals BY
    # CONSTRUCTION of the policy thresholds; the surviving content is
    # events with value < 160 (the two deletes removed >= 180 then
    # >= 160).
    """
    SELECT TRUE AS incremental_ran,
           TRUE AS optimize_ran,
           TRUE AS vacuumed_some,
           TRUE AS dv_cleared,
           CAST(count(*) FILTER (WHERE value < 160) AS BIGINT) AS n_rows,
           round((sum(value) FILTER (WHERE value < 160)) * 100.0) / 100.0
               + 0.0 AS sum_value
    FROM events
    """,
    "metadata-driven maintenance loop: incremental clustering for "
    "appended stragglers, full OPTIMIZE at the deletion-vector debt "
    "threshold, vacuum — decided from the manifest alone, content "
    "hash-checked against the direct filter",
    tags=("layout", "maintenance"),
)
def layout_auto_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::maintain_table end-to-end under the
    oracle gate: the cron-shaped policy pass a 100 TB deployment runs —
    it reads table_snapshots/table_files-grade metadata (never a
    LIST call) and pays O(new data) steady-state, O(dirty) for DV
    materialization."""
    import json
    import pathlib
    import shutil
    import tempfile

    from ..operators.layout import (
        _MANIFEST,
        append_files,
        compact_table,
        delete_rows,
        maintain_table,
        read_table,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="maint_gate_")
    shutil.rmtree(work)
    try:
        append_files(spark, work, ev.filter(F.col("value") < 100).repartition(2))
        compact_table(
            spark, work, target_file_bytes=256 * 1024, cluster_by=["value"]
        )
        for lo, hi in ((100, 120), (120, 150), (150, 200)):
            append_files(
                spark,
                work,
                ev.filter(
                    (F.col("value") >= lo) & (F.col("value") < hi)
                ).coalesce(1),
            )
        st1 = maintain_table(
            spark, work, target_file_bytes=1 << 30, min_unclustered=3,
            grace_seconds=0.0,
        )
        delete_rows(spark, work, "value >= 180", mode="dv")
        delete_rows(spark, work, "value >= 160", mode="dv")
        st2 = maintain_table(
            spark, work, target_file_bytes=1 << 30, min_unclustered=99,
            max_dv_files=2, grace_seconds=0.0,
        )
        doc = json.loads((pathlib.Path(work) / _MANIFEST).read_text())
        row = read_table(spark, work).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("value"), 2).alias("s"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                "compact_incremental" in st1["actions"],
                # DV-debt maintenance now scopes to the dirty files
                # (optimize:dv-materialize); any optimize flavor counts
                any(a.startswith("optimize") for a in st2["actions"]),
                st2["n_vacuumed"] > 0,
                "dv" not in doc,
                row["n"],
                float(row["s"]),
            )
        ],
        "incremental_ran boolean, optimize_ran boolean, "
        "vacuumed_some boolean, dv_cleared boolean, "
        "n_rows bigint, sum_value double",
    )


@register(
    "layout_dv_merge_upsert",
    # Merge-on-read MERGE (Delta's DV-backed MERGE / Hudi's MOR
    # upsert): matched rows die by deletion vector and the source
    # (updated images + inserts) appends as fresh files -- ZERO data
    # files rewritten (the literal n_files_rewritten=0 is the mode
    # contract; under copy-on-write the same merge rewrites every
    # affected file). The oracle states the merged content directly:
    # matched keys (event_id % 7 = 0) take the source image
    # (value + 1000), everything else survives verbatim, and the
    # insert leg re-keys event_id % 7 = 3 rows past the key space.
    # cow_match is TRUE because the gate runs the copy-on-write twin
    # on an identical second table and diffs the results row-level;
    # post_optimize_match is TRUE because OPTIMIZE materializes the
    # DVs without changing content.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value) * 100.0) / 100.0 + 0.0 AS sum_value,
           CAST(0 AS BIGINT) AS n_files_rewritten,
           CAST(1 AS BIGINT) AS n_dv_parquets,
           TRUE AS cow_match,
           TRUE AS post_optimize_match
    FROM (
        SELECT event_id, user_id,
               CASE WHEN event_id % 7 = 0 THEN value + 1000.0
                    ELSE value END AS value
        FROM events
        UNION ALL
        SELECT event_id + 1000000000, user_id, value - 50.0
        FROM events WHERE event_id % 7 = 3
    )
    """,
    "merge-on-read MERGE via deletion vectors: matched target rows "
    "die by DV sidecar, updated images + inserts append as fresh "
    "files, zero data files rewritten, one OCC commit; result is "
    "row-identical to the copy-on-write twin and survives OPTIMIZE "
    "materialization",
    tags=("layout", "dv", "merge"),
)
def layout_dv_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::merge_rows(mode="dv") end-to-end
    under the oracle gate: the MERGE cost model a 100 TB table needs
    (an upsert touching a few rows per file must not pay the
    affected-file rewrite -- O(matched positions + source rows) write
    instead), checked row-identical against the copy-on-write twin
    and across the OPTIMIZE pass that materializes the DVs."""
    import pathlib
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        compact_table,
        merge_rows,
        read_table,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    updates = (
        ev.filter(F.col("event_id") % 7 == 0)
        .withColumn("value", F.col("value") + F.lit(1000.0))
    )
    inserts = (
        ev.filter(F.col("event_id") % 7 == 3)
        .withColumn("event_id", F.col("event_id") + F.lit(1_000_000_000))
        .withColumn("value", F.col("value") - F.lit(50.0))
    )
    src = updates.unionByName(inserts)

    def _build(work):
        for i in range(4):
            append_files(
                spark, work, ev.filter(F.col("user_id") % 4 == i).coalesce(1)
            )

    work_dv = tempfile.mkdtemp(prefix="dvmerge_gate_")
    work_cow = tempfile.mkdtemp(prefix="cowmerge_gate_")
    shutil.rmtree(work_dv)
    shutil.rmtree(work_cow)
    try:
        _build(work_dv)
        _build(work_cow)
        st = merge_rows(spark, work_dv, src, on="event_id", mode="dv")
        merge_rows(spark, work_cow, src, on="event_id", mode="cow")
        got = read_table(spark, work_dv)
        twin = read_table(spark, work_cow)
        cow_match = (
            got.exceptAll(twin).limit(1).count() == 0
            and twin.exceptAll(got).limit(1).count() == 0
        )
        n_dv = len(list(pathlib.Path(work_dv).glob("dv-*.parquet")))

        def _agg(df):
            r = df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.count_distinct("user_id").cast("bigint").alias("u"),
                dround(F.sum("value"), 2).alias("s"),
            ).collect()[0]
            return (r["n"], r["u"], float(r["s"]))

        before = _agg(got)
        compact_table(spark, work_dv, target_file_bytes=1 << 30)
        after = _agg(read_table(spark, work_dv))
    finally:
        shutil.rmtree(work_dv, ignore_errors=True)
        shutil.rmtree(work_cow, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                after[0],
                after[1],
                after[2],
                int(st["n_files_rewritten"]),
                n_dv,
                cow_match,
                before == after,
            )
        ],
        "n_rows bigint, n_users bigint, sum_value double, "
        "n_files_rewritten bigint, n_dv_parquets bigint, "
        "cow_match boolean, post_optimize_match boolean",
    )


@register(
    "layout_sql_dml_roundtrip",
    # SQL DML front-end over a manifest table (plans/sql_dml.py): a
    # four-statement sequence -- INSERT INTO ... SELECT, UPDATE ... SET
    # ... WHERE, DELETE FROM ... WHERE, MERGE INTO ... USING -- runs
    # under merge-on-read (deletion vectors) and must land the exact
    # content the oracle restates declaratively: click rows spawn
    # re-keyed 'bulk' copies at half value, error rows gain +1000,
    # cheap view rows die, and purchase rows MERGE into 'merged' at
    # double value. twin_match is TRUE because the gate replays the
    # same sequence through the DataFrame API under copy-on-write and
    # diffs the results row-level (two independent execution paths,
    # two storage modes, one answer).
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value) * 100.0) / 100.0 + 0.0 AS sum_value,
           TRUE AS twin_match
    FROM (
        SELECT CASE WHEN event_type = 'purchase' THEN 'merged'
                    ELSE event_type END AS event_type,
               CASE WHEN event_type = 'error' THEN value + 1000.0
                    WHEN event_type = 'purchase' THEN value * 2.0
                    ELSE value END AS value
        FROM (
            SELECT event_type, value FROM events
            UNION ALL
            SELECT 'bulk', value / 2.0 FROM events
            WHERE event_type = 'click'
        )
        WHERE NOT (event_type = 'view' AND value < 100.0)
    )
    GROUP BY event_type
    """,
    "SQL DML over a governed manifest table: INSERT INTO/UPDATE/"
    "DELETE FROM/MERGE INTO dispatch to atomic OCC manifest commits "
    "(deletion-vector mode), row-identical to the DataFrame-API "
    "copy-on-write twin",
    tags=("layout", "sql", "dml"),
)
def layout_sql_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives plans/sql_dml.py::ManifestSession end-to-end under the
    oracle gate: the 'dbt SQL -> Spark SQL' story over governed tables
    -- every statement a dbt model would issue against a warehouse
    (INSERT/UPDATE/DELETE/MERGE) routes through the manifest layer's
    atomic commits and inherits snapshot isolation, DVs, constraints
    and CDF. The DV-mode session is cross-checked row-level against a
    copy-on-write DataFrame-API replay of the same sequence."""
    import shutil
    import tempfile
    import uuid

    from ..operators.layout import (
        append_files,
        delete_rows,
        merge_rows,
        read_table,
        update_rows,
    )
    from ..plans.sql_dml import ManifestSession

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    work_sql = tempfile.mkdtemp(prefix="dml_gate_sql_")
    work_api = tempfile.mkdtemp(prefix="dml_gate_api_")
    shutil.rmtree(work_sql)
    shutil.rmtree(work_api)
    name = f"dmltab_{uuid.uuid4().hex[:8]}"
    try:
        for w in (work_sql, work_api):
            append_files(spark, w, ev.coalesce(2))
        ses = ManifestSession(spark, mode="dv").register(name, work_sql)
        ses.sql(
            f"""INSERT INTO {name}
                SELECT event_id + 10000000, user_id, 'bulk', value / 2.0
                FROM {name} WHERE event_type = 'click'"""
        )
        ses.sql(
            f"UPDATE {name} SET value = value + 1000.0 "
            "WHERE event_type = 'error'"
        )
        ses.sql(
            f"DELETE FROM {name} WHERE event_type = 'view' AND value < 100.0"
        )
        ses.sql(
            f"""MERGE INTO {name} USING (
                    SELECT event_id, user_id,
                           'merged' AS event_type, value * 2.0 AS value
                    FROM {name} WHERE event_type = 'purchase'
                ) src ON {name}.event_id = src.event_id
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *"""
        )
        # DataFrame-API twin, copy-on-write mode
        append_files(
            spark,
            work_api,
            ev.filter(F.col("event_type") == "click").select(
                (F.col("event_id") + 10_000_000).alias("event_id"),
                "user_id",
                F.lit("bulk").alias("event_type"),
                (F.col("value") / 2.0).alias("value"),
            ),
        )
        update_rows(
            spark, work_api, "event_type = 'error'",
            {"value": "value + 1000.0"}, mode="cow",
        )
        delete_rows(
            spark, work_api, "event_type = 'view' AND value < 100.0",
            mode="cow",
        )
        src = (
            read_table(spark, work_api)
            .filter(F.col("event_type") == "purchase")
            .select(
                "event_id", "user_id",
                F.lit("merged").alias("event_type"),
                (F.col("value") * 2.0).alias("value"),
            )
        )
        merge_rows(spark, work_api, src, on="event_id", mode="cow")

        got = read_table(spark, work_sql)
        twin = read_table(spark, work_api)
        twin_match = (
            got.exceptAll(twin).limit(1).count() == 0
            and twin.exceptAll(got).limit(1).count() == 0
        )
        out = (
            got.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dround(F.sum("value"), 2).alias("sum_value"),
            )
            .withColumn("twin_match", F.lit(twin_match))
            .localCheckpoint()  # eager: outlives the tmpdir cleanup
        )
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(work_sql, ignore_errors=True)
        shutil.rmtree(work_api, ignore_errors=True)
    return out


@register(
    "layout_table_clone",
    # Zero-copy SHALLOW CLONE (Delta's CREATE TABLE ... SHALLOW CLONE):
    # the clone gets an independent manifest over HARD-LINKED data
    # files (bytes shared, zero copied -- n_bytes_copied=0 and
    # shared_inodes=TRUE are the mechanism's literals), then diverges:
    # a DV delete of click rows plus an append of +1000-revalued error
    # rows mutate ONLY the clone. The oracle restates both sides'
    # content from events directly; src_intact is TRUE because the
    # source's files are immutable and its manifest never moved.
    """
    SELECT CAST((SELECT count(*) FROM events) AS BIGINT) AS n_src,
           round((SELECT sum(value) FROM events) * 100.0) / 100.0
               + 0.0 AS sum_src,
           CAST((SELECT count(*) FROM events WHERE event_type <> 'click')
               + (SELECT count(*) FROM events WHERE event_type = 'error')
               AS BIGINT) AS n_clone,
           round(((SELECT sum(value) FROM events WHERE event_type <> 'click')
               + (SELECT sum(value + 1000.0) FROM events
                  WHERE event_type = 'error')) * 100.0) / 100.0
               + 0.0 AS sum_clone,
           CAST(0 AS BIGINT) AS n_bytes_copied,
           TRUE AS shared_inodes,
           TRUE AS src_intact
    """,
    "zero-copy shallow clone: independent manifest over hard-linked "
    "immutable data files; clone-side DV delete + append diverge "
    "without touching a source byte",
    tags=("layout", "clone"),
)
def layout_table_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::clone_table end-to-end under the
    oracle gate: the fork-a-dataset primitive (experiment branches,
    dev copies of a 100 TB prod table) at O(files) metadata cost —
    zero data bytes copied, divergence isolated by the per-table
    manifest + immutable-file contract."""
    import pathlib
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        clone_table,
        delete_rows,
        read_table,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    src = tempfile.mkdtemp(prefix="clone_gate_src_")
    dst = tempfile.mkdtemp(prefix="clone_gate_dst_")
    shutil.rmtree(src)
    shutil.rmtree(dst)
    try:
        for i in range(4):
            append_files(
                spark, src, ev.filter(F.col("user_id") % 4 == i).coalesce(1)
            )
        before = {
            f.name: (f.stat().st_ino, f.stat().st_mtime_ns)
            for f in pathlib.Path(src).glob("*.parquet")
        }
        st = clone_table(src, dst)
        shared = all(
            (pathlib.Path(dst) / n).stat().st_ino == ino
            for n, (ino, _) in before.items()
        )
        delete_rows(spark, dst, "event_type = 'click'", mode="dv")
        append_files(
            spark,
            dst,
            read_table(spark, dst)
            .filter(F.col("event_type") == "error")
            .withColumn("value", F.col("value") + 1000.0),
        )

        def _agg(df):
            r = df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dround(F.sum("value"), 2).alias("s"),
            ).collect()[0]
            return int(r["n"]), float(r["s"])

        n_src, s_src = _agg(read_table(spark, src))
        n_clone, s_clone = _agg(read_table(spark, dst))
        intact = {
            f.name: (f.stat().st_ino, f.stat().st_mtime_ns)
            for f in pathlib.Path(src).glob("*.parquet")
        } == before
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                n_src, s_src, n_clone, s_clone,
                int(st["n_bytes_copied"]), shared, intact,
            )
        ],
        "n_src bigint, sum_src double, n_clone bigint, sum_clone double, "
        "n_bytes_copied bigint, shared_inodes boolean, src_intact boolean",
    )


@register(
    "layout_sql_ddl_roundtrip",
    # SQL DDL over manifest tables (plans/sql_dml.py): CREATE TABLE AS
    # SELECT lands a governed table (atomic first commit), ALTER TABLE
    # ADD CONSTRAINT gates subsequent DML (the violating INSERT is
    # rejected whole -- violator_rejected=TRUE is the CHECK contract),
    # RENAME COLUMN is one metadata commit (no rewrite), DROP COLUMN
    # hides metadata-only, and DML keeps working against the evolved
    # logical schema. The oracle restates the final content: the CTAS
    # filter, the one post-rename manual INSERT, grouped by the
    # renamed column.
    """
    SELECT category, n, sum_amount, TRUE AS violator_rejected
    FROM (
        SELECT event_type AS category,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value) * 100.0) / 100.0 + 0.0 AS sum_amount
        FROM events WHERE value < 300.0
        GROUP BY event_type
        UNION ALL
        SELECT 'manual', CAST(1 AS BIGINT), 42.0 + 0.0
    )
    """,
    "SQL DDL over governed tables: CTAS, ADD CONSTRAINT (rejects the "
    "violating INSERT), metadata-only RENAME/DROP COLUMN, and DML "
    "against the evolved schema",
    tags=("layout", "sql", "ddl"),
)
def layout_sql_ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives plans/sql_dml.py DDL dispatch end-to-end under the
    oracle gate: the remaining warehouse surface after DML — CREATE
    TABLE AS SELECT (atomic manifest birth), ALTER TABLE constraint
    and column-mapping commits (metadata-only at any scale), DROP
    TABLE — so a dbt project's DDL statements run against manifest
    tables unchanged."""
    import shutil
    import tempfile
    import uuid

    from ..operators.layout import ConstraintViolationError, append_files
    from ..plans.sql_dml import ManifestSession

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    base = tempfile.mkdtemp(prefix="ddl_gate_")
    tag = uuid.uuid4().hex[:8]
    raw, mart = f"raw_{tag}", f"mart_{tag}"
    try:
        append_files(spark, f"{base}/{raw}", ev.coalesce(2))
        ses = ManifestSession(spark, mode="dv", base_dir=base)
        ses.register(raw, f"{base}/{raw}")
        ses.sql(
            f"""CREATE TABLE {mart} AS
                SELECT user_id, event_type AS kind, value AS amount
                FROM {raw} WHERE value < 300.0"""
        )
        ses.sql(
            f"ALTER TABLE {mart} ADD CONSTRAINT amount_pos CHECK (amount >= 0)"
        )
        try:
            ses.sql(f"INSERT INTO {mart} VALUES (1, 'bad', -5.0)")
            rejected = False
        except ConstraintViolationError:
            rejected = True
        ses.sql(f"ALTER TABLE {mart} RENAME COLUMN kind TO category")
        ses.sql(f"ALTER TABLE {mart} DROP COLUMN user_id")
        ses.sql(
            f"INSERT INTO {mart} (category, amount) VALUES ('manual', 42.0)"
        )
        out = (
            ses.sql(
                f"""SELECT category, CAST(count(*) AS BIGINT) AS n,
                           sum(amount) AS _raw
                    FROM {mart} GROUP BY category"""
            )
            .select(
                "category",
                "n",
                dround(F.col("_raw"), 2).alias("sum_amount"),
                F.lit(rejected).alias("violator_rejected"),
            )
            .localCheckpoint()  # eager: outlives the tmpdir cleanup
        )
        ses.sql(f"DROP TABLE {mart}")
        ses.sql(f"DROP TABLE {raw}")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@register(
    "layout_restore_version",
    # Delta's RESTORE TABLE ... TO VERSION AS OF n: after a DV delete
    # and a late append diverge the table, restoring to the pre-delete
    # snapshot brings the content back VIA A NEW METADATA COMMIT (no
    # data copied -- n_files_restored equals the snapshot's file
    # count), history stays intact (the restore is itself restorable
    # away, re_restored_match TRUE), and a second restore re-applies
    # the deletion vectors (clicks dead again). The oracle restates
    # the final (post-second-restore) content: events minus clicks.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value) * 100.0) / 100.0 + 0.0 AS sum_value,
           CAST((SELECT count(*) FROM events) AS BIGINT) AS n_at_v1,
           TRUE AS restored_match,
           TRUE AS re_restored_match
    FROM events WHERE event_type <> 'click'
    """,
    "RESTORE TABLE to a historical version: one metadata commit makes "
    "snapshot n current again (deletion vectors included), history "
    "preserved so the restore itself can be restored away",
    tags=("layout", "restore"),
)
def layout_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::restore_table (and the RESTORE
    TABLE SQL verb) end-to-end under the oracle gate: the
    bad-deploy/oops-DELETE recovery primitive — at 100 TB a restore
    must be one metadata commit, never a data copy."""
    import shutil
    import tempfile
    import uuid

    from ..operators.layout import (
        append_files,
        delete_rows,
        manifest_versions,
        read_table,
    )
    from ..plans.sql_dml import ManifestSession

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="restore_gate_")
    shutil.rmtree(work)
    name = f"rtab_{uuid.uuid4().hex[:8]}"
    try:
        append_files(spark, work, ev.coalesce(2))
        ses = ManifestSession(spark, mode="dv").register(name, work)
        v1 = manifest_versions(work)[-1]
        n_v1 = ev.count()
        ses.sql(f"DELETE FROM {name} WHERE event_type = 'click'")
        v2 = manifest_versions(work)[-1]
        ses.sql(
            f"INSERT INTO {name} (user_id, event_type, value) "
            "VALUES (999999, 'late', 1.0)"
        )
        ses.sql(f"RESTORE TABLE {name} TO VERSION AS OF {v1}")
        restored_match = read_table(spark, work).count() == n_v1
        ses.sql(f"RESTORE TABLE {name} TO VERSION AS OF {v2}")
        got = read_table(spark, work)
        re_restored_match = (
            got.filter(F.col("event_type") == "click").count() == 0
            and got.filter(F.col("event_type") == "late").count() == 0
        )
        row = got.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("value"), 2).alias("s"),
        ).collect()[0]
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [(row["n"], float(row["s"]), n_v1, restored_match, re_restored_match)],
        "n_rows bigint, sum_value double, n_at_v1 bigint, "
        "restored_match boolean, re_restored_match boolean",
    )


@register(
    "layout_insert_overwrite",
    # INSERT OVERWRITE / dbt full-refresh table materialization: the
    # incoming SELECT's result atomically REPLACES the live file list
    # in one manifest commit -- readers see old or new, never a mix --
    # and the displaced snapshot stays time-travelable (the oops-full-
    # refresh is one RESTORE away, time_travel_ok TRUE by reading
    # version 1 back). The oracle restates the overwritten content:
    # non-click events at double value.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value * 2.0) * 100.0) / 100.0 + 0.0 AS sum_value,
           CAST((SELECT count(*) FROM events) AS BIGINT) AS n_before,
           TRUE AS time_travel_ok
    FROM events WHERE event_type <> 'click'
    """,
    "INSERT OVERWRITE as one atomic manifest commit: full refresh "
    "replaces the live list, pre-overwrite snapshot stays readable "
    "via time travel",
    tags=("layout", "sql", "overwrite"),
)
def layout_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::overwrite_table (and the INSERT
    OVERWRITE SQL verb) end-to-end under the oracle gate: dbt's
    ``table`` materialization over governed tables — at 100 TB the
    refresh must swap atomically (no reader ever sees a half-built
    table) and the previous build must stay restorable."""
    import shutil
    import tempfile
    import uuid

    from ..operators.layout import append_files, manifest_versions, read_table
    from ..plans.sql_dml import ManifestSession

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="overwrite_gate_")
    shutil.rmtree(work)
    name = f"otab_{uuid.uuid4().hex[:8]}"
    try:
        append_files(spark, work, ev.coalesce(2))
        v1 = manifest_versions(work)[-1]
        n_before = ev.count()
        ses = ManifestSession(spark).register(name, work)
        ses.sql(
            f"""INSERT OVERWRITE {name}
                SELECT user_id, event_type, value * 2.0
                FROM {name} WHERE event_type <> 'click'"""
        )
        row = read_table(spark, work).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("value"), 2).alias("s"),
        ).collect()[0]
        time_travel_ok = (
            read_table(spark, work, version=v1).count() == n_before
        )
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [(row["n"], float(row["s"]), n_before, time_travel_ok)],
        "n_rows bigint, sum_value double, n_before bigint, "
        "time_travel_ok boolean",
    )


@register(
    "layout_merge_full_clauses",
    # Delta's FULL MERGE clause surface in one statement: a matched
    # delete (source value < 0), a conditional matched update with
    # expressions over BOTH sides (value = t.value + s.value), a
    # conditional insert (source value > 0), and a NOT MATCHED BY
    # SOURCE delete (t.event_id % 97 = 0). The oracle restates the
    # merged content closed-form: target LEFT JOIN source classifies
    # every row exactly like the clause engine. The booleans are the
    # cross-path contract: cow_match row-diffs merge-on-read (DV)
    # against copy-on-write, sql_match row-diffs the SQL dispatcher's
    # MERGE statement against the DataFrame path, zero rewrites is the
    # DV mode contract, and post_optimize_match survives the OPTIMIZE
    # that materializes the DVs.
    """
    WITH src AS (
        SELECT event_id, user_id, event_type,
               CASE WHEN event_id % 10 = 0 THEN 0.0 - value
                    ELSE value + 500.0 END AS value
        FROM events WHERE event_id % 5 = 0
        UNION ALL
        SELECT event_id + 1000000000 AS event_id, user_id,
               'bulk' AS event_type, value - 50.0 AS value
        FROM events WHERE event_id % 5 = 2
    ),
    kept AS (
        SELECT t.event_id, t.user_id,
               CASE WHEN s.event_id IS NOT NULL THEN 'merged'
                    WHEN t.event_id % 89 = 0 THEN 'stale'
                    ELSE t.event_type END AS event_type,
               CASE WHEN s.event_id IS NOT NULL THEN t.value + s.value
                    ELSE t.value END AS value
        FROM events t LEFT JOIN src s ON t.event_id = s.event_id
        WHERE NOT (s.event_id IS NOT NULL AND s.value < 0)
          AND NOT (s.event_id IS NULL AND t.event_id % 97 = 0)
    ),
    final AS (
        SELECT * FROM kept
        UNION ALL
        SELECT event_id, user_id, event_type, value FROM src
        WHERE event_id >= 1000000000 AND value > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(CASE WHEN event_type = 'merged' THEN 1 END)
                AS BIGINT) AS n_merged,
           CAST(count(CASE WHEN event_type = 'stale' THEN 1 END)
                AS BIGINT) AS n_stale,
           round(sum(value) * 100.0) / 100.0 + 0.0 AS sum_value,
           CAST(0 AS BIGINT) AS n_files_rewritten_dv,
           TRUE AS cow_match,
           TRUE AS sql_match,
           TRUE AS post_optimize_match
    FROM final
    """,
    "full MERGE clause surface (matched delete / conditional update "
    "with both-side expressions / conditional insert / not-matched-by-"
    "source delete) in cow, dv and SQL-dispatcher paths, row-diffed "
    "against each other and across OPTIMIZE",
    tags=("layout", "merge", "dv", "sql"),
)
def layout_merge_full_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::merge_rows clause engine end-to-end:
    one classified target-LEFT-JOIN-broadcast(source) plan feeds all
    four Delta MERGE clause kinds, in both write shapes (cow rewrites
    only files holding a changed row; dv kills changed positions with
    one deletion-vector parquet, zero rewrites) plus the SQL MERGE
    dispatcher (plans/sql_dml.py), all three row-diffed."""
    import pathlib
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        compact_table,
        merge_rows,
        read_table,
    )
    from ..plans.sql_dml import ManifestSession

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    src = (
        ev.filter(F.col("event_id") % 5 == 0)
        .withColumn(
            "value",
            F.when(F.col("event_id") % 10 == 0, -F.col("value")).otherwise(
                F.col("value") + F.lit(500.0)
            ),
        )
        .unionByName(
            ev.filter(F.col("event_id") % 5 == 2)
            .withColumn("event_id", F.col("event_id") + F.lit(1_000_000_000))
            .withColumn("event_type", F.lit("bulk"))
            .withColumn("value", F.col("value") - F.lit(50.0))
        )
    )
    clauses = dict(
        when_matched_delete="s.value < 0",
        when_matched_update={
            "value": "t.value + s.value",
            "event_type": "'merged'",
        },
        when_not_matched_insert="s.value > 0",
        when_not_matched_by_source_delete="t.event_id % 97 = 0",
        when_not_matched_by_source_update={"event_type": "'stale'"},
        when_not_matched_by_source_update_condition="t.event_id % 89 = 0",
    )

    def _build(work):
        for i in range(4):
            append_files(
                spark, work, ev.filter(F.col("user_id") % 4 == i).coalesce(1)
            )

    works = {
        m: tempfile.mkdtemp(prefix=f"mergecl_{m}_") for m in ("dv", "cow", "sql")
    }
    for w in works.values():
        shutil.rmtree(w)
    try:
        for w in works.values():
            _build(w)
        st_dv = merge_rows(
            spark, works["dv"], src, on="event_id", mode="dv", **clauses
        )
        merge_rows(spark, works["cow"], src, on="event_id", mode="cow", **clauses)
        ses = ManifestSession(spark, mode="dv").register("mrg_tab", works["sql"])
        src.createOrReplaceTempView("mrg_chg")
        ses.sql(
            "MERGE INTO mrg_tab USING mrg_chg "
            "ON mrg_tab.event_id = mrg_chg.event_id "
            "WHEN MATCHED AND mrg_chg.value < 0 THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET "
            "value = mrg_tab.value + mrg_chg.value, event_type = 'merged' "
            "WHEN NOT MATCHED AND mrg_chg.value > 0 THEN INSERT * "
            "WHEN NOT MATCHED BY SOURCE AND mrg_tab.event_id % 97 = 0 "
            "THEN DELETE "
            "WHEN NOT MATCHED BY SOURCE AND mrg_tab.event_id % 89 = 0 "
            "THEN UPDATE SET event_type = 'stale'"
        )
        got = read_table(spark, works["dv"])
        twin = read_table(spark, works["cow"])
        sql_out = read_table(spark, works["sql"])

        def _diff_empty(a, b):
            return (
                a.exceptAll(b).limit(1).count() == 0
                and b.exceptAll(a).limit(1).count() == 0
            )

        cow_match = _diff_empty(got, twin)
        sql_match = _diff_empty(sql_out, twin)

        def _agg(df):
            r = df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.count_distinct("user_id").cast("bigint").alias("u"),
                F.count(
                    F.when(F.col("event_type") == "merged", 1)
                ).cast("bigint").alias("m"),
                F.count(
                    F.when(F.col("event_type") == "stale", 1)
                ).cast("bigint").alias("st"),
                dround(F.sum("value"), 2).alias("s"),
            ).collect()[0]
            return (r["n"], r["u"], r["m"], r["st"], float(r["s"]))

        before = _agg(got)
        compact_table(spark, works["dv"], target_file_bytes=1 << 30)
        after = _agg(read_table(spark, works["dv"]))
    finally:
        for w in works.values():
            shutil.rmtree(w, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                after[0],
                after[1],
                after[2],
                after[3],
                after[4],
                int(st_dv["n_files_rewritten"]),
                cow_match,
                sql_match,
                before == after,
            )
        ],
        "n_rows bigint, n_users bigint, n_merged bigint, n_stale bigint, "
        "sum_value double, n_files_rewritten_dv bigint, "
        "cow_match boolean, sql_match boolean, post_optimize_match boolean",
    )


@register(
    "layout_retention_horizon",
    # Time-based vacuum retention (Delta's VACUUM ... RETAIN n HOURS)
    # as the restore boundary: snapshots whose commit wall time falls
    # inside the window keep their files (restore works, DESCRIBE
    # HISTORY says restorable), outside it their displaced files are
    # reclaimed and restore refuses CLEANLY (a named
    # files-already-vacuumed error, never a partial table). The gate
    # simulates 48h of age deterministically (backdates the recorded
    # commit timestamps and file mtimes), runs a 72h-window VACUUM
    # (protects everything, 0 reclaimed), then a 24h-window VACUUM
    # (reclaims the displaced files), and checks the horizon from all
    # three sides: DESCRIBE HISTORY restorable flips for the old
    # snapshot only, RESTORE past the boundary raises the named error,
    # and the CURRENT content is byte-identical through both passes.
    # The oracle restates the current content closed-form.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value) * 100.0) / 100.0 + 0.0 AS sum_value,
           CAST(0 AS BIGINT) AS n_vacuumed_wide,
           TRUE AS vacuumed_some_narrow,
           TRUE AS old_restorable_before,
           FALSE AS old_restorable_after,
           TRUE AS current_restorable_after,
           TRUE AS restore_refused_cleanly,
           TRUE AS current_intact
    FROM events WHERE value > 50.0
    """,
    "VACUUM RETAIN n HOURS: commit-timestamp retention window "
    "protects in-window snapshots' files, reclaims out-of-window "
    "displaced files, DESCRIBE HISTORY's restorable column tracks the "
    "horizon, and restore past it refuses with a named error",
    tags=("layout", "vacuum", "retention", "sql"),
)
def layout_retention_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::vacuum_orphans(retain_hours=) + the
    SQL ``VACUUM t RETAIN h HOURS`` verb + table_snapshots' ts/
    restorable columns. Elapsed time is SIMULATED by backdating the
    manifest's recorded commit timestamps and the parquet mtimes 48h
    (deterministic — the gate cannot wait wall-clock hours); the
    retention logic under test reads exactly those two signals."""
    import json
    import os
    import pathlib
    import shutil
    import tempfile
    import time

    from ..operators.layout import (
        append_files,
        delete_rows,
        manifest_versions,
        read_table,
        restore_table,
        table_snapshots,
    )
    from ..plans.sql_dml import ManifestSession

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    work = tempfile.mkdtemp(prefix="retention_gate_")
    shutil.rmtree(work)
    p = pathlib.Path(work)
    try:
        for i in range(2):
            append_files(
                spark, work, ev.filter(F.col("user_id") % 2 == i).coalesce(2)
            )
        full_version = manifest_versions(work)[-1]
        delete_rows(spark, work, "value <= 50.0", mode="cow")  # displaces files
        # simulate 48h of age: backdate recorded commit ts + file mtimes
        mf = p / "_manifest.json"
        doc = json.loads(mf.read_text())
        old = time.time() - 48 * 3600
        for h in doc.get("history", []):
            h["ts"] = old
        doc["ts"] = old
        mf.write_text(json.dumps(doc))
        for f in p.glob("*.parquet"):
            os.utime(f, (old, old))

        ses = ManifestSession(spark, mode="cow").register("ret_tab", work)

        def _agg():
            r = read_table(spark, work).agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dround(F.sum("value"), 2).alias("s"),
            ).collect()[0]
            return (r["n"], float(r["s"]))

        before = _agg()
        # 72h window: every snapshot inside -> nothing reclaimed
        n_wide = ses.sql("VACUUM ret_tab RETAIN 72 HOURS")["n_vacuumed"]
        snaps = {
            r["version"]: r
            for r in table_snapshots(spark, work).collect()
        }
        old_restorable_before = bool(snaps[full_version]["restorable"])
        # 24h window: the displaced pre-delete files age out
        n_narrow = ses.sql("VACUUM ret_tab RETAIN 24 HOURS")["n_vacuumed"]
        snaps2 = {
            r["version"]: r
            for r in table_snapshots(spark, work).collect()
        }
        old_restorable_after = bool(snaps2[full_version]["restorable"])
        cur_restorable_after = bool(
            snaps2[manifest_versions(work)[-1]]["restorable"]
        )
        refused = False
        try:
            restore_table(work, full_version, spark=spark)
        except FileNotFoundError as e:
            refused = "vacuumed" in str(e)
        after = _agg()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                after[0],
                after[1],
                int(n_wide),
                n_narrow > 0,
                old_restorable_before,
                old_restorable_after,
                cur_restorable_after,
                refused,
                before == after,
            )
        ],
        "n_rows bigint, sum_value double, n_vacuumed_wide bigint, "
        "vacuumed_some_narrow boolean, old_restorable_before boolean, "
        "old_restorable_after boolean, current_restorable_after boolean, "
        "restore_refused_cleanly boolean, current_intact boolean",
    )


@register(
    "layout_partition_style_pruning",
    # The no-partition-columns stance, measured: manifest tables have
    # NO hive partition directories — PARTITIONED BY maps to liquid
    # clustering (range-partitioned, in-file-sorted writes + per-file
    # min/max in the commit). This gate runs the canonical hive
    # workload and checks pruning parity file-by-file: per-day ingest
    # lands exactly one tight file per day (8 days -> 8 files), a
    # day-range query [2,4] scans exactly the 3 files a hive layout
    # would list as 3 directories (hive_parity_scan), a day-targeted
    # DELETE rewrites exactly the 1 file holding that day, and the SQL
    # `CREATE TABLE ... PARTITIONED BY (d) AS ...` front-end records
    # clustering state whose pruned scan reads a strict subset of
    # files. The oracle restates the day-range aggregate and final
    # content closed-form over the same synthetic day column.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_range_rows,
           round(sum(value) * 100.0) / 100.0 + 0.0 AS range_sum,
           CAST((SELECT count(*) FROM events WHERE event_id % 8 <> 6)
                AS BIGINT) AS n_after_delete,
           CAST(8 AS BIGINT) AS n_files_total,
           CAST(3 AS BIGINT) AS n_files_scanned,
           TRUE AS hive_parity_scan,
           TRUE AS delete_touched_one_file,
           TRUE AS ctas_clustered,
           TRUE AS ctas_prunes
    FROM events WHERE event_id % 8 BETWEEN 2 AND 4
    """,
    "partition-style workload on a clustered manifest table: per-day "
    "ingest (one tight file per day via append cluster_by), day-range "
    "scan prunes to exactly the in-range files (hive directory-listing "
    "parity), day-targeted DELETE rewrites one file, SQL PARTITIONED "
    "BY maps to clustering state",
    tags=("layout", "clustering", "prune", "sql"),
)
def layout_partition_style_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives append_files(cluster_by=) + prune_file_list/read_table
    (prune=) + the CTAS PARTITIONED BY mapping: the liquid-clustering
    answer to hive partition columns, proven at file granularity."""
    import json
    import pathlib
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        delete_rows,
        ensure_manifest,
        prune_file_list,
        read_table,
    )
    from ..plans.sql_dml import ManifestSession

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", (F.col("event_id") % 8).alias("d")
    )
    work = tempfile.mkdtemp(prefix="partstyle_gate_")
    ctas_dir = tempfile.mkdtemp(prefix="partstyle_ctas_")
    shutil.rmtree(work)
    p = pathlib.Path(work)
    try:
        for day in range(8):  # per-day ingest, clustered on d
            append_files(
                spark, work, ev.filter(F.col("d") == day), cluster_by=["d"]
            )
        live = ensure_manifest(p)
        n_total = len(live)
        scanned = prune_file_list(p, live, "d", 2, 4)
        rq = (
            read_table(spark, work, prune=("d", 2, 4))
            .filter(F.col("d").between(2, 4))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dround(F.sum("value"), 2).alias("s"),
            )
            .collect()[0]
        )
        st = delete_rows(spark, work, "d = 6", mode="cow")
        n_after = read_table(spark, work).count()

        # SQL front-end: PARTITIONED BY -> clustering state
        ses = ManifestSession(spark, mode="cow", base_dir=ctas_dir)
        ev.filter(F.col("d") < 4).createOrReplaceTempView("pt_src")
        ses.sql("CREATE TABLE pt PARTITIONED BY (d) AS SELECT * FROM pt_src")
        ctas_path = pathlib.Path(ctas_dir) / "pt"
        clu = json.loads((ctas_path / "_manifest.json").read_text()).get(
            "clustered"
        )
        ctas_live = ensure_manifest(ctas_path)
        ctas_scanned = prune_file_list(ctas_path, ctas_live, "d", 1, 1)
        ctas_prunes = 0 < len(ctas_scanned) < len(ctas_live) or len(
            ctas_live
        ) == 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(ctas_dir, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                rq["n"],
                float(rq["s"]),
                int(n_after),
                n_total,
                len(scanned),
                len(scanned) == 3,
                st["n_files_rewritten"] == 1,
                bool(clu) and clu["by"] == ["d"],
                bool(ctas_prunes),
            )
        ],
        "n_range_rows bigint, range_sum double, n_after_delete bigint, "
        "n_files_total bigint, n_files_scanned bigint, "
        "hive_parity_scan boolean, delete_touched_one_file boolean, "
        "ctas_clustered boolean, ctas_prunes boolean",
    )


@register(
    "stream_table_change_feed",
    # Streaming OUT of a governed table while DV deletes land --
    # Delta's "streaming from a table with deletion vectors" shape.
    # follow_changes is a version-log tailer: each pull pins
    # (last_version, current) BEFORE scanning, so a batch is
    # internally consistent with its snapshot pair regardless of
    # commits landing mid-read; DV'd rows surface exactly once as
    # 'delete' change rows and never as live rows. The gate ingests
    # events, then interleaves DV deletes (value <= 100, then
    # event_type = 'click') with an append of re-keyed 'late' rows,
    # pulling the feed after each commit and folding it (+insert,
    # -delete); reconstructed_every_pull is TRUE because the fold
    # equals the pinned snapshot at every pulled version, and
    # no_dead_rows is TRUE because no deleted row survives in the
    # final fold. The oracle restates the final content closed-form.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value) * 100.0) / 100.0 + 0.0 AS sum_value,
           CAST(count(CASE WHEN event_id >= 2000000000 THEN 1 END)
                AS BIGINT) AS n_late,
           TRUE AS reconstructed_every_pull,
           TRUE AS no_dead_rows,
           TRUE AS idle_pull_empty
    FROM (
        SELECT event_id, value FROM events
        WHERE value > 100.0 AND event_type <> 'click'
        UNION ALL
        SELECT event_id + 2000000000 AS event_id, value FROM events
        WHERE event_id % 11 = 0
    )
    """,
    "change-feed streaming reader over a governed table under "
    "concurrent DV deletes: version-pinned micro-batch pulls, fold "
    "reconstructs every snapshot, dead rows never surface as live",
    tags=("layout", "streaming", "dv", "cdf"),
)
def stream_table_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::follow_changes interleaved with
    delete_rows(mode='dv') and append_files -- the micro-batch
    consumer contract a foreachBatch job would run, checked by exact
    multiset reconstruction at every pull."""
    import shutil
    import tempfile
    from collections import Counter

    from ..operators.layout import (
        append_files,
        delete_rows,
        follow_changes,
        read_table,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="changefeed_gate_")
    shutil.rmtree(work)

    def _ms(df):
        return Counter(
            (r["event_id"], r["event_type"], float(r["value"]))
            for r in df.collect()
        )

    try:
        append_files(spark, work, ev.coalesce(4))
        _, ver = follow_changes(spark, work, None)
        state = _ms(read_table(spark, work))
        ok = True
        steps = (
            lambda: delete_rows(spark, work, "value <= 100.0", mode="dv"),
            lambda: append_files(
                spark,
                work,
                ev.filter(F.col("event_id") % 11 == 0).select(
                    (F.col("event_id") + 2_000_000_000).alias("event_id"),
                    F.lit("late").alias("event_type"),
                    "value",
                ),
            ),
            lambda: delete_rows(spark, work, "event_type = 'click'", mode="dv"),
        )
        for step in steps:
            step()
            changes, ver = follow_changes(spark, work, ver)
            for r in changes.collect():
                d = (r["event_id"], r["event_type"], float(r["value"]))
                if r["_change_type"] == "insert":
                    state[d] += 1
                else:
                    state[d] -= 1
            state = +state
            ok = ok and state == _ms(read_table(spark, work))
        # dead = rows a DV delete actually killed: pre-append rows with
        # value <= 100, and 'click' rows anywhere (the late append
        # landed AFTER the value delete, so its low-value rows live)
        no_dead = not any(
            (v <= 100.0 and k < 2_000_000_000) or t == "click"
            for k, t, v in state
        )
        idle, _ = follow_changes(spark, work, ver)
        r = read_table(spark, work).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("value"), 2).alias("s"),
            F.count(F.when(F.col("event_id") >= 2_000_000_000, 1))
            .cast("bigint")
            .alias("late"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n"], float(r["s"]), r["late"], ok, no_dead, idle is None)],
        "n_rows bigint, sum_value double, n_late bigint, "
        "reconstructed_every_pull boolean, no_dead_rows boolean, "
        "idle_pull_empty boolean",
    )


@register(
    "layout_add_column_evolution",
    # ALTER TABLE ADD COLUMN as one metadata commit (Delta/Iceberg
    # semantics -- the third schema-evolution DDL next to RENAME and
    # DROP): the new column reads as typed NULL everywhere until a
    # write carries it, real values win once written, UPDATE can SET
    # it on existing rows (pre-image semantics, dv mode: zero files
    # rewritten), and CHECK constraints over it enforce on every
    # subsequent write (NULL passes, per SQL CHECK). metadata_only is
    # TRUE because the ADD commit itself rewrites/adds zero data
    # files; constraint_enforced is TRUE because an INSERT violating
    # the post-add constraint rejects atomically. The oracle restates
    # the final content closed-form: score = value/10 for error rows
    # (the UPDATE), 7.5 for the new inserted row, NULL elsewhere.
    """
    WITH final AS (
        SELECT event_id, event_type, value,
               CASE WHEN event_type = 'error' THEN value / 8.0
                    END AS score
        FROM events
        UNION ALL
        SELECT 3000000001 AS event_id, 'manual' AS event_type,
               42.0 AS value, 7.5 AS score
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(score) AS BIGINT) AS n_scored,
           round(sum(score) * 100.0) / 100.0 + 0.0 AS sum_score,
           TRUE AS metadata_only,
           TRUE AS null_before_write,
           TRUE AS constraint_enforced,
           TRUE AS library_read_consistent
    FROM final
    """,
    "ALTER TABLE ADD COLUMN: metadata-only typed-NULL column, "
    "UPDATE SET over it (dv, zero rewrites), inserts carrying it, "
    "CHECK constraint over the added column enforced on later writes, "
    "and the plain-library read path (read_table, no SQL session) "
    "agrees with the SQL path on the evolved table's content",
    tags=("layout", "schema-evolution", "sql"),
)
def layout_add_column_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::add_column through the SQL
    front-end: ADD COLUMN -> all-NULL read -> UPDATE SET (merge-on-
    read) -> INSERT with the column -> ADD CONSTRAINT over it ->
    violating INSERT rejected."""
    import json
    import pathlib
    import shutil
    import tempfile

    from ..operators.layout import ConstraintViolationError, append_files
    from ..plans.sql_dml import ManifestSession

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="addcol_gate_")
    shutil.rmtree(work)
    try:
        append_files(spark, work, ev.coalesce(4))
        p = pathlib.Path(work)
        files_before = set(
            json.loads((p / "_manifest.json").read_text())["files"]
        )
        ses = ManifestSession(spark, mode="dv").register("ac_tab", work)
        ses.sql("ALTER TABLE ac_tab ADD COLUMN score DOUBLE")
        files_after = set(
            json.loads((p / "_manifest.json").read_text())["files"]
        )
        metadata_only = files_before == files_after
        null_before = (
            ses.sql("SELECT count(score) AS n FROM ac_tab").first()["n"] == 0
        )
        ses.sql(
            "UPDATE ac_tab SET score = value / 8.0 "
            "WHERE event_type = 'error'"
        )
        ses.sql(
            "INSERT INTO ac_tab (event_id, event_type, value, score) "
            "VALUES (3000000001, 'manual', 42.0, 7.5)"
        )
        ses.sql("ALTER TABLE ac_tab ADD CONSTRAINT score_pos CHECK (score >= 0)")
        enforced = False
        try:
            ses.sql(
                "INSERT INTO ac_tab (event_id, event_type, value, score) "
                "VALUES (3000000002, 'manual', 1.0, -1.0)"
            )
        except ConstraintViolationError:
            enforced = True
        r = ses.sql("SELECT * FROM ac_tab").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count("score").cast("bigint").alias("ns"),
            dround(F.sum("score"), 2).alias("s"),
        ).collect()[0]
        # round-14 (VERDICT r13 finding #1): the PLAIN library read
        # path — read_table with its merge_schema=False default, no
        # SQL session — must see the same evolved content; before the
        # _schema_heterogeneous fix this was a footer-sampling coin
        # flip that silently nulled stored score values
        from ..operators.layout import read_table

        lib = read_table(spark, work).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count("score").cast("bigint").alias("ns"),
            dround(F.sum("score"), 2).alias("s"),
        ).collect()[0]
        lib_consistent = (
            lib["n"] == r["n"]
            and lib["ns"] == r["ns"]
            and float(lib["s"]) == float(r["s"])
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                r["n"],
                r["ns"],
                float(r["s"]),
                metadata_only,
                null_before,
                enforced,
                lib_consistent,
            )
        ],
        "n_rows bigint, n_scored bigint, sum_score double, "
        "metadata_only boolean, null_before_write boolean, "
        "constraint_enforced boolean, library_read_consistent boolean",
    )


@register(
    "layout_cdc_replication",
    # The CDC table-to-table pipeline (Delta CDF -> MERGE apply, the
    # silver/gold-layer pattern): downstream bootstraps as a ZERO-COPY
    # shallow clone, then each replicate_changes step pulls the
    # upstream change feed since the checkpointed version, reduces it
    # to the NET effect per record key (latest image wins; delete-only
    # keys tombstone), and applies it as a delete-merge + image-upsert
    # pair. in_sync is TRUE because the replicated table row-diffs
    # empty against the upstream after two mutation batches (DV
    # delete + cow update + re-keyed append, then churn: delete and
    # re-insert the same key plus a delete-only key); replay_idempotent
    # is TRUE because re-applying the same version range leaves the
    # downstream unchanged. The oracle restates the final upstream
    # content closed-form.
    """
    WITH final AS (
        SELECT event_id,
               CASE WHEN event_type = 'click' THEN value + 1000.0
                    ELSE value END AS value
        FROM events
        WHERE value > 100.0 AND event_id % 13 <> 0
        UNION ALL
        SELECT event_id + 4000000000 AS event_id, value / 2.0 AS value
        FROM events
        WHERE event_id % 17 = 0 AND (event_id + 4000000000) % 13 <> 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
               AS sum_value_cents,
           CAST(count(CASE WHEN event_id >= 4000000000 THEN 1 END)
                AS BIGINT) AS n_replicated_inserts,
           TRUE AS in_sync,
           TRUE AS replay_idempotent,
           CAST(0 AS BIGINT) AS bytes_copied_at_bootstrap
    FROM final
    """,
    "CDC replication: shallow-clone bootstrap + incremental change-"
    "feed pulls reduced to net-effect-per-key and MERGE-applied "
    "downstream; row-identical to upstream, replay-idempotent",
    tags=("layout", "cdf", "merge", "replication"),
)
def layout_cdc_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py::replicate_changes end-to-end over
    clone_table + follow_changes + merge_rows: the incremental
    downstream-table maintenance loop a 100 TB lakehouse runs instead
    of full refreshes."""
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        clone_table,
        delete_rows,
        follow_changes,
        read_table,
        replicate_changes,
        update_rows,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    up = tempfile.mkdtemp(prefix="cdc_up_")
    down = tempfile.mkdtemp(prefix="cdc_down_")
    shutil.rmtree(up)
    shutil.rmtree(down)
    try:
        append_files(spark, up, ev.coalesce(4))
        st_clone = clone_table(up, down)  # zero-copy bootstrap
        _, ver = follow_changes(spark, up, None)
        v0 = ver
        # batch 1: DV delete + cow update + re-keyed append
        delete_rows(spark, up, "value <= 100.0", mode="dv")
        update_rows(
            spark, up, "event_type = 'click'", {"value": "value + 1000.0"},
            mode="cow",
        )
        append_files(
            spark,
            up,
            ev.filter(F.col("event_id") % 17 == 0).select(
                (F.col("event_id") + 4_000_000_000).alias("event_id"),
                F.lit("replicated").alias("event_type"),
                (F.col("value") / 2.0).alias("value"),
            ),
        )
        _, ver = replicate_changes(spark, up, down, ["event_id"], ver)
        # batch 2 (churn): delete + delete-only keys
        delete_rows(spark, up, "event_id % 13 = 0", mode="dv")
        st2, ver = replicate_changes(spark, up, down, ["event_id"], ver)

        def _content(path):
            return (
                read_table(spark, path)
                .select("event_id", "value")
                .sort("event_id", "value")
            )

        upc, downc = _content(up), _content(down)
        in_sync = (
            upc.exceptAll(downc).limit(1).count() == 0
            and downc.exceptAll(upc).limit(1).count() == 0
        )
        # replay the FULL range against the already-synced downstream
        replicate_changes(spark, up, down, ["event_id"], v0)
        replay_ok = (
            _content(down).exceptAll(upc).limit(1).count() == 0
            and upc.exceptAll(_content(down)).limit(1).count() == 0
        )
        # integer-cents sum: per-row dround then exact integer
        # addition — immune to float-summation-order flips at a
        # 2-decimal rounding boundary (the sf0.001 parity flake)
        r = read_table(spark, down).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(dround(F.col("value") * 100, 0).cast("long"))
            .cast("bigint")
            .alias("s"),
            F.count(F.when(F.col("event_id") >= 4_000_000_000, 1))
            .cast("bigint")
            .alias("ri"),
        ).collect()[0]
    finally:
        shutil.rmtree(up, ignore_errors=True)
        shutil.rmtree(down, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                r["n"],
                int(r["s"]),
                r["ri"],
                in_sync,
                replay_ok,
                int(st_clone["n_bytes_copied"]),
            )
        ],
        "n_rows bigint, sum_value_cents bigint, "
        "n_replicated_inserts bigint, "
        "in_sync boolean, replay_idempotent boolean, "
        "bytes_copied_at_bootstrap bigint",
    )


@register(
    "layout_cdc_commit_time",
    # Round-14: commit-time CDC extraction (Delta CDF's _change_data
    # design). Every mutation stages its change rows when it commits,
    # so a change-feed pull over a DV-delete/UPDATE/MERGE/compaction
    # range reads ONLY staged change files + appended data files --
    # never the table, never a snapshot diff. The three booleans are
    # the structural proof: the pull's scan set is exclusively
    # change-data/append files (scan-width spy via input_file_name),
    # its optimized plan contains no Except node (no exceptAll
    # fallback), and folding the feed (+insert/-delete) onto the
    # range-start snapshot reconstructs the final table exactly. The
    # numerics restate the feed closed-form over events: the DV
    # delete kills value <= 50 rows, the UPDATE adds 500 to surviving
    # 'error' rows (pre-image -> delete, post-image -> insert in the
    # keyless vocabulary), the MERGE inserts re-keyed %11 rows at
    # value/4, the append lands re-keyed %7 rows verbatim, and the
    # OPTIMIZE between them is a recorded noop transition
    # contributing ZERO feed rows (not a diff that proves emptiness).
    """
    WITH del_side AS (
        SELECT value FROM events WHERE value <= 50.0
        UNION ALL
        SELECT value FROM events WHERE event_type = 'error' AND value > 50.0
    ),
    ins_side AS (
        SELECT value + 500.0 AS value FROM events
        WHERE event_type = 'error' AND value > 50.0
        UNION ALL
        SELECT value / 4.0 AS value FROM events WHERE event_id % 11 = 0
        UNION ALL
        SELECT value FROM events WHERE event_id % 7 = 0
    )
    SELECT CAST((SELECT count(*) FROM del_side) AS BIGINT) AS n_deletes,
           CAST((SELECT count(*) FROM ins_side) AS BIGINT) AS n_inserts,
           CAST((SELECT sum(CAST(round(value * 100.0) AS BIGINT))
                 FROM ins_side) AS BIGINT) AS sum_insert_cents,
           TRUE AS feed_scans_only_change_data,
           TRUE AS no_snapshot_diff_in_plan,
           TRUE AS fold_reconstructs_snapshot
    """,
    "commit-time CDC: change-feed pull over DV-delete/UPDATE/MERGE/"
    "OPTIMIZE commits served from staged change files only -- scan-"
    "width-spied, no-Except plan guard, fold-reconstruction checked",
    tags=("layout", "cdf", "scale"),
)
def layout_cdc_commit_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/layout.py round-14 surface: _stage_change_rows
    at every mutation commit + read_changes composition over per-
    commit records (the extraction half VERDICT r13 flagged as the
    one O(table) plan; see tools/cdc_ab_bench.py for the measured
    30x at sf10)."""
    import pathlib
    import re
    import shutil
    import tempfile

    from ..operators.layout import (
        append_files,
        compact_table,
        delete_rows,
        manifest_versions,
        merge_rows,
        read_changes,
        read_table,
        update_rows,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="cdc_ct_gate_")
    shutil.rmtree(work)
    try:
        append_files(spark, work, ev.coalesce(4))
        v0 = manifest_versions(work)[-1]
        snap0 = read_table(spark, work, version=v0)
        delete_rows(spark, work, "value <= 50.0", mode="dv")
        update_rows(
            spark, work, "event_type = 'error'", {"value": "value + 500.0"}
        )
        compact_table(spark, work, target_file_bytes=1 << 26)  # OPTIMIZE: noop feed
        merge_rows(
            spark,
            work,
            ev.filter(F.col("event_id") % 11 == 0).select(
                (F.col("event_id") + 5_000_000_000).alias("event_id"),
                F.col("event_type"),
                (F.col("value") / 4.0).alias("value"),
            ),
            on="event_id",
        )
        append_files(
            spark,
            work,
            ev.filter(F.col("event_id") % 7 == 0).select(
                (F.col("event_id") + 6_000_000_000).alias("event_id"),
                F.col("event_type"),
                F.col("value"),
            ),
        )
        v1 = manifest_versions(work)[-1]
        feed = read_changes(spark, work, v0, v1)
        # plan guard: the pull contains NO snapshot diff
        no_except = (
            "Except"
            not in feed._jdf.queryExecution().analyzed().toString()
        )
        # scan-width spy: only change-data + appended files (an append's
        # files, a MERGE's `-i` insert files), no table file
        scanned = {
            r[0].rsplit("/", 1)[-1]
            for r in feed.select(F.input_file_name()).distinct().collect()
            if r[0]
        }
        only_change_data = bool(scanned) and all(
            n.startswith(("cdc-", "append-"))
            or re.fullmatch(r"part-merge-[0-9a-f]+-i\d+\.parquet", n)
            for n in scanned
        )
        ins = feed.filter(F.col("_change_type") == "insert")
        dele = feed.filter(F.col("_change_type") == "delete")
        cols = ["event_id", "event_type", "value"]
        folded = snap0.select(*cols).unionByName(ins.select(*cols)).exceptAll(
            dele.select(*cols)
        )
        final = read_table(spark, work).select(*cols)
        fold_ok = (
            folded.exceptAll(final).limit(1).count() == 0
            and final.exceptAll(folded).limit(1).count() == 0
        )
        r = feed.agg(
            F.count(F.when(F.col("_change_type") == "delete", 1))
            .cast("bigint")
            .alias("nd"),
            F.count(F.when(F.col("_change_type") == "insert", 1))
            .cast("bigint")
            .alias("ni"),
            F.sum(
                F.when(
                    F.col("_change_type") == "insert",
                    dround(F.col("value") * 100, 0).cast("long"),
                )
            )
            .cast("bigint")
            .alias("sc"),
        ).collect()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                r["nd"],
                r["ni"],
                int(r["sc"]),
                only_change_data,
                no_except,
                fold_ok,
            )
        ],
        "n_deletes bigint, n_inserts bigint, sum_insert_cents bigint, "
        "feed_scans_only_change_data boolean, "
        "no_snapshot_diff_in_plan boolean, "
        "fold_reconstructs_snapshot boolean",
    )
