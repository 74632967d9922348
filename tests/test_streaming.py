"""Streaming semantics tests beyond the rows-only gate: the stateful
streaming operators must agree with their batch twins on bounded input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.streaming import jobs
from tests.conftest import SF_SMOKE


def test_session_windows_match_batch_sessionizer(spark):
    """session_window(30 min) over the bounded stream must produce the
    same per-user session count and event total as the batch
    lag/cumsum sessionizer (identical gap rule; exact-30:00 gaps are
    measure-zero in µs data)."""
    from dbt_slabbing_spark.queries import registry

    stream = jobs.session_windows(spark, SF_SMOKE)
    stream_per_user = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in stream.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    }
    batch = registry()["window_sessionize_batch"].fn(spark, SF_SMOKE)
    batch_per_user = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    }
    assert stream_per_user == batch_per_user


def test_streaming_dedup_counts_match_batch(spark):
    stream = {r["event_type"]: r["n"] for r in jobs.streaming_dedup(spark, SF_SMOKE).collect()}
    from dbt_slabbing_spark.catalog import table

    batch = {
        r["event_type"]: r["n"]
        for r in table(spark, SF_SMOKE, "events")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert stream == batch


def test_stateful_levels_deterministic(spark):
    """applyInPandasWithState: crossings are a pure function of the
    per-user purchase sequence — two runs must agree exactly."""
    a = sorted(map(tuple, jobs.stateful_high_value_flags(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, jobs.stateful_high_value_flags(spark, SF_SMOKE).collect()))
    assert a == b and len(a) > 0


def test_hourly_counts_total_conservation(spark):
    """Windowed totals must conserve the global event count."""
    out = jobs.hourly_type_counts(spark, SF_SMOKE)
    total = out.agg(F.sum("n")).collect()[0][0]
    from dbt_slabbing_spark.catalog import table

    assert total == table(spark, SF_SMOKE, "events").count()


def test_checkpoint_recovery_no_reprocessing(spark, tmp_path):
    """Exactly-once bookkeeping: restarting a query on the same
    checkpoint must NOT re-emit the already-processed input (the file
    source records consumed files in the checkpoint's offset log)."""
    from dbt_slabbing_spark.streaming.jobs import _events_stream

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        rows = _events_stream(spark, SF_SMOKE).select("event_id", "event_type")
        q = (
            rows.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.read.parquet(out).count()

    assert run_once() == 1000  # sf0.001 events fully written once
    # restart on the same checkpoint: input already consumed → no dupes
    assert run_once() == 1000


def test_foreach_batch_replay_idempotent(spark, tmp_path):
    """The foreachBatch writer must be idempotent under micro-batch
    replay: re-invoking it with the SAME batch_id (what the engine does
    after a mid-batch failure) leaves the sink rollup unchanged."""
    from dbt_slabbing_spark.catalog import table
    from dbt_slabbing_spark.streaming.jobs import batch_partition_writer, foreach_batch_totals

    sink = str(tmp_path / "sink")
    first = {
        r["event_type"]: (r["n"], r["total_value"])
        for r in foreach_batch_totals(spark, SF_SMOKE, sink).collect()
    }
    batch = {
        r["event_type"]: r["n"]
        for r in table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {t: n for t, (n, _) in first.items()} == batch

    # replay batch 0: same input, same batch_id → dynamic partition
    # overwrite replaces its own output, so nothing double-counts
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    if dict(events.dtypes).get("ts") == "bigint":
        events = events.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    batch_partition_writer(sink)(events, 0)
    after = {
        r["event_type"]: (r["n"], r["total_value"])
        for r in spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            (F.round(F.sum("total_value") * 100.0) / 100.0).alias("total_value"),
        )
        .collect()
    }
    assert {t: n for t, (n, _) in after.items()} == batch


def test_transform_with_state_matches_apply_in_pandas(spark):
    """Spark 4 transformWithStateInPandas must emit the same level
    crossings as the applyInPandasWithState twin. Requires the protobuf
    python package (the TWS worker protocol); skipped where absent."""
    pytest.importorskip("google.protobuf")
    a = sorted(map(tuple, jobs.stateful_high_value_flags(spark, SF_SMOKE).collect()))
    b = sorted(
        map(tuple, jobs.stateful_levels_transform_with_state(spark, SF_SMOKE).collect())
    )
    assert a == b


def test_stateful_levels_on_rocksdb_state_store(spark):
    """The production state-store backend (RocksDB) must produce the
    same level crossings as the default HDFS-backed store — state
    semantics cannot depend on the provider."""
    baseline = sorted(map(tuple, jobs.stateful_high_value_flags(spark, SF_SMOKE).collect()))
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = sorted(map(tuple, jobs.stateful_high_value_flags(spark, SF_SMOKE).collect()))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert rocks == baseline and len(rocks) > 0


def test_update_mode_incremental_counts_fold_to_batch(spark, tmp_path):
    """UPDATE output mode over a multi-microbatch replay must emit
    monotonically growing per-key counts whose FINAL value equals the
    batch GROUP BY — exercising incremental state across batches (the
    single-file corpus replay runs everything in one batch, so this
    builds a 4-file copy and feeds it one file per trigger)."""
    import uuid

    from dbt_slabbing_spark.catalog import table

    src = str(tmp_path / "events_files")
    events = table(spark, SF_SMOKE, "events")
    events.repartition(4).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    counts = stream.groupBy("event_type").count()
    name = f"upd_{uuid.uuid4().hex[:8]}"
    q = counts.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    sink = spark.sql(f"SELECT * FROM {name}")
    emitted = sink.collect()
    batch = {r["event_type"]: r["count"] for r in events.groupBy("event_type").count().collect()}
    # several micro-batches → more emissions than final keys
    assert len(emitted) > len(batch)
    # counts only grow; the max per key is the final state == batch twin
    final = {}
    for r in emitted:
        final[r["event_type"]] = max(final.get(r["event_type"], 0), r["count"])
    assert final == batch


def test_band_dedup_verdicts_invariant_to_batch_slicing(spark, tmp_path):
    """The streaming band-dedup outcome must not depend on how the
    stream was micro-batched: 60-row batches and one giant batch give
    identical verdicts (doc_id-ordered arrival makes the incremental
    registry equal the global closed form)."""
    from dbt_slabbing_spark.streaming.jobs import streaming_band_dedup
    from tests.conftest import SF_SMOKE

    a = {
        r["doc_id"]: (r["n_dup_bands"], r["kept"])
        for r in streaming_band_dedup(
            spark, SF_SMOKE, str(tmp_path / "a"), rows_per_batch=60
        ).collect()
    }
    b = {
        r["doc_id"]: (r["n_dup_bands"], r["kept"])
        for r in streaming_band_dedup(
            spark, SF_SMOKE, str(tmp_path / "b"), rows_per_batch=100000
        ).collect()
    }
    assert a == b and len(a) > 0
    # Scale guard: the claimed-bands registry must live in Spark's
    # STATE STORE (keyed incremental lookups — per-batch cost is
    # proportional to the batch), not in a parquet dir that every
    # micro-batch re-reads in full (per-batch cost grows with the
    # corpus). The state dir existing + no registry dir is the
    # observable contract.
    assert not (tmp_path / "a" / "band_registry").exists()
    state_dirs = list((tmp_path / "a" / "checkpoint" / "state").rglob("*"))
    assert state_dirs, "applyInPandasWithState produced no state store files"


def test_band_dedup_runs_on_rocksdb_and_matches_hdfs_store(spark, tmp_path, monkeypatch):
    """stream_minhash_band_dedup's gate path now PINS the RocksDB
    state-store provider (streaming/jobs.py::ROCKSDB_PROVIDER — the
    production backend: state spills to local disk instead of executor
    heap maps). Verdicts must be identical under both providers, and
    the RocksDB run must actually engage the provider (observable as
    rocksdb files under the checkpoint's state dir)."""
    import contextlib

    from dbt_slabbing_spark.streaming.jobs import streaming_band_dedup
    from tests.conftest import SF_SMOKE

    rocks = {
        r["doc_id"]: (r["n_dup_bands"], r["kept"])
        for r in streaming_band_dedup(
            spark, SF_SMOKE, str(tmp_path / "rocks"), rows_per_batch=60
        ).collect()  # pinned provider = RocksDB
    }
    # without the pin the session default (HDFS-backed) store runs
    monkeypatch.setattr(jobs, "_rocksdb_state_store", lambda _spark: contextlib.nullcontext())
    hdfs = {
        r["doc_id"]: (r["n_dup_bands"], r["kept"])
        for r in streaming_band_dedup(
            spark, SF_SMOKE, str(tmp_path / "hdfs"), rows_per_batch=60
        ).collect()
    }
    assert rocks == hdfs and len(rocks) > 0
    state_root = tmp_path / "rocks" / "checkpoint" / "state"
    rocks_files = [p for p in state_root.rglob("*") if "rocksdb" in p.name.lower()
                   or "rocksdb" in str(p.parent).lower() or p.suffix in (".zip", ".changelog")]
    assert rocks_files, f"no RocksDB artifacts under {state_root}"


def test_quality_funnel_slicing_invariant_and_matches_batch(spark, tmp_path):
    """stream_quality_funnel: (a) verdicts independent of micro-batch
    slicing (60-row batches == one giant batch), (b) stage-consistent
    with the BATCH funnel — length/repetition/exact_dup verdicts agree
    exactly, and docs the batch funnel sends on to the near-dup stage
    (verdict 'near_dup' or 'kept') are exactly the streaming funnel's
    'kept' set (the streaming form runs the funnel's first three
    stages; near-dup already has its own streaming twin)."""
    from dbt_slabbing_spark.queries import registry
    from dbt_slabbing_spark.streaming.jobs import streaming_quality_funnel
    from tests.conftest import SF_SMOKE

    a = {
        r["doc_id"]: r["verdict"]
        for r in streaming_quality_funnel(
            spark, SF_SMOKE, str(tmp_path / "a"), rows_per_batch=60
        ).collect()
    }
    b = {
        r["doc_id"]: r["verdict"]
        for r in streaming_quality_funnel(
            spark, SF_SMOKE, str(tmp_path / "b"), rows_per_batch=100000
        ).collect()
    }
    assert a == b and len(a) > 0

    batch = {
        r["doc_id"]: r["verdict"]
        for r in registry()["pipeline_quality_funnel"].fn(spark, SF_SMOKE).collect()
    }
    assert set(a) == set(batch)
    for doc_id, v in batch.items():
        if v in ("length", "repetition", "exact_dup"):
            assert a[doc_id] == v, (doc_id, v, a[doc_id])
        else:  # 'near_dup' or 'kept': past the streaming funnel's stages
            assert a[doc_id] == "kept", (doc_id, v, a[doc_id])
    # the state store is engaged (not a re-scanned side table)
    state_dirs = list((tmp_path / "a" / "checkpoint" / "state").rglob("*"))
    assert state_dirs, "quality funnel produced no state store files"


def test_domain_cap_slicing_invariant_and_matches_batch_rule(spark, tmp_path):
    """stream_domain_cap: verdicts independent of micro-batch slicing
    (37-row batches == one giant batch — 37 splits domains MID-batch),
    and equal to the global closed form (rank-by-doc_id ≤ cap), i.e.
    the batch cap_docs_per_domain with arrival order as the key."""
    from pyspark.sql import Window

    from dbt_slabbing_spark.catalog import table
    from dbt_slabbing_spark.streaming.jobs import streaming_domain_cap
    from tests.conftest import SF_SMOKE

    small = {
        (r["doc_id"], r["domain"]): r["kept"]
        for r in streaming_domain_cap(
            spark, SF_SMOKE, str(tmp_path / "s"), cap=7, rows_per_batch=37
        ).collect()
    }
    big = {
        (r["doc_id"], r["domain"]): r["kept"]
        for r in streaming_domain_cap(
            spark, SF_SMOKE, str(tmp_path / "b"), cap=7, rows_per_batch=100000
        ).collect()
    }
    assert small == big and len(small) > 0

    w = Window.partitionBy("source").orderBy("doc_id")
    want = {
        (r["doc_id"], r["source"]): r["kept"]
        for r in table(spark, SF_SMOKE, "documents")
        .select("doc_id", "source", (F.row_number().over(w) <= 7).alias("kept"))
        .collect()
    }
    assert small == want
    # the cap actually bites AND keeps something per domain
    kept_per_domain: dict[str, int] = {}
    for (_d, dom), kept in small.items():
        kept_per_domain[dom] = kept_per_domain.get(dom, 0) + int(kept)
    assert set(kept_per_domain.values()) == {7}


def test_quality_funnel_classifier_stage_matches_batch(spark, tmp_path):
    """classifier_weights= at INGEST: the streaming funnel's classifier
    stage (a stateless Column between the rules and the state-store
    claim) must agree doc-for-doc with the batch funnel's, using a
    DISCRIMINATING weight vector (some docs pass, some fail)."""
    from dbt_slabbing_spark.queries import registry
    from dbt_slabbing_spark.streaming.jobs import streaming_quality_funnel
    from tests.conftest import SF_SMOKE

    w = [0.5 if i % 2 == 0 else -0.5 for i in range(256)]
    stream = {
        r["doc_id"]: r["verdict"]
        for r in streaming_quality_funnel(
            spark,
            SF_SMOKE,
            str(tmp_path / "clf"),
            rows_per_batch=60,
            classifier_weights=w,
            classifier_bias=0.0,
        ).collect()
    }
    batch = {
        r["doc_id"]: r["verdict"]
        for r in registry()["pipeline_quality_funnel"].fn(
            spark, SF_SMOKE, classifier_weights=w, classifier_bias=0.0
        ).collect()
    }
    assert set(stream) == set(batch) and len(stream) > 0
    # the vector must actually discriminate or the test is vacuous
    verdicts = set(batch.values())
    assert "classifier" in verdicts and ("kept" in verdicts or "near_dup" in verdicts)
    for doc_id, v in batch.items():
        if v in ("length", "repetition", "classifier", "exact_dup"):
            assert stream[doc_id] == v, (doc_id, v, stream[doc_id])
        else:  # 'near_dup'/'kept': past the streaming funnel's stages
            assert stream[doc_id] == "kept", (doc_id, v, stream[doc_id])


def test_ewma_alert_slicing_invariant_and_matches_fold(spark, tmp_path):
    """stream_ewma_alert: verdicts independent of micro-batch slicing
    (41-row batches split users MID-series vs one giant batch), and
    equal to an independent Python replay of the exact integer
    recursion y_t = (y_{t-1} + x_t + 1) // 2 in nano-units."""
    import math

    from dbt_slabbing_spark.catalog import table
    from dbt_slabbing_spark.streaming.jobs import streaming_ewma_alert
    from tests.conftest import SF_SMOKE

    small = {
        r["event_id"]: (r["user_id"], r["ewma"], r["alert"])
        for r in streaming_ewma_alert(
            spark, SF_SMOKE, str(tmp_path / "s"), threshold=50.0, rows_per_batch=41
        ).collect()
    }
    big = {
        r["event_id"]: (r["user_id"], r["ewma"], r["alert"])
        for r in streaming_ewma_alert(
            spark,
            SF_SMOKE,
            str(tmp_path / "b"),
            threshold=50.0,
            rows_per_batch=10**6,
        ).collect()
    }
    assert small == big and len(small) > 0

    # independent model: per-user fold in event_id order
    rows = sorted(
        (
            (r["event_id"], r["user_id"], r["value"])
            for r in table(spark, SF_SMOKE, "events")
            .select("event_id", "user_id", "value")
            .collect()
        )
    )
    state: dict[int, int] = {}
    want = {}
    for eid, uid, v in rows:
        xn = int(math.copysign(math.floor(abs(v) * 1e9 + 0.5), v))
        yn = state.get(uid)
        if yn is None:
            alert, yn = False, xn
        else:
            alert = abs(xn - yn) > 50_000_000_000
            yn = (yn + xn + 1) // 2
        state[uid] = yn
        want[eid] = (uid, yn / 1e9, alert)
    assert small == want
    # both alert outcomes occur (non-vacuous threshold)
    alerts = {a for (_u, _e, a) in small.values()}
    assert alerts == {True, False}


def test_ewma_oracle_step_floors_like_python_for_negative_values():
    """Pin the cross-engine step semantics over the NEGATIVE domain the
    testdata never exercises (events.value is [0, 560] there): the
    oracle's CAST(floor((a+b+1)/2.0) AS BIGINT) must equal Python's
    flooring (a+b+1)//2 — DuckDB's integer `//` would NOT (it truncates
    toward zero, diverging whenever a+b+1 is negative and odd)."""
    import duckdb

    pairs = [
        (a, b)
        for a in (-5_000_000_001, -3, -2, -1, 0, 1, 2, 3, 7_000_000_003)
        for b in (-4_000_000_003, -3, -1, 0, 1, 3, 9_000_000_001)
    ]
    con = duckdb.connect()
    got = con.execute(
        "SELECT CAST(floor((a + b + 1) / 2.0) AS BIGINT) FROM (VALUES "
        + ", ".join(f"({a}, {b})" for a, b in pairs)
        + ") t(a, b)"
    ).fetchall()
    want = [(a + b + 1) // 2 for a, b in pairs]
    assert [g[0] for g in got] == want
    # and the truncating operator really does diverge — the reason for
    # the floor() form (guards against someone "simplifying" it back)
    trunc = con.execute("SELECT (-4 + 0 + 1) // 2").fetchone()[0]
    assert trunc == -1 and (-4 + 0 + 1) // 2 == -2


def test_manifest_append_sink_exactly_once_under_replay(spark, tmp_path):
    """stream_manifest_append: the manifest table lands exactly the
    replayed events regardless of batch slicing, and a REPLAYED batch id
    is a committed no-op (no new manifest version, no new files, no
    duplicate rows) — the exactly-once contract of the sink."""
    from dbt_slabbing_spark.catalog import table
    from dbt_slabbing_spark.operators import layout
    from dbt_slabbing_spark.streaming.jobs import streaming_manifest_append
    from tests.conftest import SF_SMOKE

    rollup = {
        r["event_type"]: (r["n"], r["total_value"])
        for r in streaming_manifest_append(
            spark, SF_SMOKE, str(tmp_path / "w"), rows_per_batch=997
        ).collect()
    }
    tdir = str(tmp_path / "w" / "events_table")
    n_events = table(spark, SF_SMOKE, "events").count()
    assert sum(n for n, _ in rollup.values()) == n_events

    vers_before = layout.manifest_versions(tdir)
    live_before = layout.ensure_manifest(tdir)
    assert len(vers_before) >= 2  # multiple micro-batches committed

    # replay batch 0 with (adversarially) DIFFERENT content — a
    # committed batch id must be skipped purely on the live list
    replay_df = spark.createDataFrame(
        [(-1, 999, "dup", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    assert layout.append_batch_idempotent(spark, tdir, replay_df, 0) is False
    assert layout.manifest_versions(tdir) == vers_before
    assert layout.ensure_manifest(tdir) == live_before
    assert layout.read_table(spark, tdir).count() == n_events

    # an UNSEEN batch id still appends (the guard is per-batch, not global)
    assert layout.append_batch_idempotent(spark, tdir, replay_df, 10**6) is True
    assert layout.read_table(spark, tdir).count() == n_events + 1


@pytest.mark.parametrize("runner", ["manifest_append", "domain_cap"])
def test_failing_batch_releases_query_and_confs(spark, tmp_path, monkeypatch, runner):
    """A runner whose batch body raises must still stop its query and
    restore the confs it pinned for the run: the shuffle-partition cap
    (set above defaultParallelism here so the cap really applies) and,
    for the RocksDB claim runners, the state-store provider."""
    from dbt_slabbing_spark.operators import layout

    work = tmp_path / "w"
    if runner == "manifest_append":

        def boom(*_a, **_k):
            raise RuntimeError("injected batch failure")

        monkeypatch.setattr(layout, "append_batch_idempotent", boom)
        run = lambda: jobs.streaming_manifest_append(spark, SF_SMOKE, str(work))  # noqa: E731
    else:
        # the claim sink's directory is a regular file: the first
        # non-empty batch's append fails
        work.mkdir()
        (work / "verdicts").write_text("not a directory")
        run = lambda: jobs.streaming_domain_cap(spark, SF_SMOKE, str(work))  # noqa: E731

    shuffle_key = "spark.sql.shuffle.partitions"
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_shuffle = spark.conf.get(shuffle_key)
    old_provider = spark.conf.get(provider_key, None)
    raised = str(spark.sparkContext.defaultParallelism + 3)
    spark.conf.set(shuffle_key, raised)
    try:
        with pytest.raises(Exception) as failure:
            run()
        if runner == "manifest_append":
            assert "injected batch failure" in str(failure.value)
        assert spark.streams.active == []
        assert spark.conf.get(shuffle_key) == raised
        assert spark.conf.get(provider_key, None) == old_provider
    finally:
        spark.conf.set(shuffle_key, old_shuffle)
