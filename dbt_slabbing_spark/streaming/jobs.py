"""Structured Streaming jobs over replayed parquet input.

Two input shapes, one run path. The windowed and stateful jobs build a
``readStream`` over the parquet events table (the local stand-in for
kafka) and run to completion against the bounded input into a memory
sink, returning the materialized result DataFrame. The ingest runners
(band dedup, quality funnel, domain cap, EWMA alert, manifest append,
CDF mart, WAP landing) read the custom ``parquet_replay`` source in
rate-limited, id-ordered micro-batches (``_replay``) and land each batch
through ``foreachBatch`` in a parquet dir or a manifest table, which is
read back as the result. Every query runs through ``_drain``: start,
``processAllAvailable``, stop, under a capped shuffle-partition count
and, for the RocksDB-backed claim runners, a pinned state-store
provider.

Scale notes: watermarks bound state; the windowed aggregations shuffle
on (window, key) exactly like their batch equivalents; session windows
and dropDuplicatesWithinWatermark keep per-key state that the watermark
expires. On a real cluster the same code points at kafka + a real sink;
nothing below depends on local mode.
"""

from __future__ import annotations

import contextlib
import pathlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..rounding import dround

ROCKSDB_PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


@contextlib.contextmanager
def _capped_shuffle(spark: SparkSession):
    """Cap shuffle partitions for the duration of a replay stream run.

    A stateful operator's state-store partition count is frozen from
    spark.sql.shuffle.partitions at the query's FIRST micro-batch and
    baked into the checkpoint; it is a deliberate per-pipeline sizing
    decision, not something to inherit from an ambient session default.
    Every state partition pays a per-micro-batch fixed cost (state-store
    provider instantiation — RocksDB here — plus a Python worker for
    applyInPandasWithState), so the cap is the cores actually available
    (``defaultParallelism`` — NO constant: a 2000-core cluster session
    keeps 2000 state partitions for high-cardinality state). r14
    measured on the vanilla local[8] drive at sf0.01, band-dedup
    replay: 200 partitions 183 s → 32 partitions 73 s → 8 partitions
    19.7 s. Restored after the run.
    """
    cap = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        old_n = int(old)
    except ValueError:
        old_n = None  # non-integer session value (e.g. "auto"): leave it alone
    try:
        if old_n is not None and old_n > cap:
            spark.conf.set("spark.sql.shuffle.partitions", str(cap))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@contextlib.contextmanager
def _rocksdb_state_store(spark: SparkSession):
    """Pin the RocksDB state-store provider for queries STARTED inside
    the block, restoring the previous conf on exit (the provider is read
    at query start and pinned into the checkpoint from then on)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _drain(spark: SparkSession, writer: DataStreamWriter, rocksdb: bool = False) -> None:
    """Start ``writer`` and run it to completion over the bounded input,
    under ``_capped_shuffle`` and, when ``rocksdb``, the pinned RocksDB
    state store. The query is stopped and both confs are restored even
    when a batch raises."""
    pin = _rocksdb_state_store(spark) if rocksdb else contextlib.nullcontext()
    with pin, _capped_shuffle(spark):
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def _replay(spark: SparkSession, sf_dir: str, table: str, rows_per_batch: int, *cols) -> DataFrame:
    """``{sf_dir}/{table}.parquet`` as a ``parquet_replay`` stream of
    ``rows_per_batch``-row micro-batches in id order, projected to
    ``cols``.

    Ships the package for the executor-side UDF references, and
    registers the source pickled BY VALUE for the driver-side
    streaming-source runner, which addPyFile does NOT reach (caught by
    the vanilla contract drive; see register_replay_source).
    """
    from ..catalog import _ensure_workers_can_import
    from ..sources.replay_stream import register_replay_source

    _ensure_workers_can_import(spark)
    register_replay_source(spark)
    return (
        spark.readStream.format("parquet_replay")
        .option("path", f"{sf_dir}/{table}.parquet")
        .option("rows_per_batch", str(rows_per_batch))
        .load()
        .select(*cols)
    )


def _append_batches(out_dir: str):
    """foreachBatch body: append every non-empty micro-batch to the
    parquet dir ``out_dir``."""

    def append(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            batch_df.write.mode("append").parquet(out_dir)

    return append


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.ts ships as either TIMESTAMP(NANOS) or NTZ micros depending
    # on the testdata generation; normalize to a session-TZ TIMESTAMP so
    # watermarks accept it (see catalog._normalize_event_time).
    from ..catalog import _ensure_workers_can_import, _normalize_event_time, _read_parquet_file

    _ensure_workers_can_import(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _read_parquet_file(spark, f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return _normalize_event_time(stream)


def _run_to_completion(result: DataFrame, output_mode: str, rocksdb: bool = False) -> DataFrame:
    """Drive the streaming query over the bounded input into a memory
    sink; return the sink.

    State-store partition count is fixed by shuffle.partitions at the
    FIRST micro-batch; a vanilla session's 200 partitions means 200
    state stores for a 10k-row replay (pure scheduling overhead, ~10 s
    per query). ``_drain`` caps it for the run and restores it after —
    on a real cluster the session owner sizes this to the key
    cardinality.
    """
    spark = result.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    writer = result.writeStream.outputMode(output_mode).format("memory").queryName(name)
    _drain(spark, writer, rocksdb)
    return spark.table(name)


def hourly_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type with a 2-hour watermark."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dround(F.sum("value"), 2).alias("total_value"))
    )
    out = _run_to_completion(agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
    )


def sliding_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour windows every 1 hour, per user bucket."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), (F.col("user_id") % 10).alias("user_bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_completion(agg, "complete")
    return out.select(F.col("w.start").alias("window_start"), "user_bucket", "n")


def trending_topk(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Streaming agg feeding a ranked serving mart — the trending-items
    shape: tumbling hourly counts per JSON-extracted property key
    maintained BY THE STREAM (watermarked state), the top-k rank
    applied as a BATCH window over the emitted mart (streaming DFs
    can't host row_number; the production pipeline ranks in the
    serving query exactly like this). Tie-break (count DESC, key ASC)
    keeps the result deterministic under replay."""
    from pyspark.sql import Window

    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_completion(agg, "complete")
    rk = Window.partitionBy("w").orderBy(F.desc("n"), F.asc("prop_k"))
    return (
        out.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= k)
        .select(
            F.col("w.start").alias("window_start"),
            "prop_k",
            "n",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap per user."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dround(F.sum("value"), 2).alias("session_value"))
    )
    out = _run_to_completion(agg, "complete")
    return out.select(
        F.col("w.start").alias("session_start"), "user_id", "n_events", "session_value"
    )


def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched per-microbatch by a
    static dimension (customer segment on user_id = c_custkey), then a
    windowed rollup by segment.

    The static side is re-planned each micro-batch (Spark joins it as an
    ordinary batch relation — broadcast here, since the dim is small),
    so dimension updates between batches are picked up automatically; no
    state is kept for the join itself, only for the windowed aggregate.
    At 100 TB the same code holds: the stream shuffles on the aggregate
    key only, and the dim join strategy is the planner's per-batch call.
    """
    from ..catalog import table

    seg = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .join(seg, "user_id")  # stream-static inner join: stateless
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), dround(F.sum("value"), 2).alias("total_value"))
    )
    out = _run_to_completion(agg, "complete")
    return out.select(F.col("w.start").alias("window_start"), "c_mktsegment", "n", "total_value")


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-style dedup on event_id within the watermark, then a
    running per-type count — the streaming twin of exact dedup."""
    deduped = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_completion(deduped, "complete")
    return out


def batch_partition_writer(sink_dir: str):
    """The foreachBatch body: write this micro-batch's per-type totals
    to a parquet sink partitioned by batch_id, with DYNAMIC partition
    overwrite. Idempotence argument: a retried micro-batch re-runs with
    the SAME batch_id, so its rewrite replaces exactly its own partition
    — no double counting. This is the standard exactly-once recipe when
    the sink is a plain object store (no transactional table format).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            # raw per-batch sums — rounding happens ONLY in the final
            # rollup, else per-batch rounding error accumulates
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(sink_dir)
        )

    return write_batch


def foreach_batch_totals(spark: SparkSession, sf_dir: str, sink_dir: str) -> DataFrame:
    """foreachBatch sink job: stream events → per-batch totals in a
    batch_id-partitioned parquet sink → cross-batch rollup.

    The rollup over the sink equals the batch-mode aggregate no matter
    how the input was micro-batched (sum of per-batch counts/sums), and
    stays correct under batch replay — asserted by the test suite.
    """
    writer = _events_stream(spark, sf_dir).writeStream.outputMode("append")
    _drain(spark, writer.foreachBatch(batch_partition_writer(sink_dir)))
    return (
        spark.read.parquet(sink_dir)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            dround(F.sum("total_value"), 2).alias("total_value"),
        )
    )


def _level_crossings(user_id: int, total: float, chunks) -> tuple:
    """Pure fold step for the level-crossing monitors: add one user's
    purchase ``chunks`` (pandas frames) to the carried ``total`` and
    return (the frame of 100-unit levels crossed, the new total).

    The chunks are concatenated BEFORE sorting — chunk delivery order is
    not event-time order — and tied timestamps are pinned with event_id
    (stable across engines; a bare ts-only unstable sort diverges from
    the batch-twin oracle's ORDER BY ts, event_id whenever two purchases
    share a ts)."""
    import pandas as pd

    crossings = []
    chunks = list(chunks)
    if chunks:
        batch = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for v in batch["value"]:
            before = int(total // 100)
            total += float(v)
            after = int(total // 100)
            if after > before:
                crossings.append(after * 100)
    return pd.DataFrame({"user_id": [user_id] * len(crossings), "level": crossings}), total


def stateful_high_value_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per user,
    emit cumulative purchase value whenever it crosses 100-unit levels.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0.0
        out, total = _level_crossings(key[0], total, pdf_iter)
        state.update((total,))
        yield out

    stream = _events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    flagged = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id bigint, level bigint",
            stateStructType="total double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_completion(flagged, "append")


def _purchases_with_clicks(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Run the stream-stream interval join of purchases (``user_id``,
    ``purchase_id``, ``p_ts``) to the same user's clicks (``c_user``,
    ``click_id``, ``click_ts``) in the preceding hour, both sides under
    a 2-hour watermark, with join type ``how``; return the sink."""

    def side(event_type: str, user: str, event_id: str, ts: str) -> DataFrame:
        return (
            _events_stream(spark, sf_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(user),
                F.col("event_id").alias(event_id),
                F.col("ts").alias(ts),
            )
            .withWatermark(ts, "2 hours")
        )

    joined = side("purchase", "user_id", "purchase_id", "p_ts").join(
        side("click", "c_user", "click_id", "click_ts"),
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("p_ts")),
        how,
    )
    return _run_to_completion(joined, "append")


def purchase_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding hour.

    Both sides carry a watermark so the join state is bounded: a click
    can be evicted once the purchase-side watermark passes click_ts +
    1 hour (Spark derives the eviction bound from the time-range join
    condition). Over the bounded replay the inner join emits exactly
    the batch-join result, so this query has a real SQL oracle.
    """
    out = _purchases_with_clicks(spark, sf_dir, "inner")
    return out.select(
        "user_id",
        "purchase_id",
        "click_id",
        (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("click_ts"))).alias("lag_us"),
    )


def stateful_levels_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas`` twin of
    :func:`stateful_high_value_flags` (same semantics, new API).

    The new stateful-processor API gives named state variables
    (value/list/map state), timers, and TTL — strictly more expressive
    than ``applyInPandasWithState``'s single state tuple — and runs on
    the RocksDB state store.

    Requires the ``protobuf`` Python package (the processor protocol is
    protobuf-framed); environments without it raise ImportError and the
    ``applyInPandasWithState`` path above remains the supported one.
    The calling test skips accordingly.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor  # noqa: F401
    import google.protobuf.descriptor  # noqa: F401  — hard dep of the TWS python worker

    class LevelProcessor(StatefulProcessor):
        def init(self, handle):
            self._total = handle.getValueState("total", "total double")

        def handleInputRows(self, key, rows, timer_values):
            total = self._total.get()[0] if self._total.exists() else 0.0
            out, total = _level_crossings(key[0], total, rows)
            self._total.update((total,))
            yield out

        def close(self):
            pass

    stream = _events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=LevelProcessor(),
        outputStructType="user_id bigint, level bigint",
        outputMode="Append",
        timeMode="None",
    )
    return _run_to_completion(out, "append", rocksdb=True)


def purchase_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase, matched
    to preceding-hour clicks or emitted with a NULL click once the
    watermark proves no match can still arrive.

    The outer semantics are the point: an unmatched purchase sits in
    state until the watermark passes its eviction bound, THEN emits its
    null-augmented row — so rows whose bound the final watermark never
    passes stay in state forever and are NOT in the result. To keep the
    gate deterministic the result is restricted (identically in the SQL
    oracle) to purchases at least 4 hours before the stream's max event
    time: far inside the final watermark (max_ts - 2h), where every
    unmatched purchase has provably been evicted and emitted.
    """
    out = _purchases_with_clicks(spark, sf_dir, "leftOuter")
    # Horizon bound computed batch-side (identical in the SQL oracle).
    # The global watermark is the MIN of the two sides' watermarks, and
    # each side tracks the max event time of the rows reaching ITS
    # watermark operator (post-filter: clicks resp. purchases) — so the
    # safe region hangs off least(max click ts, max purchase ts), not
    # the global max event time (at small SFs the last click can trail
    # the last event by hours).
    from ..catalog import table

    ev = table(spark, sf_dir, "events")
    mx = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ).alias("mx")
    )
    return (
        out.crossJoin(F.broadcast(mx))
        .filter(F.col("p_ts") <= F.col("mx") - F.expr("INTERVAL 4 HOURS"))
        .select(
            "user_id",
            "purchase_id",
            "click_id",
            F.col("click_id").isNotNull().alias("matched"),
        )
    )


def streaming_band_dedup(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    rows_per_batch: int = 200,
) -> DataFrame:
    """Streaming near-dup dedup over a document stream: band-first-wins.

    Documents arrive in doc_id order (replayed through the custom
    ``parquet_replay`` source — rate-limited micro-batches); each doc's
    8-lane minhash signature is banded into 4 keys, and a doc is KEPT
    iff every one of its band keys is unclaimed — i.e. it is the first
    arrival in all its bands. A dropped doc still claims its bands
    (standard streaming near-dedup: the duplicate's bands are as
    "seen" as the original's).

    State = the claimed-bands registry, held in SPARK'S STATE STORE:
    the stream is banded statelessly (per-row array-form minhash,
    ``minhash_sig_from_ab`` — an aggregation would itself be a
    stateful op) and grouped by (band, band_key) through
    ``applyInPandasWithState``, whose per-group state is the claiming
    ``first_doc``. Intra-batch firsts resolve deterministically by min
    doc_id inside the group function; per-doc verdicts (all 4 band
    rows of a doc travel in the same micro-batch) are folded in a
    downstream foreachBatch and appended to the sink. Because batches
    are doc_id-ordered, the claimed first_doc equals the global min
    doc_id per band — the stream's outcome is independent of the
    micro-batch slicing (pinned by pytest; the oracle states the
    global closed form).

    100 TB story: state is bounded by DISTINCT band keys (≪ docs for
    near-dup-heavy corpora) and lives in the incremental state store —
    RocksDB-backed here (``ROCKSDB_PROVIDER``, pinned for the run; the
    HDFS-backed default store holds every key's state in executor HEAP
    maps, which at 100 TB of distinct band keys is an OOM — RocksDB
    spills state to local disk with changelog checkpointing, the
    production norm) — per-batch work is proportional to the BATCH,
    not the corpus. The previous design (parquet registry
    dir re-read + appended each batch) scanned the whole accumulated
    registry every micro-batch, i.e. unbounded per-batch cost as the
    corpus grows; the state store replaces that scan with keyed
    lookups.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.hashing import minhash_ab_pairs, minhash_sig_from_ab

    verdict_dir = f"{work_dir}/verdicts"
    append = _append_batches(verdict_dir)
    bands, rows_per_band = 4, 2

    stream = _replay(spark, sf_dir, "documents", rows_per_batch, "doc_id", "text")
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    banded = (
        # _ab projected into its own column so the md5-per-shingle pass
        # runs once per row, not once per lane (see minhash_ab_pairs).
        stream.select("doc_id", minhash_ab_pairs(F.col("text")).alias("_ab"))
        .select("doc_id", minhash_sig_from_ab(F.col("_ab")).alias("sig"))
        .filter(F.col("sig").isNotNull())
        .select("doc_id", "sig", band_idx)
        .select(
            "doc_id",
            "band",
            F.concat_ws(
                "_",
                *[
                    F.element_at(F.col("sig"), F.col("band") * rows_per_band + i + 1).cast("string")
                    for i in range(rows_per_band)
                ],
            ).alias("band_key"),
        )
    )

    def claim(key, pdfs, state) -> "object":
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            # Band already claimed in an earlier batch: every arrival
            # in this batch is a duplicate occupant.
            dup = [1] * len(rows)
        else:
            first = int(rows["doc_id"].min())
            state.update((first,))
            dup = (rows["doc_id"] != first).astype("int32")
        yield pd.DataFrame({"doc_id": rows["doc_id"], "band": rows["band"], "dup": dup})

    claims = banded.groupBy("band", "band_key").applyInPandasWithState(
        claim,
        outputStructType="doc_id bigint, band int, dup int",
        stateStructType="first_doc bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        verdicts = (
            batch_df.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_bands"),
                F.sum("dup").cast("bigint").alias("n_dup_bands"),
            )
            .withColumn("kept", F.col("n_dup_bands") == 0)
        )
        append(verdicts, batch_id)

    _drain(
        spark,
        claims.writeStream.outputMode("update")
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .foreachBatch(handle),
        rocksdb=True,
    )
    return spark.read.parquet(verdict_dir).select("doc_id", "n_bands", "n_dup_bands", "kept")


def streaming_quality_funnel(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    rows_per_batch: int = 200,
    classifier_weights: list[float] | None = None,
    classifier_bias: float = 0.0625,
) -> DataFrame:
    """The pretraining funnel's cheap stages AT INGEST: quality rules →
    exact dedup, per micro-batch, over the document replay stream.

    Composes with :func:`streaming_band_dedup` (the funnel's expensive
    near-dup stage already runs streaming) to give the full
    RefinedWeb-style funnel an ingest-time shape: rule verdicts are
    STATELESS column expressions (zero state, zero shuffle — the same
    formulas as the batch ``pipeline_quality_funnel``), and the
    exact-dedup claim lives in the STATE STORE keyed by the normalized
    content hash (``applyInPandasWithState``; RocksDB by default —
    distinct-content keys scale with the corpus). ``classifier_weights``
    (optional) inserts the supervised quality-classifier stage between
    the rules and the claim, exactly as in the batch funnel
    (queries/funnel.py) — still a stateless Column expression (the
    weights are plan literals), so ingest-time cost stays map-only and
    the batch/streaming stage chains remain consistent (parity-tested).
    Rule-rejected docs
    bypass the claim under a unique per-doc key, so a rejected
    duplicate never blocks a later passing copy — matching the batch
    funnel, where dedup runs over the RULE SURVIVORS only.

    doc_id-ordered arrival (the replay source's contract) makes the
    incremental first-wins claim equal the global min-per-hash closed
    form, so the outcome is independent of micro-batch slicing and the
    oracle can state it as one batch SQL query.

    100 TB story: per-batch cost is proportional to the batch (keyed
    state lookups; no registry re-scan), state is bounded by distinct
    surviving content hashes, and the stage ordering — free rules
    prune BEFORE the stateful claim sees a row — is the same
    cheapest-first cost model as the batch funnel.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.text import normalized

    verdict_dir = f"{work_dir}/verdicts"
    append = _append_batches(verdict_dir)
    stream = _replay(spark, sf_dir, "documents", rows_per_batch, "doc_id", "text")
    w = F.split(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " ")
    if classifier_weights is not None:
        from ..operators.quality_classifier import quality_score

        clf_reject = quality_score(F.col("w"), classifier_weights, classifier_bias) <= 0
    else:
        clf_reject = F.lit(False)
    pre = (
        stream.select("doc_id", "text", w.alias("w"))
        .filter(F.size("w") > 0)
        .select(
            "doc_id",
            F.when(F.size("w") < 20, "length")
            .when(F.size(F.array_distinct("w")).cast("double") / F.size("w") < 0.35, "repetition")
            .when(clf_reject, "classifier")
            .otherwise("pass")
            .alias("pre_verdict"),
            # rejected docs get a UNIQUE key: they must not claim (or
            # be blocked by) the content hash they never competed for
            F.md5(normalized(F.col("text"))).alias("_h"),
        )
        .select(
            "doc_id",
            "pre_verdict",
            F.when(F.col("pre_verdict") == "pass", F.col("_h"))
            .otherwise(F.concat(F.lit("rej|"), F.col("doc_id").cast("string")))
            .alias("claim_key"),
        )
    )

    def claim(key, pdfs, state) -> "object":
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True)
        out_verdict = []
        if (rows["pre_verdict"] != "pass").any():
            # rejected docs travel in singleton groups: pass through
            out_verdict = list(rows["pre_verdict"])
        elif state.exists:
            out_verdict = ["exact_dup"] * len(rows)
        else:
            first = int(rows["doc_id"].min())
            state.update((first,))
            out_verdict = [
                "kept" if int(d) == first else "exact_dup" for d in rows["doc_id"]
            ]
        yield pd.DataFrame({"doc_id": rows["doc_id"], "verdict": out_verdict})

    claims = pre.groupBy("claim_key").applyInPandasWithState(
        claim,
        outputStructType="doc_id bigint, verdict string",
        stateStructType="first_doc bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    _drain(
        spark,
        claims.writeStream.outputMode("update")
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .foreachBatch(append),
        rocksdb=True,
    )
    return spark.read.parquet(verdict_dir).select("doc_id", "verdict")


def streaming_domain_cap(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    cap: int = 15,
    rows_per_batch: int = 200,
) -> DataFrame:
    """Per-domain document cap AT INGEST: the first ``cap`` docs of
    each domain (arrival order) are kept, the rest rejected -- the
    streaming twin of operators/domains.py::cap_docs_per_domain, so
    the RefinedWeb no-single-site-dominates rule holds while the crawl
    lands instead of in a later batch sweep.

    State per domain is ONE counter in the state store
    (applyInPandasWithState, RocksDB by default): per-batch cost is
    proportional to the batch, state to the number of distinct domains
    -- at 100 TB that is millions of counters, trivially
    RocksDB-sized. Within a batch, a domain's rows are ordered by
    doc_id before claiming slots; with the replay source's
    doc_id-ordered arrival this makes the incremental verdicts equal
    the global closed form (row_number per domain by doc_id <= cap),
    independent of micro-batch slicing -- which is what the oracle
    states and the slicing-invariance test pins.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    verdict_dir = f"{work_dir}/verdicts"
    append = _append_batches(verdict_dir)
    stream = _replay(
        spark, sf_dir, "documents", rows_per_batch, "doc_id", F.col("source").alias("domain")
    )

    def claim(key, pdfs, state) -> "object":
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        taken = int(state.get[0]) if state.exists else 0
        n = len(rows)
        seq = range(taken + 1, taken + n + 1)
        state.update((taken + n,))
        yield pd.DataFrame(
            {"doc_id": rows["doc_id"], "domain": rows["domain"],
             "kept": [s <= cap for s in seq]}
        )

    claims = stream.groupBy("domain").applyInPandasWithState(
        claim,
        outputStructType="doc_id bigint, domain string, kept boolean",
        stateStructType="taken bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    _drain(
        spark,
        claims.writeStream.outputMode("update")
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .foreachBatch(append),
        rocksdb=True,
    )
    return spark.read.parquet(verdict_dir).select("doc_id", "domain", "kept")


def streaming_ewma_alert(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    threshold: float = 50.0,
    rows_per_batch: int = 2000,
) -> DataFrame:
    """Per-user EWMA anomaly monitor AT INGEST: each arriving event is
    scored against the user's smoothed value baseline (alpha=0.5 EWMA)
    BEFORE the baseline absorbs it — |x - ewma_prev| > threshold
    raises the alert — then the state advances. The numeric-state
    member of the custom stateful family (the band-dedup/funnel/cap
    states are claims and counters; this one is a running float
    statistic).

    Exactness contract: state lives in integer NANO-UNITS
    (x_n = round(value*1e9), the alpha=0.5 step is the integer
    half-up average (y + x + 1) // 2), so the fold is EXACT integer
    arithmetic — no cross-engine float drift, and the oracle replays
    the identical recursion as a recursive CTE. Events arrive
    event_id-ordered from the replay source and each batch folds its
    rows event_id-sorted per user, so verdicts equal the global
    closed form independent of micro-batch slicing (pinned by test).

    Scale: state = one bigint per user (RocksDB-sized at any user
    count); per-batch cost proportional to the batch. The emitted
    alert stream is exactly what pages an on-call or feeds a
    downstream quarantine topic.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    verdict_dir = f"{work_dir}/verdicts"
    append = _append_batches(verdict_dir)
    thr_n = int(round(threshold * 1e9))
    stream = _replay(spark, sf_dir, "events", rows_per_batch, "event_id", "user_id", "value")

    def track(key, pdfs, state) -> "object":
        import math

        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("event_id")
        yn = int(state.get[0]) if state.exists else None
        out_ewma, out_alert = [], []
        for v in rows["value"]:
            # round-half-away-from-zero to nano-units, matching
            # DuckDB/Spark round() on doubles
            xn = int(math.copysign(math.floor(abs(v) * 1e9 + 0.5), v))
            if yn is None:
                out_alert.append(False)
                yn = xn
            else:
                out_alert.append(abs(xn - yn) > thr_n)
                # exact half-up integer average; Python // FLOORS (also
                # for negative odd sums), and the oracle's step is
                # written floor((a+b)/2.0) — not DuckDB's truncating
                # `//` — so the recursion matches over the operator's
                # whole double domain, not just the testdata's [0, 560]
                yn = (yn + xn + 1) // 2
            out_ewma.append(yn / 1e9)
        state.update((yn,))
        yield pd.DataFrame(
            {
                "event_id": rows["event_id"],
                "user_id": rows["user_id"],
                "ewma": out_ewma,
                "alert": out_alert,
            }
        )

    tracked = stream.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="event_id bigint, user_id bigint, ewma double, alert boolean",
        stateStructType="yn bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    _drain(
        spark,
        tracked.writeStream.outputMode("update")
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .foreachBatch(append),
        rocksdb=True,
    )
    return spark.read.parquet(verdict_dir).select(
        "event_id", "user_id", "ewma", "alert"
    )


def streaming_manifest_append(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    rows_per_batch: int = 2000,
) -> DataFrame:
    """Streaming landing zone AS A MANIFEST TABLE: each micro-batch of
    the event stream is appended through the lakehouse manifest commit
    (`operators/layout.py::append_batch_idempotent`) with the batch id
    as the exactly-once idempotence key — composing the two layers so
    the streaming sink lands in a REAL table (time travel, DELETE /
    MERGE, schema evolution, vacuum) rather than a bare directory of
    part files.

    Exactly-once: Spark re-runs a failed micro-batch with the same
    batch_id; the appended file names embed it, so a replayed batch is
    a no-op prefix test against the live list (see
    append_batch_idempotent — the manifest swap is the transaction
    boundary, replacing `foreach_batch_totals`' dynamic partition
    overwrite). Returns the per-type rollup read THROUGH the manifest,
    which the oracle states over the raw events — equal regardless of
    micro-batch slicing.

    100 TB story: per-batch cost is O(batch) (stage + move + O(1)
    metadata commit); the small-files steady state this creates is
    exactly what compact_parquet_dir / vacuum_orphans maintain, and
    the OCC commit lets maintenance run BESIDE the live sink.
    """
    from ..operators.layout import append_batch_idempotent, read_table

    table_dir = f"{work_dir}/events_table"
    stream = _replay(
        spark, sf_dir, "events", rows_per_batch, "event_id", "user_id", "event_type", "value"
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            append_batch_idempotent(spark, table_dir, batch_df, batch_id)

    _drain(
        spark,
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .foreachBatch(land),
    )
    return (
        read_table(spark, table_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("value"), 2).alias("total_value"),
        )
    )


def streaming_cdf_incremental_mart(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    rows_per_batch: int = 2000,
) -> DataFrame:
    """The end-to-end incremental pipeline over a streaming landing
    zone: a PRODUCER lands each micro-batch as an idempotent manifest
    commit (streaming_manifest_append's recipe), and a CONSUMER —
    which never re-reads the table — maintains a per-type mart from
    ``read_changes(last_seen, current)`` after every commit. Because
    the landing zone is appends-only, every feed read takes the
    FILE-LEVEL FAST PATH: the consumer scans exactly the files the
    last commit added, so maintenance cost tracks the delta, not the
    table — the 100 TB contract of a CDC pipeline.

    The mart itself is ≤5 rows (one per event type): each batch's
    DELTA aggregate is distributed, and only that bounded result is
    folded driver-side (the same bounded-collect class as the
    training-loop aggregates). Returns the maintained mart, which the
    oracle states directly over raw events — equal regardless of
    micro-batch slicing BY CONSTRUCTION of exactly-once commits +
    exact change feeds.
    """
    from ..operators.layout import (
        append_batch_idempotent,
        manifest_versions,
        read_changes,
    )

    table_dir = f"{work_dir}/events_table"
    stream = _replay(
        spark, sf_dir, "events", rows_per_batch, "event_id", "user_id", "event_type", "value"
    )

    state = {"v": None, "mart": {}}  # consumer: last version + tiny mart

    def consume_changes() -> None:
        cur = manifest_versions(table_dir)[-1]
        if cur <= state["v"]:
            return  # replayed batch: nothing new committed
        feed = read_changes(spark, table_dir, state["v"], cur)
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        delta = (
            feed.groupBy("event_type")
            .agg(
                F.sum(sign).alias("dn"),
                F.sum(sign * F.col("value")).alias("ds"),
            )
            .collect()  # bounded: one row per event type (5)
        )
        for r in delta:
            n, s = state["mart"].get(r["event_type"], (0, 0.0))
            state["mart"][r["event_type"]] = (n + r["dn"], s + r["ds"])
        state["v"] = cur

    def land(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_batch_idempotent(spark, table_dir, batch_df, batch_id)
        if state["v"] is None:
            # the consumer anchors at the version BEFORE the first
            # commit (the empty adoption snapshot), so the first feed
            # read delivers the first batch too
            state["v"] = manifest_versions(table_dir)[-1] - 1
        consume_changes()

    _drain(
        spark,
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .foreachBatch(land),
    )
    rows = [
        (t, int(n), float(s)) for t, (n, s) in sorted(state["mart"].items())
    ]
    mart = spark.createDataFrame(rows, "event_type string, n long, s double")
    return mart.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        dround(F.col("s"), 2).alias("total_value"),
    )


def pattern_v_shape_tail(tail: list, batch: list) -> tuple[list, list]:
    """Pure tail-fold step for the streaming V-shape detector: given the
    carried ``tail`` (last ≤4 (event_id, value) pairs of the user's
    already-seen prefix) and the new ``batch`` (event_id-ordered
    (event_id, value) pairs), return (troughs emitted now, new tail).

    A trough at sequence position i needs 2 predecessors and 2
    successors; positions with both successors inside the PREVIOUS
    prefix were already emitted, so only i >= len(tail) - 2 emit now —
    replaying the same data split at ANY batch boundary yields the same
    trough set as one pass (pinned by tests/test_pattern_kernel_stream).
    Factored out of the Arrow UDF so the cross-batch contract is unit-
    testable without a streaming query."""
    seq = list(tail) + list(batch)
    emitted = []
    start = max(2, len(tail) - 2)
    for i in range(start, len(seq) - 2):
        v = seq[i][1]
        if (
            seq[i - 2][1] > seq[i - 1][1] > v
            and v < seq[i + 1][1] < seq[i + 2][1]
        ):
            emitted.append(seq[i][0])
    return emitted, seq[-4:]


def streaming_pattern_v_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming complex-event detection: the strict V-shape
    (operators/patterns.py 'DDUU' anchored at the trough) over each
    user's event_id-ordered stream, as a custom stateful operator.

    State per user = the last 4 (event_id, value) pairs — the pattern
    window minus one — so a V spanning a micro-batch boundary is
    detected exactly once when its second successor arrives. Output
    rows are the trough events; the final rollup (count + first trough
    per user) equals the batch twin ts_pattern_v_shape, which is the
    gate's SQL oracle. At 100 TB this is the CEP shape Flink sells:
    O(pattern) state per key, one shuffle on the key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            st = state.get
            n = int(st[0])
            tail = [
                (int(st[1 + 2 * j]), float(st[2 + 2 * j])) for j in range(n)
            ]
        else:
            tail = []
        chunks = [pdf for pdf in pdf_iter]
        emitted: list[int] = []
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values("event_id")
            pairs = list(zip(batch["event_id"].astype(int), batch["value"].astype(float)))
            emitted, tail = pattern_v_shape_tail(tail, pairs)
        flat = [len(tail)]
        for e, v in tail:
            flat += [e, v]
        flat += [0, 0.0] * (4 - len(tail))
        state.update(tuple(flat))
        yield pd.DataFrame(
            {"user_id": [user_id] * len(emitted), "event_id": emitted}
        )

    stream = _events_stream(spark, sf_dir).select("user_id", "event_id", "value")
    troughs = stream.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id bigint, event_id bigint",
        stateStructType=(
            "n int, e1 bigint, v1 double, e2 bigint, v2 double, "
            "e3 bigint, v3 double, e4 bigint, v4 double"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_completion(troughs, "append")
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_patterns"),
        F.min("event_id").cast("bigint").alias("first_event_id"),
    )


def _land_wap_batch(spark: SparkSession, table_dir: str, batch_df: DataFrame, aid: str) -> bool:
    """Land one batch in the manifest table ``table_dir`` through
    write-audit-publish under the audit id ``aid``, resumably: a batch
    whose files are already live (published) is a no-op, one already in
    the staged registry (crashed after staging) is not staged again, and
    the audit (every ``value >= 0``) then publishes the staged files or
    discards them. Returns False for the published no-op, else True."""
    from ..operators.layout import (
        _load,
        discard_staged,
        publish_staged,
        read_staged,
        stage_append,
    )

    doc = _load(pathlib.Path(table_dir), required=True)
    if any(n.startswith(f"staged-{aid}-") for n in doc["files"]):
        return False  # replay of a published batch
    if aid not in doc.get("staged", {}):
        stage_append(spark, table_dir, batch_df, audit_id=aid)
    # a crash mid-audit resumes here on replay
    if read_staged(spark, table_dir, aid).filter(F.col("value") < 0).isEmpty():
        publish_staged(spark, table_dir, aid)
    else:
        discard_staged(table_dir, aid)
    return True


def streaming_wap_landing(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    rows_per_batch: int = 2000,
) -> DataFrame:
    """Quality-gated streaming ingest: every micro-batch lands through
    WRITE-AUDIT-PUBLISH (`operators/layout.py::stage_append` →
    `read_staged` audit → `publish_staged` / `discard_staged`) instead
    of committing blind — the streaming twin of
    `layout_wap_audit_publish`. Readers of the table NEVER see a batch
    its audit hasn't passed; a failing batch is discarded without a
    trace (demonstrated with one injected poison batch after the
    replay — the per-row audit rule `value >= 0` holds for every real
    event, so the published content is slicing-independent and the
    oracle can state it over raw events).

    Exactly-once under micro-batch replay: the audit_id embeds the
    batch id; a replayed batch whose files already sit in the live
    list (published) or in the staged registry (crashed mid-audit) is
    detected by prefix test / registry lookup and resumes from where
    it stopped — the same idempotence contract as
    append_batch_idempotent, extended across the three WAP steps.

    100 TB story: the audit reads exactly the staged bytes (O(batch)),
    publish is O(1) metadata — the quality gate costs one extra pass
    over NEW data only, never a quarantine copy or a table scan.
    """
    from ..operators.layout import _load, ensure_manifest, read_table

    table_dir = f"{work_dir}/events_table"
    # adopt the (empty) table before the first batch: the landing's
    # published-prefix test reads the manifest, which needs the dir
    pathlib.Path(table_dir).mkdir(parents=True, exist_ok=True)
    ensure_manifest(table_dir)
    stream = _replay(
        spark, sf_dir, "events", rows_per_batch, "event_id", "user_id", "event_type", "value"
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            _land_wap_batch(spark, table_dir, batch_df, f"b{batch_id}")

    _drain(
        spark,
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .foreachBatch(land),
    )
    # the poison batch: audited, FAILS, discarded — no reader saw it
    poison = spark.createDataFrame(
        [(-1, 0, "poison", -1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    _land_wap_batch(spark, table_dir, poison.coalesce(1), "poison")
    wap_clean = not _load(pathlib.Path(table_dir)).get("staged")
    return (
        read_table(spark, table_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dround(F.sum("value"), 2).alias("total_value"),
        )
        .withColumn("wap_clean", F.lit(wap_clean))
    )
