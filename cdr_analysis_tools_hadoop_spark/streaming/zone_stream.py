"""Structured Streaming ingest: events stream -> zone assignment ->
watermarked windowed aggregates.

The reference is batch-only (SURVEY.md §2.10) — its "incremental"
mode is manual day-partition INSERT OVERWRITE. This module is the
engine's streaming upgrade of that pattern: the same zone-assignment
expression (operators/zones.assign_zone — pure codegen argmin, no
window functions, so it is streaming-legal) applied to a file stream,
rolled up per event-time window with a watermark for late data.

Scale notes: stateful aggregation keys are (window, zone_id) — tiny
state (|zones| x windows-in-watermark); the watermark bounds state
size, and `maxFilesPerTrigger` paces ingestion on a backlog. Use
``trigger(availableNow=True)`` for catch-up-then-stop batch-ish runs
(that is also what the tests do).

The image rollup needs no streaming twin: ``pipeline.run_pipeline``
takes a ``read_parquet_stream`` frame as it is (its fused kernel is
stateless and its one aggregate has a bounded key space).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import zones


def read_parquet_stream(
    spark: SparkSession,
    input_dir: str,
    schema_from: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of parquet files (events,
    images or documents). ``schema_from``: a static parquet path used
    only to fix the schema (streaming sources require one up front)."""
    schema = spark.read.parquet(schema_from).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def zone_window_counts(
    events: DataFrame,
    towers: DataFrame,
    ts_col: str = "ts",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per (event-time window, zone) counts with late-data watermark.

    ``events`` may be streaming or batch (the plan is identical —
    handy for oracle-checking the streaming query against its batch
    twin on the same files).
    """
    zoned = zones.assign_zone(events, towers).withColumn(
        # parquet TIMESTAMP_NTZ -> TIMESTAMP: watermarks require the
        # instant type; session tz is pinned to UTC (session.py) so
        # the cast is a no-op re-tag.
        ts_col,
        F.col(ts_col).cast("timestamp"),
    )
    return (
        zoned.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            F.col("zone_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "zone_id",
            "n_events",
        )
    )


def run_available_now(
    result: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> None:
    """Drain everything currently available into an in-memory table
    named ``query_name``, then stop (exactly-once via checkpoint).

    ``output_mode`` defaults to ``complete`` because the primary use
    is a bounded drain of a windowed aggregate into a memory sink —
    an availableNow trigger ends the stream before the watermark
    closes the final windows, so append mode would hold those rows
    back. Complete mode re-emits the full result and keeps ALL
    aggregate state (watermark eviction does not apply), so it is for
    bounded drains only; for the module's append-only queries
    (streaming_stay_points, streaming_exact_dedup,
    streaming_co_presence) — which complete mode REJECTS outright —
    and for any long-running windowed sink where the watermark must
    bound state, pass ``output_mode="append"``."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# Stateful streaming: incremental stay-point detection
# (applyInPandasWithState — the streaming analogue of
# TripSegmentationCDR's 15-min/300-m rule, reference SURVEY.md §2.9)


def streaming_stay_points(sited: DataFrame, ts_col: str = "call_time") -> DataFrame:
    """Incremental stay/move segmentation over a stream.

    State per (uid, pdt): the OPEN segment (start/last epoch, point
    count, first point's lat/lon) plus the running segment counter.
    Each micro-batch appends its points in event order; a >300 m jump
    CLOSES the open segment (emitted downstream, "append" mode) and
    opens a new one. The final open segment stays in state — exactly
    the semantics of a resumable incremental pipeline: closed segments
    are immutable facts, the open one is pending.

    Parity contract (tested): on the same input split across any
    number of in-order micro-batches, the emitted closed segments
    equal batch ``interpolation.stay_points`` minus each group's last
    (still-open) segment.

    Scale: state is O(1) per (uid, day); no watermark needed for
    bounded state, but upstream file pacing (maxFilesPerTrigger)
    bounds per-batch work. Python is Arrow-batched per group — the
    per-group math is the same numpy as the batch operator.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..functions import geo as _geo
    from ..operators.interpolation import D2_300M, STAY_MIN_S

    out_schema = StructType(
        [
            StructField("uid", LongType()),
            StructField("pdt", StringType()),
            StructField("seg_id", LongType()),
            StructField("start_s", LongType()),
            StructField("end_s", LongType()),
            StructField("n_points", LongType()),
            StructField("lat", DoubleType()),
            StructField("lon", DoubleType()),
            StructField("is_stay", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("seg_id", LongType()),
            StructField("start_s", LongType()),
            StructField("last_s", LongType()),
            StructField("n", LongType()),
            StructField("first_lat", DoubleType()),
            StructField("first_lon", DoubleType()),
            StructField("last_lat", DoubleType()),
            StructField("last_lon", DoubleType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        uid, pdt = key
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["call_time", "event_id"])
        ep = pdf["call_time"].astype("datetime64[s]").astype(np.int64).to_numpy()
        lat = pdf["lat"].to_numpy(dtype=np.float64)
        lon = pdf["lon"].to_numpy(dtype=np.float64)
        if state.exists:
            seg_id, start_s, last_s, n, flat, flon, llat, llon = state.get
        else:
            # seg ids start at 1, matching batch stay_points (whose
            # first break contributes 1 to the running sum)
            seg_id, start_s, last_s, n = 1, int(ep[0]), int(ep[0]), 0
            flat, flon, llat, llon = float(lat[0]), float(lon[0]), float(lat[0]), float(lon[0])
        closed = []
        for i in range(len(pdf)):
            if n > 0:
                d2 = (lat[i] - llat) ** 2 + ((lon[i] - llon) * _geo.LON_SCALE) ** 2
                if d2 > D2_300M:
                    closed.append(
                        (int(uid), str(pdt), seg_id, start_s, last_s, n,
                         flat, flon, last_s - start_s >= STAY_MIN_S)
                    )
                    seg_id += 1
                    start_s, n = int(ep[i]), 0
                    flat, flon = float(lat[i]), float(lon[i])
            last_s, llat, llon = int(ep[i]), float(lat[i]), float(lon[i])
            n += 1
        state.update((seg_id, start_s, last_s, n, flat, flon, llat, llon))
        if closed:
            yield pd.DataFrame(closed, columns=[f.name for f in out_schema.fields])

    keyed = sited.select(
        "uid",
        F.to_date(ts_col).cast("string").alias("pdt"),
        F.col(ts_col).alias("call_time"),
        "event_id",
        "lat",
        "lon",
    )
    return keyed.groupBy("uid", "pdt").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_exact_dedup(
    docs: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup of a document stream: the ingest-time
    twin of ``operators/dedup.exact_dedup``.

    Same content key (md5 of normalized text, functions/texthash.py),
    deduplicated with ``dropDuplicatesWithinWatermark`` so the state
    store keeps only the keys inside the watermark horizon — the
    shape a 100 TB training-data ingest needs: bounded state, one
    shuffle on the content hash, no reprocessing of the full corpus
    per micro-batch. Works on batch frames too (state-free
    dropDuplicates semantics), which is what the parity test uses.
    """
    from ..functions import texthash as th

    keyed = docs.withColumn(
        "text_hash", F.md5(F.expr(th.normalize_text_sql("text", "spark")))
    )
    if keyed.isStreaming:
        return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["text_hash"]
        )
    return keyed.dropDuplicates(["text_hash"])


# ---------------------------------------------------------------------------
# Streaming embedding ingest: trained-cluster drift monitor


def streaming_cluster_counts(
    emb: DataFrame,
    centroids,
    ts_col: str = "ingest_ts",
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Embedding-stream drift monitor: assign every arriving vector
    to its trained k-means cluster and roll up per (event-time
    window, cluster) counts — the ingest-time health check a
    training-data pipeline runs against a frozen codebook (a cluster
    whose share drifts signals a distribution change upstream).

    The assignment is operators/clustering's literal-centroid argmax
    — a pure codegen projection with no join, window function, or
    Python, so it is streaming-legal as-is; the only stateful node is
    the watermarked (window, cluster) count whose state is bounded by
    k x windows-in-watermark. Works identically on batch frames
    (event-time window + groupBy are batch-legal), which is what the
    stream==batch parity test pins.
    """
    from ..functions import vec
    from ..operators import clustering

    pick = clustering._argmax_expr(centroids)
    assigned = (
        emb.withColumn("norm2", F.expr(vec.norm2_sql("embedding", "spark")))
        .withColumn("cluster", F.expr(f"({pick}).cl").cast("long"))
        .drop("norm2")
    )
    grouped = (
        assigned.withWatermark(ts_col, watermark)
        if assigned.isStreaming
        else assigned
    )
    return (
        grouped.groupBy(F.window(F.col(ts_col), window), F.col("cluster"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            "cluster",
            "n",
        )
    )


def streaming_source_mixture(
    docs: DataFrame,
    ts_col: str = "ts",
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Document-ingest mixture monitor: per (event-time window,
    source) document and token counts — the live view of
    textops.domain_mixture a crawl pipeline watches to catch one
    source flooding the mix before the batch rebalance runs.

    Token counting is a codegen projection (size(split(...))) — no
    join, no window function, no Python — so the plan is
    streaming-legal as-is; the only stateful node is the watermarked
    (window, source) aggregate whose state is bounded by |sources| x
    windows-in-watermark. Identical on batch frames, which the
    stream==batch parity test pins.
    """
    from ..functions import texthash as th

    tok = th.tokens_sql("text", "spark")
    per = docs.select(
        F.col(ts_col).cast("timestamp").alias(ts_col),
        "source",
        F.expr(f"size({tok})").cast("long").alias("n_tok"),
    )
    grouped = (
        per.withWatermark(ts_col, watermark) if per.isStreaming else per
    )
    return (
        grouped.groupBy(F.window(F.col(ts_col), window), F.col("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "source",
            "n_docs",
            "n_tokens",
        )
    )


def streaming_co_presence(
    zoned: DataFrame,
    window_us: int = 900 * 1_000_000,
    watermark: str = "30 minutes",
    ts_col: str = "call_time",
) -> DataFrame:
    """Live contact detection: the streaming twin of
    ``mobility.co_presence_pairs`` — every (event, event) pair
    observed in the same zone within ±``window_us``, emitted as the
    stream advances. This is the engine's stream-stream JOIN shape
    (every other streaming query here is map-only or a single
    stateful aggregate): a watermarked self-join on zone equality
    plus an event-time range condition.

    State stays bounded because both sides carry a watermark and the
    join condition bounds event-time distance: Spark evicts buffered
    rows once the other side's watermark passes ts ± window (the
    documented stream-stream inner-join state-cleanup contract) —
    state is the last ~(watermark + window) of events per zone, not
    the stream history. ``uid_a < uid_b`` keeps exactly one row per
    unordered pair, matching the batch operator row-for-row; the
    batch==stream parity test pins that on multi-micro-batch file
    streams.

    Output: (uid_a, uid_b, zone_id, tus_a, tus_b) — append mode.
    """
    if window_us <= 0:
        raise ValueError("window_us must be positive")
    a = zoned.select(
        F.col("uid").alias("uid_a"),
        F.col("zone_id").alias("zone_a"),
        F.col(ts_col).cast("timestamp").alias("ts_a"),
    ).withWatermark("ts_a", watermark)
    b = zoned.select(
        F.col("uid").alias("uid_b"),
        F.col("zone_id").alias("zone_b"),
        F.col(ts_col).cast("timestamp").alias("ts_b"),
    ).withWatermark("ts_b", watermark)
    iv = f"make_dt_interval(0, 0, 0, {window_us} / 1000000.0)"
    return a.join(
        b,
        F.expr(
            "zone_a = zone_b AND uid_a < uid_b "
            f"AND ts_b >= ts_a - {iv} AND ts_b <= ts_a + {iv}"
        ),
    ).select(
        "uid_a",
        "uid_b",
        F.col("zone_a").alias("zone_id"),
        F.unix_micros("ts_a").alias("tus_a"),
        F.unix_micros("ts_b").alias("tus_b"),
    )
