"""Structured-Streaming ingest reusing the batch spatial stages.

The reference is batch-only; the engine adds streaming ingest as an
optional path (SURVEY §2.6): a ``foreachBatch`` sink runs the exact
batch geotag→encode→region-assign pipeline per micro-batch, and a
watermarked windowed aggregation handles late ``warc_ts`` arrivals.
State lives in Spark's checkpoint dir — resume comes free and composes
with the batch Checkpointer for derived tables.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import join as jx
from .geo import grid_encode
from . import synth


def encode_stream(pages: DataFrame, res: int = 12) -> DataFrame:
    """Stateless per-row stages work unchanged on streaming DataFrames:
    geotag + cell-encode are native Column exprs."""
    lat, lon = synth.latlon_from_key(F.col("page_key"))
    return (
        pages.withColumn("lat", lat)
        .withColumn("lon", lon)
        .withColumn("cell", grid_encode(F.col("lat"), F.col("lon"), res))
    )


def stream_region_assign(
    stream: DataFrame,
    regions: DataFrame,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
    res: int = 12,
):
    """foreachBatch: run the batch containment join per micro-batch.

    The region table is a static broadcast side; each micro-batch is a
    normal batch DataFrame inside the closure, so the *same* production
    operator (the chained broadcast join, ``join.get_chained``) serves
    both modes."""
    encoded = encode_stream(stream, res)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        assigned = jx.get_chained(batch_df, regions, probe_col="cell")
        sink(assigned, batch_id)

    return (
        encoded.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_sketch_table(spark, table_dir: str) -> "DataFrame | None":
    """Latest persisted sketch-table generation written by
    :func:`stream_tile_distinct` (None before the first fold).  Feed it
    to ``ops.pyramid_from_sketch_table`` for distinct rollups at any
    zoom level without re-reading the stream."""
    import os

    ptr = os.path.join(table_dir, "LATEST")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        gen = fh.read().strip()
    return spark.read.parquet(os.path.join(table_dir, gen))


def stream_tile_distinct(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    tile_res: int = 4,
    id_col: str = "page_key",
    res: int = 12,
    lg_k: int = 12,
):
    """foreachBatch incremental distinct-ids-per-tile: each micro-batch
    folds its per-tile HLL sketch table (``ops.tile_sketch_table``)
    into a persisted Parquet sketch table via
    ``ops.merge_sketch_tables`` — state is O(tiles × 2^lg_k bytes) no
    matter how long the stream runs, and the persisted table answers
    distinct rollups at ANY zoom (``ops.pyramid_from_sketch_table``)
    without re-reading the stream.

    Generations: each fold writes ``{table_dir}/g{batch_id}`` then
    atomically advances a ``LATEST`` pointer (tmp + ``os.replace``;
    driver-local like the batch Checkpointer's manifest — swap for a
    manifest table on object storage).  Replay-safe WITHOUT
    transactions: HLL union is idempotent over set membership, so a
    micro-batch folded twice (crash between the pointer advance and
    the streaming checkpoint commit) lands the same ids in the same
    registers and changes nothing."""
    import os
    import shutil

    from . import ops

    encoded = encode_stream(stream, res)

    def _prune_generations(keep: str) -> None:
        # every g* dir except the LATEST generation is garbage: a crash
        # between the pointer advance and a single-predecessor rmtree
        # would otherwise leak that generation's full Parquet copy
        # permanently (each fold is a complete table copy)
        for d in os.listdir(table_dir):
            if (
                d != keep
                and d.startswith("g")
                and d[1:].isdigit()
                and os.path.isdir(os.path.join(table_dir, d))
            ):
                shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        gen = f"g{batch_id}"
        folded = ops.tile_sketch_table(
            batch_df, tile_res, id_col=id_col, lg_k=lg_k
        )
        prev = read_sketch_table(spark, table_dir)
        prev_gen = None
        if prev is not None:
            with open(os.path.join(table_dir, "LATEST")) as fh:
                prev_gen = fh.read().strip()
            if prev_gen == gen:
                # replay of a batch whose fold COMPLETED (the pointer
                # advance is the fold's last step): the persisted table
                # already contains this batch — folding again would
                # read and overwrite the same generation dir.  Skip,
                # but still sweep generations an earlier crash leaked.
                _prune_generations(gen)
                return
            folded = ops.merge_sketch_tables(prev, folded)
        folded.write.mode("overwrite").parquet(os.path.join(table_dir, gen))
        tmp = os.path.join(table_dir, "LATEST.tmp")
        with open(tmp, "w") as fh:
            fh.write(gen)
        os.replace(tmp, os.path.join(table_dir, "LATEST"))
        _prune_generations(gen)

    os.makedirs(table_dir, exist_ok=True)
    return (
        encoded.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_tile_totals(
    stream: DataFrame,
    tile_res: int = 4,
    res: int = 12,
) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-tile RUNNING totals + first/last event time, carried across
    micro-batches in Spark state — something stateless foreachBatch or
    a windowed agg cannot express (the running total spans windows).

    Emits one updated row per (tile, micro-batch): ``tile,
    total_pages, first_ts, last_ts`` where ``total_pages`` accumulates
    over the whole stream.  State is per tile (bounded by the tile
    count at ``tile_res``), timestamps stored as epoch seconds."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from . import cells as cx

    encoded = encode_stream(stream, res)
    tiles = encoded.select(
        cx.to_parent("cell", tile_res).alias("tile"),
        F.col("warc_ts").cast("long").alias("ts"),
    )

    def fn(key, pdfs, state: "GroupState"):
        if state.exists:
            total, first_ts, last_ts = state.get
        else:
            total, first_ts, last_ts = 0, None, None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            total += len(pdf)
            mn, mx = int(pdf["ts"].min()), int(pdf["ts"].max())
            first_ts = mn if first_ts is None else min(first_ts, mn)
            last_ts = mx if last_ts is None else max(last_ts, mx)
        state.update((total, first_ts, last_ts))
        yield pd.DataFrame(
            {
                "tile": [key[0]],
                "total_pages": [total],
                "first_ts": [first_ts],
                "last_ts": [last_ts],
            }
        )

    return tiles.groupBy("tile").applyInPandasWithState(
        fn,
        outputStructType="tile LONG, total_pages LONG, first_ts LONG, last_ts LONG",
        stateStructType="total LONG, first_ts LONG, last_ts LONG",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup_exact(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first arrival per content fingerprint
    wins, duplicates within the watermark horizon are dropped —
    ``dropDuplicatesWithinWatermark`` keeps ONE state row per distinct
    fingerprint and expires it past the horizon, so state is bounded by
    (throughput × horizon) instead of growing with the corpus.

    The horizon is the at-least-once caveat: a duplicate arriving later
    than ``watermark`` after the original passes through.  The batch
    :func:`hexspark.dedup.dedup_exact` over the landed table is the
    exactness backstop (the standard streaming/batch dedup pairing)."""
    from .text import fingerprint

    fp = stream.withColumn("fp", fingerprint(F.col(text_col)))
    return fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["fp"])


def event_window_stats(df: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window event rollup over the events table: count +
    value total per (window, event_type).  Works identically on a batch
    DataFrame and a ``readStream`` source (add ``withWatermark`` for
    the latter) — the batch form is the oracle-gated contract query
    (``event_windows``); sums round to 4 decimals so partial-agg
    summation order can't flip the cross-engine hash.

    ``win_start`` is emitted as a formatted string (session TZ is
    pinned UTC) so the DuckDB twin's microsecond timestamps and Spark's
    nanosecond pandas conversion compare byte-identically."""
    return (
        df.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dd_event_window_stats(hours: int = 1) -> str:
    """DuckDB twin of :func:`event_window_stats`: ``time_bucket`` with
    an hour-multiple interval aligns to the same epoch-aligned
    boundaries as Spark's ``F.window``."""
    return f"""
        SELECT strftime(time_bucket(INTERVAL '{hours} hour', ts),
                        '%Y-%m-%d %H:%M:%S') AS win_start,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS total_value
        FROM events
        GROUP BY 1, 2
    """


def windowed_page_counts(
    stream: DataFrame,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
    tile_res: int = 4,
) -> DataFrame:
    """Late-data-tolerant per-tile rollup: watermark on ``warc_ts`` +
    tumbling window + tile groupBy (streaming-native partial aggs)."""
    from . import cells as cx

    encoded = encode_stream(stream, tile_res)
    return (
        encoded.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("w"),
            cx.to_parent("cell", tile_res).alias("tile"),
        )
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "tile", "n_pages")
    )


def event_sessions(
    events: DataFrame,
    gap_seconds: int = 1800,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-user sessionization: events closer than ``gap_seconds`` chain
    into one session (native ``F.session_window`` — dynamic-gap merge
    inside the aggregation, one shuffle on the user key; the same
    primitive runs under Structured Streaming with a watermark for the
    late-data path).  Boundary semantics: a gap of exactly
    ``gap_seconds`` STARTS a new session (session windows are half-open
    — verified against the gaps-and-islands twin).

    Returns (user, session_start, n_events, first_event, last_event).
    ``session_start`` is a formatted string (session TZ pinned UTC) —
    the same precedent as :func:`event_window_stats`: raw timestamps
    don't compare byte-identically across engines (DuckDB microseconds
    vs Spark's nanosecond pandas conversion in hashed comparisons)."""
    w = F.session_window(F.col(ts_col), f"{gap_seconds} seconds")
    return (
        events.groupBy(F.col(key_col), w.alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.min(id_col).alias("first_event"),
            F.max(id_col).alias("last_event"),
        )
        .select(
            key_col,
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "first_event",
            "last_event",
        )
    )


def dd_event_sessions(gap_seconds: int = 1800) -> str:
    """DuckDB twin of :func:`event_sessions`: classic gaps-and-islands —
    LAG to flag session starts (strictly ``>= gap``, matching Spark's
    half-open session windows), running sum for session ids, group."""
    return f"""
        WITH ordered AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '{gap_seconds} seconds'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT *, SUM(new_s) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING
            ) AS sid
            FROM ordered
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               COUNT(*) AS n_events,
               MIN(event_id) AS first_event, MAX(event_id) AS last_event
        FROM sess GROUP BY user_id, sid
    """


def event_value_quantiles(events: "DataFrame") -> "DataFrame":
    """Per-event-type exact value quantiles (p50/p90/p99) — the batch
    rollup behind latency/size dashboards.  ``percentile`` is the
    EXACT linear-interpolation order statistic (same definition as
    DuckDB's quantile_cont, which makes it oracle-checkable); it
    shuffles each group's values once.  At true 100-TB scale swap in
    ``approx_percentile`` (t-digest sketch, map-side mergeable, one
    pass) — exact stays the contract/oracle form, mirroring
    tile_stats vs tile_stats_approx."""
    pcts = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        *[
            F.round(F.percentile("value", F.lit(q)), 6).alias(name)
            for name, q in pcts.items()
        ],
    )


def dd_event_value_quantiles() -> str:
    """DuckDB twin of :func:`event_value_quantiles`."""
    cols = ", ".join(
        f"ROUND(quantile_cont(value, {q}), 6) AS {name}"
        for name, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
    )
    return f"""
        SELECT event_type, COUNT(*) AS n, {cols}
        FROM events GROUP BY 1
    """
