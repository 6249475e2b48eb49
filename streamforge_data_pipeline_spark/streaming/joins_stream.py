"""Streaming dedup and stream-stream joins.

The reference dedups arrival-ordered within one bounded file (SURVEY
§2.3 J2) and against a static table (J1). A continuously-ingesting
pipeline needs both as *unbounded* operators:

- ``streaming_dedup``: exactly-once keys within the watermark horizon
  via ``dropDuplicatesWithinWatermark`` — state is bounded (old keys
  age out with the watermark), which is the only dedup that survives
  an unbounded stream; a global ``dropDuplicates`` would grow state
  forever.
- ``interval_join``: stream-stream inner join with an event-time
  range predicate. Watermarks on BOTH sides let Spark discard
  outdated join state; without the time bound the state store would
  buffer both streams indefinitely.

Both are asserted equal to their batch equivalents in
tests/test_streaming_joins.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .drain_conf import drain_to_memory
from .event_time import as_event_time as _as_event_time


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static equi-join — in-flight dimension enrichment.

    The static side is re-planned inside every micro-batch (so a dim
    refreshed on disk is picked up at the next trigger) and broadcast
    by default: dimension tables are small by definition, and the
    broadcast keeps the stream side shuffle-free. Pass
    ``broadcast_dim=False`` for a large static side and let stats/AQE
    choose. No watermark or state store is involved — unlike
    stream-stream joins, the static side is fully available, so
    nothing buffers.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on, how)


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """First occurrence per key within the watermark horizon."""
    stream = _as_event_time(stream, ts_col)
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(key_cols)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "15 minutes",
    delay: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time interval bound:
    right rows join left rows with ``left_ts <= right_ts <= left_ts +
    upper`` (after ``lower`` offset). Both sides carry watermarks so
    buffered state is evicted as event time advances.

    ``how`` extends to the outer modes (``leftOuter``, ``rightOuter``,
    ``fullOuter``): matches emit immediately, but an UNMATCHED row can
    only emit (null-padded) once the watermark has passed its whole
    join window — eviction is the proof no future match exists — so in
    append-mode drains the rows younger than (max event time - delay)
    stay buffered and never surface. The same watermark+range bound
    that keeps inner-join state finite is what makes outer results
    decidable at all on unbounded inputs."""
    l = _as_event_time(left, left_ts).withWatermark(left_ts, delay).alias("l")
    r = _as_event_time(right, right_ts).withWatermark(right_ts, delay).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower}")
        )
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}")
        )
    )
    return l.join(r, cond, how)


def interval_join_spread(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "15 minutes",
    delay: str = "30 minutes",
    spread_seconds: int | None = None,
) -> DataFrame:
    """:func:`interval_join` with the time-bucket skew spread (r5
    brief #5): stream-stream joins shuffle BOTH sides (and keep state)
    on the equi-key, so one hot key pins a single state partition for
    the stream's lifetime — worse than batch, where AQE can at least
    split the materialized partition. The spread adds a derived
    equi-column tb = floor(event_time / W), W >= the interval span, to
    both sides — the left exploded to its <= 2 candidate buckets
    (every true match agrees on the right row's bucket, so results
    are exactly :func:`interval_join`'s, pytest-asserted) — and the
    join state now shards on (key, tb): a key hot over HOURS spreads
    across its hour's buckets, and old buckets' state evicts on the
    same watermark. Residual hot-key-AND-hot-instant skew is
    irreducible by any keying. ``spread_seconds`` defaults to the
    interval span. Inner mode only: the spread duplicates UNMATCHED
    left rows across buckets, so outer-mode null-padding would need a
    post-join dedup that append-mode cannot express — use
    :func:`interval_join` for outer modes (its state skew is the
    price of the null proof). Output columns: left's then right's, in
    their original order (the plain join's layout)."""
    spark = left.sparkSession
    # evaluate the interval literals in seconds once, on the driver —
    # as a DELTA against the same base timestamp, so the session
    # timezone cancels out
    base = F.lit("2000-01-01 00:00:00").cast("timestamp")
    row = spark.range(1).select(
        (F.unix_timestamp(base + F.expr(f"INTERVAL {lower}")) - F.unix_timestamp(base)).alias("a"),
        (F.unix_timestamp(base + F.expr(f"INTERVAL {upper}")) - F.unix_timestamp(base)).alias("b"),
    ).collect()[0]
    lo_s, up_s = int(row["a"]), int(row["b"])
    span = max(up_s - lo_s, 1)
    w = spread_seconds if spread_seconds is not None else span
    if w < span:
        # The left side only explodes to its two ENDPOINT buckets; a
        # bucket narrower than the interval span leaves true matches in
        # the middle buckets with no left copy to meet — silent row
        # loss, not a perf knob. (r6 advice)
        raise ValueError(
            f"spread_seconds={w} is narrower than the interval span "
            f"{span}s ({lower} .. {upper}); matches spanning interior "
            "buckets would be silently dropped. Use spread_seconds >= "
            "the span (default), or widen it to trade state-shard "
            "granularity for per-bucket fanout."
        )

    l0 = _as_event_time(left, left_ts)
    r0 = _as_event_time(right, right_ts)
    lo_b = F.floor((F.unix_timestamp(F.col(left_ts)) + F.lit(lo_s)) / w)
    hi_b = F.floor((F.unix_timestamp(F.col(left_ts)) + F.lit(up_s)) / w)
    l = (
        l0.withColumn("__tb", F.explode(F.array_distinct(F.array(lo_b, hi_b))))
        .withWatermark(left_ts, delay)
        .alias("l")
    )
    r = (
        r0.withColumn("__tb", F.floor(F.unix_timestamp(F.col(right_ts)) / w))
        .withWatermark(right_ts, delay)
        .alias("r")
    )
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("l.__tb") == F.col("r.__tb"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    out = l.join(r, cond, "inner")
    return out.select(
        *[F.col(f"l.{c}") for c in left.columns],
        *[F.col(f"r.{c}") for c in right.columns],
    )


def drain_interval_join_spread(
    spark,
    left_stream: DataFrame,
    right_stream: DataFrame,
    left_batch: DataFrame,
    right_batch: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "15 minutes",
    delay: str = "30 minutes",
    how: str = "inner",
    spread_seconds: int | None = None,
) -> DataFrame:
    """Outer modes for the skew-spread interval join, composed at
    DRAIN time (r6 brief #6): the spread duplicates unmatched left
    rows across their <= 2 candidate buckets, so null-padded outer
    rows cannot be emitted inside the append-mode stream (they would
    need a post-join dedup append mode cannot express). A bounded
    drain CAN decide them: run the spread-INNER stream to completion,
    then null-pad exactly the rows whose whole join window the FINAL
    watermark has passed and that matched nothing — the same
    eviction-is-the-proof rule native outer modes apply batch by
    batch, evaluated once at the final watermark. Parity with
    :func:`interval_join`'s native outer modes on time-sliced drains
    is asserted in tests/test_streaming_joins.py.

    ``left_batch`` / ``right_batch`` are batch views over the SAME
    data the streams read (the drain scaffolds already have both).
    The final global watermark is min(max left_ts, max right_ts) -
    delay — Spark's min-of-inputs multipleWatermarkPolicy default.
    Output columns: left's, then right's with colliding names
    prefixed ``r_`` (batch_interval_join's convention).

    Scale: the two closure scans are one max() aggregate each; the
    anti-join keys on the left/right row columns (row identity), and
    its probe side is the matched set — answer-sized, broadcastable.
    """
    if how not in ("inner", "leftOuter", "rightOuter", "fullOuter"):
        raise ValueError(f"unknown join mode {how!r}")
    lcols = list(left_batch.columns)
    rcols_out = [
        f"r_{c}" if c in left_batch.columns else c for c in right_batch.columns
    ]
    inner_q = interval_join_spread(
        left_stream, right_stream, key, left_ts, right_ts, lower, upper,
        delay, spread_seconds,
    ).toDF(*lcols, *rcols_out)
    # Stream-stream joins open FOUR state stores per partition; the
    # partition count must track input bytes, not cores (drain_conf
    # module docstring — r11, measured 2.7x inversion at 32 cores).
    inner = drain_to_memory(spark, inner_q, "append", left_batch, right_batch)
    if how == "inner":
        return inner
    wm_row = (
        left_batch.select(F.max(F.col(left_ts)).alias("__ml"))
        .crossJoin(right_batch.select(F.max(F.col(right_ts)).alias("__mr")))
        .select(
            (F.least("__ml", "__mr") - F.expr(f"INTERVAL {delay}")).alias("w")
        )
        .collect()[0]
    )
    wm = F.lit(wm_row["w"])
    rtypes = dict(zip(rcols_out, [f.dataType for f in right_batch.schema.fields]))
    ltypes = {f.name: f.dataType for f in left_batch.schema.fields}
    parts = [inner]
    if how in ("leftOuter", "fullOuter"):
        matched_l = inner.select(*lcols).distinct()
        closed_l = left_batch.filter(
            F.col(left_ts) + F.expr(f"INTERVAL {upper}") < wm
        )
        parts.append(
            closed_l.join(matched_l, lcols, "left_anti").select(
                *lcols,
                *[F.lit(None).cast(rtypes[c]).alias(c) for c in rcols_out],
            )
        )
    if how in ("rightOuter", "fullOuter"):
        matched_r = inner.select(*rcols_out).distinct()
        # a right row's last possible match has left_ts = right_ts -
        # lower; its state evicts (and it null-pads) once the
        # watermark passes that
        closed_r = right_batch.toDF(*rcols_out).filter(
            F.col(f"r_{right_ts}" if right_ts in left_batch.columns else right_ts)
            - F.expr(f"INTERVAL {lower}") < wm
        )
        parts.append(
            closed_r.join(matched_r, rcols_out, "left_anti").select(
                *[F.lit(None).cast(ltypes[c]).alias(c) for c in lcols],
                *rcols_out,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
