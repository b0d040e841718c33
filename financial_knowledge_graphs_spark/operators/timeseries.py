"""Time-series operators: as-of join and gap-based sessionization.

Neither exists in the reference (its pipeline is batch document
processing), but both are table-stakes for the event/market-data side of
a financial KG at scale — "join each event to the most recent prior
order/quote/price" is the canonical enrichment step, and sessionization
is the standard unit for behavioural training data.

Scale design:

- ``asof_join`` does NOT use a range join (``l.key = r.key AND r.t <=
  l.t`` explodes to O(|l| x |r| per key) before the per-row max is
  taken). It uses the union-sort-merge formulation: tag both sides,
  union, one window sorted by (time, side, tiebreak) per key, and carry
  the right payload forward with ``last(ignorenulls)``. Exactly ONE
  shuffle + sort over |l| + |r| rows, no intermediate blow-up, and
  Catalyst keeps the whole thing in WholeStageCodegen. Hub keys are the
  classic window-skew case; the mitigation at 100 TB is the usual one
  (split a hub key's timeline into range chunks, as-of join each chunk
  with the previous chunk's last payload as a seed row) — not needed at
  the corpus sizes benched here.
- ``sessionize`` is two window expressions over the SAME (key, time)
  window spec, which Spark plans as a single Exchange + Sort — one
  shuffle total. The break flag compares epoch seconds as doubles
  (microsecond-exact: both engines compute micros/1e6 in IEEE double).
- **Auto hub-chunking** (r5): all three operators accept
  ``hub_chunk_seconds="auto"``. The decision is wired to the key-skew
  profiler (``skew.key_profile``): one partial-agg top-1 key count; if
  the hottest key's row count is within ``AUTO_HUB_MAX_ROWS`` the plain
  single-window plan runs unchanged (zero extra shuffles in the main
  job), otherwise the hot key's time span is measured (one min/max
  aggregate) and the chunk width is chosen so its timeline splits into
  ~``ceil(n / AUTO_HUB_MAX_ROWS)`` chunks. Cost of "auto" is two small
  measurement jobs before planning; result is row-identical to the
  plain path either way (the chunked operators are equality-pinned).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# "auto" engages hub-chunking when the hottest key exceeds this many rows
# (≈ a comfortably-in-memory single window task); module-level so deploys
# (and tests) can tune the trip point.
AUTO_HUB_MAX_ROWS = 250_000


def _resolve_hub_chunk(
    df: DataFrame,
    keys: list[str],
    time_expr,
    hub_chunk_seconds: float | str | None,
) -> float | None:
    """Resolve the ``hub_chunk_seconds`` knob: pass a positive number or
    None through, and raise ValueError for anything else but ``"auto"``
    (before any job runs, not deep in the chunked plan); for ``"auto"``
    profile the hottest key (``skew.key_profile`` top-1 —
    one partial-agg groupBy + TakeOrdered, driver fetch is 1 row) and, if
    it exceeds ``AUTO_HUB_MAX_ROWS``, measure that key's time span (one
    min/max aggregate) and split it into ``ceil(n / AUTO_HUB_MAX_ROWS)``
    chunks. Uniform data resolves to None → the plain single-window plan."""
    if hub_chunk_seconds is None:
        return None
    if hub_chunk_seconds != "auto":
        if (isinstance(hub_chunk_seconds, bool)
                or not isinstance(hub_chunk_seconds, (int, float))
                or not hub_chunk_seconds > 0):
            raise ValueError(
                f"hub_chunk_seconds must be None, 'auto' or a positive "
                f"number of seconds, got {hub_chunk_seconds!r}")
        return hub_chunk_seconds
    from .skew import key_profile

    top = key_profile(df.select(*keys), keys, top_n=1).collect()
    if not top or top[0]["n_rows"] <= AUTO_HUB_MAX_ROWS:
        return None
    hot = top[0]
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.lit(hot[k]))
        cond = c if cond is None else (cond & c)
    sec = time_expr.cast("timestamp").cast("double")
    span_row = df.filter(cond).agg(
        F.min(sec).alias("lo"), F.max(sec).alias("hi")
    ).collect()[0]
    if span_row["lo"] is None or span_row["hi"] is None:
        return None
    span = span_row["hi"] - span_row["lo"]
    if span <= 0:
        return None  # single-instant hub: time chunking cannot split it
    n_chunks = max(2, math.ceil(hot["n_rows"] / AUTO_HUB_MAX_ROWS))
    return max(span / n_chunks, 1e-6)

_T = "__asof_t"
_SRC = "__asof_src"
_PAY = "__asof_payload"
_TIE = "__asof_tie"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    payload: list[str],
    tiebreak: str,
    hub_chunk_seconds: float | str | None = None,
) -> DataFrame:
    """Backward as-of join: each ``left`` row gains the ``payload``
    columns of the ``right`` row with the greatest ``right_time`` <=
    its ``left_time`` (ties on ``right_time`` broken by the greatest
    ``tiebreak``, so the result is deterministic). Left rows with no
    prior right row keep NULL payloads (left-join semantics; filter
    afterwards for inner).

    ``on`` columns must exist on both sides with identical names; all
    other column names must be disjoint. One shuffle, no row explosion
    — see the module docstring.

    ``hub_chunk_seconds`` is the hub-key skew escape hatch: a plain
    window puts one key's ENTIRE timeline in one task, so a hub key
    (a major bank quoted 10^9 times) serializes. With it set, the
    window partitions by (key, time-chunk) — per-task work is bounded
    by one chunk — and a second, tiny pass (one row per non-empty
    (key, chunk)) carries each chunk's last payload forward as the
    seed for later chunks. Result is row-identical to the plain path
    (pinned by test); cost is one extra small shuffle + a join.
    ``"auto"`` delegates the decision to the key-skew profiler over the
    merged two-side timeline (see ``_resolve_hub_chunk``).
    """
    r = right.select(
        *on,
        F.col(right_time).alias(_T),
        F.lit(0).alias(_SRC),
        F.col(tiebreak).alias(_TIE),
        F.struct(*payload).alias(_PAY),
    )
    l = left.withColumn(_T, F.col(left_time)).withColumn(_SRC, F.lit(1))
    merged = l.unionByName(r, allowMissingColumns=True)
    hub_chunk_seconds = _resolve_hub_chunk(
        merged, list(on), F.col(_T), hub_chunk_seconds
    )
    part = list(on)
    if hub_chunk_seconds is not None:
        merged = merged.withColumn(
            "__asof_chunk",
            F.floor(F.col(_T).cast("timestamp").cast("double")
                    / float(hub_chunk_seconds)).cast("long"),
        )
        part = part + ["__asof_chunk"]
    # right rows sort BEFORE left rows at equal time (_SRC 0 < 1), so a
    # right row at exactly t is visible to a left row at t; among right
    # rows at equal time the largest tiebreak sorts last and wins last()
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(_T).asc(), F.col(_SRC).asc(), F.col(_TIE).asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(_PAY, F.last(_PAY, ignorenulls=True).over(w))
    if hub_chunk_seconds is not None:
        # chunk summary: ONE row per non-empty (key, chunk) holding the
        # chunk's last right payload — tiny relative to the data, so the
        # carry window over it (per key, ordered by chunk) is skew-free
        chunk_last = (
            merged.filter(F.col(_SRC) == 0)
            .groupBy(*on, "__asof_chunk")
            .agg(F.max_by(_PAY, F.struct(F.col(_T), F.col(_TIE))).alias("__cl"))
        )
        # spine = EVERY (key, chunk) in the data (a chunk holding only
        # left rows still needs the carry from earlier chunks)
        spine = merged.select(*on, "__asof_chunk").distinct()
        cw = (
            Window.partitionBy(*on)
            .orderBy(F.col("__asof_chunk").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        seeds = spine.join(chunk_last, on=part, how="left").select(
            *on, "__asof_chunk", F.last("__cl", ignorenulls=True).over(cw).alias("__seed")
        )
        carried = carried.join(
            seeds, on=part, how="left"
        ).withColumn(_PAY, F.coalesce(_PAY, F.col("__seed"))).drop("__seed", "__asof_chunk")
    out = carried.filter(F.col(_SRC) == 1)
    for c in payload:
        out = out.withColumn(c, F.col(_PAY)[c])
    return out.drop(_T, _SRC, _TIE, _PAY)


def sessionize(
    events: DataFrame,
    key: str,
    time: str,
    gap_seconds: float,
    tiebreak: str,
    session_col: str = "session_num",
    hub_chunk_seconds: float | str | None = None,
) -> DataFrame:
    """Gap-based sessionization: within each ``key``'s timeline (ordered
    by ``time``, ties by ``tiebreak``), a new session starts at the first
    event and whenever the gap since the previous event exceeds
    ``gap_seconds``. Adds ``session_col`` (1-based long, contiguous per
    key). Single shuffle: both windows share one (key, time) sort.

    ``hub_chunk_seconds`` is the hub-key skew escape hatch (same knob as
    ``asof_join``): the plain window puts one key's ENTIRE timeline in one
    task, so a hub key serializes. With it set, break flags are computed
    per (key, time-chunk) — per-task work bounded by one chunk — and a
    tiny chunk summary (one row per non-empty (key, chunk): first/last
    event time + within-chunk break count) decides each chunk's
    first-row break and running-count base via a skew-free window over
    the summary. Result is row-identical to the plain path (pinned by
    test); cost is one extra small shuffle + a join.

    Time-zone note: NTZ timestamps are gap-compared after a cast through
    the session time zone; this engine pins ``spark.sql.session.timeZone``
    to UTC (session.py), where the cast is exact. Under a caller-supplied
    DST session zone, naive gaps spanning a transition would be off by the
    DST shift — keep the session zone fixed-offset for this operator.
    """
    # TIMESTAMP_NTZ (parquet default) has no direct numeric cast; route
    # through LTZ — the constant session-tz offset cancels in the diff
    sec = F.col(time).cast("timestamp").cast("double")
    gap = float(gap_seconds)
    hub_chunk_seconds = _resolve_hub_chunk(
        events, [key], F.col(time), hub_chunk_seconds
    )
    if hub_chunk_seconds is None:
        w = Window.partitionBy(key).orderBy(F.col(time).asc(), F.col(tiebreak).asc())
        prev = F.lag(sec).over(w)
        brk = F.when(prev.isNull() | ((sec - prev) > gap), F.lit(1)).otherwise(F.lit(0))
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return events.withColumn(session_col, F.sum(brk).over(run).cast("long"))

    df = events.withColumn(
        "__ss_chunk", F.floor(sec / float(hub_chunk_seconds)).cast("long")
    ).withColumn("__ss_sec", sec)
    wc = Window.partitionBy(key, "__ss_chunk").orderBy(
        F.col(time).asc(), F.col(tiebreak).asc()
    )
    prev = F.lag(F.col("__ss_sec")).over(wc)
    # within-chunk break; NULL on each chunk's first row (decided below
    # from the previous non-empty chunk's last event time)
    df = df.withColumn(
        "__ss_brk_w",
        F.when(prev.isNull(), F.lit(None).cast("int")).otherwise(
            F.when((F.col("__ss_sec") - prev) > gap, F.lit(1)).otherwise(F.lit(0))
        ),
    )
    summ = df.groupBy(key, "__ss_chunk").agg(
        F.min(F.struct(F.col(time), F.col(tiebreak), F.col("__ss_sec"))).alias("__f"),
        F.max(F.struct(F.col(time), F.col(tiebreak), F.col("__ss_sec"))).alias("__l"),
        F.coalesce(F.sum("__ss_brk_w"), F.lit(0)).alias("__nbw"),
    )
    cw = Window.partitionBy(key).orderBy(F.col("__ss_chunk").asc())
    summ = summ.withColumn(
        "__prev_last", F.lag(F.col("__l.__ss_sec")).over(cw)
    ).withColumn(
        "__fb",
        F.when(
            F.col("__prev_last").isNull()
            | ((F.col("__f.__ss_sec") - F.col("__prev_last")) > gap),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "__base",
        F.coalesce(
            F.sum(F.col("__fb") + F.col("__nbw")).over(
                cw.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(key, "__ss_chunk", "__fb", "__base")
    run = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        df.join(summ, on=[key, "__ss_chunk"], how="inner")
        .withColumn("__ss_brk", F.coalesce(F.col("__ss_brk_w"), F.col("__fb")))
        .withColumn(
            session_col,
            (F.col("__base") + F.sum("__ss_brk").over(run)).cast("long"),
        )
        .drop("__ss_chunk", "__ss_sec", "__ss_brk_w", "__ss_brk", "__fb", "__base")
    )


def rolling_agg(
    events: DataFrame,
    key: str,
    time: str,
    value: str,
    n_rows: int,
    tiebreak: str,
    prefix: str = "rolling",
    hub_chunk_seconds: float | str | None = None,
) -> DataFrame:
    """Trailing n-row rolling sum/mean/min/max of ``value`` per ``key``
    timeline — the standard smoothing / momentum feature pass.

    The sum runs in DECIMAL(28,6): sliding double frames are computed by
    add/retract accumulators whose FP error depends on the engine, so a
    double rolling sum is NOT reproducible cross-engine (or even across
    plans); the decimal sum is exact, and the mean divides two exact
    quantities in double (IEEE — bit-stable). One shuffle; all four
    aggregates share the single (key, time) window sort.

    ``hub_chunk_seconds`` is the hub-key skew escape hatch (same knob as
    ``asof_join``/``sessionize``): with it set, the trailing window runs
    per (key, time-chunk), and each chunk is seeded with GHOST copies of
    the last ``n_rows - 1`` rows before it — taken from a per-chunk tail
    summary (≤ n_rows-1 (time, tiebreak, value) structs per non-empty
    chunk) carried forward by a skew-free window over the summary. Ghost
    rows order before every real row of their chunk (strictly earlier
    times by construction) and are dropped after the window, so the
    result is row-identical to the plain path (pinned by test). Per-task
    work is bounded by one chunk + n_rows seed rows.
    """
    hub_chunk_seconds = _resolve_hub_chunk(
        events, [key], F.col(time), hub_chunk_seconds
    )
    order = (F.col(time).asc(), F.col(tiebreak).asc())
    dec = F.col(value).cast("decimal(28,6)")

    def attach(df: DataFrame, w) -> DataFrame:
        s = F.sum(dec).over(w)
        n = F.count(F.lit(1)).over(w)
        # mean = double(exact sum) / double(n): one IEEE division of exact
        # inputs — decimal/decimal division would round at engine-specific
        # result scales and diverge cross-engine
        return df.withColumn(
            f"{prefix}_sum", s.cast("double")
        ).withColumn(
            f"{prefix}_mean", s.cast("double") / n.cast("double")
        ).withColumn(
            f"{prefix}_min", F.min(F.col(value)).over(w)
        ).withColumn(
            f"{prefix}_max", F.max(F.col(value)).over(w)
        )

    if hub_chunk_seconds is None:
        w = (
            Window.partitionBy(key)
            .orderBy(*order)
            .rowsBetween(-(n_rows - 1), Window.currentRow)
        )
        return attach(events, w)

    sec = F.col(time).cast("timestamp").cast("double")
    df = events.withColumn(
        "__ra_chunk", F.floor(sec / float(hub_chunk_seconds)).cast("long")
    )
    k = n_rows - 1
    if k == 0:  # frame is the current row only — no cross-chunk state
        w = (
            Window.partitionBy(key, "__ra_chunk")
            .orderBy(*order)
            .rowsBetween(0, 0)
        )
        return attach(df, w).drop("__ra_chunk")
    # per-chunk tail: the last ≤ k rows as ordered structs (sort_array on
    # (time, tiebreak, value) == the window order; value only breaks full
    # (time, tiebreak) ties, where the plain path is equally unordered)
    summ = df.groupBy(key, "__ra_chunk").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(time), F.col(tiebreak), F.col(value).alias("__v"))
            )
        ).alias("__arr")
    ).select(
        key,
        "__ra_chunk",
        F.expr(f"slice(__arr, greatest(1, size(__arr) - {k} + 1), {k})").alias("__tail"),
    )
    cw = (
        Window.partitionBy(key)
        .orderBy(F.col("__ra_chunk").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seeds = (
        summ
        .withColumn("__all_prev", F.flatten(F.collect_list("__tail").over(cw)))
        .withColumn(
            "__seed",
            F.expr(
                f"slice(__all_prev, greatest(1, size(__all_prev) - {k} + 1), {k})"
            ),
        )
        .select(key, "__ra_chunk", F.explode("__seed").alias("__s"))
        .select(
            key,
            "__ra_chunk",
            F.col(f"__s.{time}").alias(time),
            F.col(f"__s.{tiebreak}").alias(tiebreak),
            F.col("__s.__v").alias(value),
            F.lit(True).alias("__ra_ghost"),
        )
    )
    unioned = df.withColumn("__ra_ghost", F.lit(False)).unionByName(
        seeds, allowMissingColumns=True
    )
    w = (
        Window.partitionBy(key, "__ra_chunk")
        .orderBy(*order)
        .rowsBetween(-k, Window.currentRow)
    )
    return (
        attach(unioned, w)
        .filter(~F.col("__ra_ghost"))
        .drop("__ra_chunk", "__ra_ghost")
    )
