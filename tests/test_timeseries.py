"""as-of join + sessionization semantics and plan shape."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from financial_knowledge_graphs_spark.operators.timeseries import asof_join, sessionize


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_with_ties_and_misses(spark):
    quotes = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 101, 9.0),
            (1, _ts("2024-01-01 10:05:00"), 102, 10.0),
            # two quotes at the SAME instant: larger tiebreak (qid) wins
            (1, _ts("2024-01-01 10:05:00"), 103, 11.0),
            (2, _ts("2024-01-01 12:00:00"), 201, 50.0),
        ],
        "key long, qt timestamp, qid long, px double",
    )
    trades = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:03:00"), 1001),  # -> quote 101
            (1, _ts("2024-01-01 10:05:00"), 1002),  # equal time -> 103 (tie)
            (1, _ts("2024-01-01 11:00:00"), 1003),  # -> 103
            (2, _ts("2024-01-01 11:59:59"), 2001),  # before any quote -> NULL
            (3, _ts("2024-01-01 10:00:00"), 3001),  # key never quoted -> NULL
        ],
        "key long, tt timestamp, tid long",
    )
    got = {
        r["tid"]: (r["qid"], r["px"])
        for r in asof_join(
            trades, quotes, on=["key"], left_time="tt", right_time="qt",
            payload=["qid", "px"], tiebreak="qid",
        ).collect()
    }
    assert got[1001] == (101, 9.0)
    assert got[1002] == (103, 11.0)   # same-instant quote visible, max qid
    assert got[1003] == (103, 11.0)
    assert got[2001] == (None, None)  # left semantics keep the row
    assert got[3001] == (None, None)


def test_asof_join_single_shuffle_plan(spark):
    quotes = spark.range(10).select(
        (F.col("id") % 2).alias("key"),
        F.timestamp_seconds(F.col("id") * 60).alias("qt"),
        F.col("id").alias("qid"), F.rand(7).alias("px"),
    )
    trades = spark.range(10).select(
        (F.col("id") % 2).alias("key"),
        F.timestamp_seconds(F.col("id") * 60 + 30).alias("tt"),
        F.col("id").alias("tid"),
    )
    plan = asof_join(
        trades, quotes, on=["key"], left_time="tt", right_time="qt",
        payload=["qid", "px"], tiebreak="qid",
    )._jdf.queryExecution().executedPlan().toString()
    # union-sort-merge: ONE exchange (the window's hash partitioning),
    # no join operator at all
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_sessionize_gap_breaks_and_ties(spark):
    ev = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 1),
            (1, _ts("2024-01-01 10:10:00"), 2),   # 10 min -> same session
            (1, _ts("2024-01-01 11:10:01"), 3),   # 3601 s -> new session
            (1, _ts("2024-01-01 12:10:01"), 4),   # exactly 3600 s -> SAME
            (2, _ts("2024-01-01 10:00:00"), 5),   # separate key restarts at 1
        ],
        "user long, ts timestamp, eid long",
    )
    got = {
        r["eid"]: r["session_num"]
        for r in sessionize(ev, "user", "ts", 3600, "eid").collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_sessionize_subsecond_gap_precision(spark):
    # microsecond-resolution boundary: 1.000001 s gap vs 1.0 s threshold
    ev = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00.000000"), 1),
            (1, _ts("2024-01-01 10:00:01.000001"), 2),  # > 1 s -> break
            (1, _ts("2024-01-01 10:00:02.000001"), 3),  # exactly 1 s -> same
        ],
        "user long, ts timestamp, eid long",
    )
    got = {
        r["eid"]: r["session_num"]
        for r in sessionize(ev, "user", "ts", 1, "eid").collect()
    }
    assert got == {1: 1, 2: 2, 3: 2}


def test_sessionize_single_shuffle_plan(spark):
    ev = spark.range(100).select(
        (F.col("id") % 5).alias("user"),
        F.timestamp_seconds(F.col("id") * 17).alias("ts"),
        F.col("id").alias("eid"),
    )
    plan = sessionize(ev, "user", "ts", 60, "eid")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_asof_join_hub_chunked_equals_plain(spark):
    # hub key 0 with dense quotes+trades, sparse key 1, plus chunks that
    # contain only trades (seed must carry across empty-quote chunks)
    quotes = spark.range(200).select(
        (F.col("id") % 2).alias("key"),
        F.timestamp_seconds(F.col("id") * 37 % 3000).alias("qt"),
        F.col("id").alias("qid"),
        (F.col("id") * 1.5).alias("px"),
    ).filter(
        # kill all quotes in [1000, 2000): two whole 500-s chunks empty
        ~((F.col("qt").cast("double") >= 1000) & (F.col("qt").cast("double") < 2000))
    )
    trades = spark.range(300).select(
        (F.col("id") % 2).alias("key"),
        F.timestamp_seconds(F.col("id") * 23 % 3100).alias("tt"),
        F.col("id").alias("tid"),
    )
    kw = dict(on=["key"], left_time="tt", right_time="qt",
              payload=["qid", "px"], tiebreak="qid")
    plain = {
        r["tid"]: (r["qid"], r["px"])
        for r in asof_join(trades, quotes, **kw).collect()
    }
    chunked = {
        r["tid"]: (r["qid"], r["px"])
        for r in asof_join(trades, quotes, hub_chunk_seconds=500, **kw).collect()
    }
    assert chunked == plain
    assert len(plain) == 300


def test_rolling_agg_model_equivalence(spark):
    """rolling_agg vs a pure-Python trailing-window model on a randomized
    multi-key timeline with timestamp ties (tiebreak column decides order)."""
    import random

    from financial_knowledge_graphs_spark.operators.timeseries import rolling_agg

    rng = random.Random("rolling-model:1")
    rows = [
        (i, rng.randrange(3), rng.randrange(20), round(rng.uniform(-50, 50), 3))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "eid long, key long, t long, v double") \
        .withColumn("ts", F.timestamp_seconds(F.col("t")))
    got = {
        r["eid"]: (r["r_sum"], r["r_mean"], r["r_min"], r["r_max"])
        for r in rolling_agg(df, "key", "ts", "v", 5, "eid", prefix="r").collect()
    }
    by_key = {}
    for eid, key, t, v in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        win = by_key.setdefault(key, [])
        win.append((eid, v))
        tail = [x[1] for x in win[-5:]]
        s = sum(tail)
        want = (s, s / len(tail), min(tail), max(tail))
        g = got[eid]
        assert abs(g[0] - want[0]) < 1e-9 and abs(g[1] - want[1]) < 1e-9
        assert g[2] == want[2] and g[3] == want[3]
    assert len(got) == 200


def test_rolling_agg_single_shuffle_plan(spark):
    from financial_knowledge_graphs_spark.operators.timeseries import rolling_agg

    ev = spark.range(100).select(
        (F.col("id") % 5).alias("key"),
        F.timestamp_seconds(F.col("id") * 17).alias("ts"),
        F.col("id").alias("eid"),
        (F.col("id") * 1.5).alias("v"),
    )
    out = rolling_agg(ev, "key", "ts", "v", 7, "eid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_sessionize_hub_chunked_equals_plain(spark):
    """Chunked path must be row-identical to the plain path, including
    sessions that span chunk boundaries, chunks with a single event, and
    whole empty chunks between events of the same key."""
    import random

    rng = random.Random("sess-chunk:1")
    rows = []
    t = 0
    for i in range(400):
        # mix of tiny gaps (same session), medium (new session), and
        # occasional huge jumps (skips several whole 500-s chunks)
        t += rng.choice([1, 2, 5, 40, 40, 700, 1600])
        rows.append((i, rng.randrange(3), t))
    df = spark.createDataFrame(rows, "eid long, key long, t long").withColumn(
        "ts", F.timestamp_seconds(F.col("t"))
    )
    kw = dict(key="key", time="ts", gap_seconds=30, tiebreak="eid")
    plain = {r["eid"]: r["session_num"]
             for r in sessionize(df, **kw).collect()}
    chunked = {r["eid"]: r["session_num"]
               for r in sessionize(df, hub_chunk_seconds=500, **kw).collect()}
    assert chunked == plain
    assert len(plain) == 400 and max(plain.values()) > 3


def test_sessionize_hub_chunked_tie_rows(spark):
    """Timestamp ties across the board (all events at 3 instants, two of
    them in the same chunk) — tiebreak ordering must hold chunked too."""
    rows = [(i, i % 2, [100, 100, 900][i % 3]) for i in range(24)]
    df = spark.createDataFrame(rows, "eid long, key long, t long").withColumn(
        "ts", F.timestamp_seconds(F.col("t"))
    )
    kw = dict(key="key", time="ts", gap_seconds=50, tiebreak="eid")
    plain = {r["eid"]: r["session_num"] for r in sessionize(df, **kw).collect()}
    chunked = {r["eid"]: r["session_num"]
               for r in sessionize(df, hub_chunk_seconds=500, **kw).collect()}
    assert chunked == plain


def test_rolling_agg_hub_chunked_equals_plain(spark):
    """Chunked rolling window must equal the plain path row-for-row: the
    trailing frame regularly spans 1-3 chunk boundaries (n=7 rows vs
    chunks of ~2-4 events), and some keys have sparse multi-chunk gaps so
    seeds must flow through chunks the PREVIOUS chunk can't fill alone."""
    import random

    from financial_knowledge_graphs_spark.operators.timeseries import rolling_agg

    rng = random.Random("roll-chunk:7")
    rows = []
    t = 0
    for i in range(300):
        t += rng.choice([30, 60, 90, 1100])  # ~2-4 events per 500-s chunk
        rows.append((i, rng.randrange(3), t, round(rng.uniform(-9, 9), 3)))
    df = spark.createDataFrame(rows, "eid long, key long, t long, v double") \
        .withColumn("ts", F.timestamp_seconds(F.col("t")))
    kw = dict(key="key", time="ts", value="v", n_rows=7, tiebreak="eid",
              prefix="r")
    plain = {
        r["eid"]: (r["r_sum"], r["r_mean"], r["r_min"], r["r_max"])
        for r in rolling_agg(df, **kw).collect()
    }
    chunked = {
        r["eid"]: (r["r_sum"], r["r_mean"], r["r_min"], r["r_max"])
        for r in rolling_agg(df, hub_chunk_seconds=500, **kw).collect()
    }
    assert chunked == plain
    assert len(plain) == 300


def test_rolling_agg_hub_chunked_n1(spark):
    """n_rows=1 short-circuits the seed machinery (frame = current row)."""
    from financial_knowledge_graphs_spark.operators.timeseries import rolling_agg

    ev = spark.range(40).select(
        (F.col("id") % 2).alias("key"),
        F.timestamp_seconds(F.col("id") * 333).alias("ts"),
        F.col("id").alias("eid"),
        (F.col("id") * 1.5).alias("v"),
    )
    kw = dict(key="key", time="ts", value="v", n_rows=1, tiebreak="eid")
    plain = {r["eid"]: r["rolling_sum"] for r in rolling_agg(ev, **kw).collect()}
    chunked = {r["eid"]: r["rolling_sum"]
               for r in rolling_agg(ev, hub_chunk_seconds=500, **kw).collect()}
    assert chunked == plain


def _hub_events(spark):
    """Hub fixture: key 0 holds 300 of 340 rows spread over ~3000s; keys
    1-4 hold 10 each."""
    hub = spark.range(300).select(
        F.lit(0).alias("key"),
        F.timestamp_seconds(F.col("id") * 10).alias("ts"),
        F.col("id").alias("eid"),
        (F.col("id") * 1.5).alias("v"),
    )
    cold = spark.range(40).select(
        (F.col("id") % 4 + 1).alias("key"),
        F.timestamp_seconds(F.col("id") * 70).alias("ts"),
        (F.col("id") + 1000).alias("eid"),
        (F.col("id") * 2.5).alias("v"),
    )
    return hub.unionByName(cold)


def test_auto_hub_chunk_uniform_resolves_to_plain(spark):
    """hub_chunk_seconds="auto" on uniform data: resolver returns None and
    the operator output equals the plain path (same single-window plan)."""
    from financial_knowledge_graphs_spark.operators import timeseries as ts

    ev = spark.range(100).select(
        (F.col("id") % 5).alias("key"),
        F.timestamp_seconds(F.col("id") * 17).alias("ts"),
        F.col("id").alias("eid"),
        (F.col("id") * 1.5).alias("v"),
    )
    assert ts._resolve_hub_chunk(ev, ["key"], F.col("ts"), "auto") is None
    kw = dict(key="key", time="ts", gap_seconds=30, tiebreak="eid")
    plain = {r["eid"]: r["session_num"]
             for r in ts.sessionize(ev, **kw).collect()}
    auto = {r["eid"]: r["session_num"]
            for r in ts.sessionize(ev, hub_chunk_seconds="auto", **kw).collect()}
    assert auto == plain


@pytest.mark.parametrize("bad", ["Auto", "30", 0, -5.0, True, [30]])
def test_hub_chunk_seconds_rejects_bad_values(spark, bad):
    """The knob is checked where it is passed in: a typo or a numeric
    string raises ValueError naming it, before any Spark job."""
    from financial_knowledge_graphs_spark.operators import timeseries as ts

    ev = spark.range(4).select(
        F.col("id").alias("key"), F.timestamp_seconds("id").alias("ts"),
        F.col("id").alias("eid"))
    with pytest.raises(ValueError, match="hub_chunk_seconds"):
        ts.sessionize(ev, key="key", time="ts", gap_seconds=30,
                      tiebreak="eid", hub_chunk_seconds=bad)


def test_auto_hub_chunk_engages_on_hub(spark, monkeypatch):
    """With the trip point lowered, "auto" engages on the hub fixture (the
    resolver picks a positive chunk width splitting the hot key into
    ~n/AUTO_HUB_MAX_ROWS chunks) and stays row-identical to plain for all
    three operators."""
    from financial_knowledge_graphs_spark.operators import timeseries as ts

    monkeypatch.setattr(ts, "AUTO_HUB_MAX_ROWS", 50)
    ev = _hub_events(spark)
    width = ts._resolve_hub_chunk(ev, ["key"], F.col("ts"), "auto")
    assert width is not None and 0 < width <= 2990 / 2  # >= 2 chunks

    skw = dict(key="key", time="ts", gap_seconds=15, tiebreak="eid")
    plain_s = {r["eid"]: r["session_num"]
               for r in ts.sessionize(ev, **skw).collect()}
    auto_s = {r["eid"]: r["session_num"]
              for r in ts.sessionize(ev, hub_chunk_seconds="auto", **skw).collect()}
    assert auto_s == plain_s and len(plain_s) == 340

    rkw = dict(key="key", time="ts", value="v", n_rows=5, tiebreak="eid")
    plain_r = {r["eid"]: (r["rolling_sum"], r["rolling_min"])
               for r in ts.rolling_agg(ev, **rkw).collect()}
    auto_r = {r["eid"]: (r["rolling_sum"], r["rolling_min"])
              for r in ts.rolling_agg(ev, hub_chunk_seconds="auto", **rkw).collect()}
    assert auto_r == plain_r

    quotes = ev.select("key", F.col("ts").alias("qt"),
                       F.col("eid").alias("qid"), F.col("v").alias("px"))
    trades = spark.range(200).select(
        F.lit(0).alias("key"),
        F.timestamp_seconds(F.col("id") * 16 + 3).alias("tt"),
        F.col("id").alias("tid"),
    )
    akw = dict(on=["key"], left_time="tt", right_time="qt",
               payload=["qid", "px"], tiebreak="qid")
    plain_a = {r["tid"]: (r["qid"], r["px"])
               for r in ts.asof_join(trades, quotes, **akw).collect()}
    auto_a = {r["tid"]: (r["qid"], r["px"])
              for r in ts.asof_join(trades, quotes,
                                    hub_chunk_seconds="auto", **akw).collect()}
    assert auto_a == plain_a and len(plain_a) == 200


def test_auto_hub_chunk_edge_cases(spark, monkeypatch):
    """Resolver edge cases: empty input, a single-instant hub (span 0 —
    time chunking cannot split it), all-null times, and numeric/None
    passthrough all fall back to the plain single-window path."""
    from financial_knowledge_graphs_spark.operators import timeseries as ts

    monkeypatch.setattr(ts, "AUTO_HUB_MAX_ROWS", 5)
    empty = spark.range(0).select(
        F.col("id").alias("key"), F.timestamp_seconds(F.col("id")).alias("ts"))
    assert ts._resolve_hub_chunk(empty, ["key"], F.col("ts"), "auto") is None

    one_t = spark.range(20).select(
        F.lit(0).alias("key"), F.timestamp_seconds(F.lit(100)).alias("ts"))
    assert ts._resolve_hub_chunk(one_t, ["key"], F.col("ts"), "auto") is None

    null_t = spark.range(20).select(
        F.lit(0).alias("key"),
        F.lit(None).cast("timestamp").alias("ts"))
    assert ts._resolve_hub_chunk(null_t, ["key"], F.col("ts"), "auto") is None

    assert ts._resolve_hub_chunk(one_t, ["key"], F.col("ts"), 500) == 500
    assert ts._resolve_hub_chunk(one_t, ["key"], F.col("ts"), None) is None
