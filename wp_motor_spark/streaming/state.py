"""Custom stateful streaming operators.

`sessionize_stream` mirrors the batch gap-sessionization query
(queries.etl.user_sessions: 30-min inactivity boundary) over an unbounded
stream: per-user open-session state, closed sessions emitted as soon as
either (a) a later event proves the gap, or (b) the event-time watermark
passes last_event + gap (EventTimeTimeout). State is three longs per
active user — bounded by the watermark, so a 1000-executor job holds
|active users| * 24 bytes of state, independent of history length.

`dedup_stream` is exact streaming dedup on the content digest:
`dropDuplicatesWithinWatermark` keeps one digest per watermark horizon,
so state is bounded while late duplicates inside the horizon still drop.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from wp_motor_spark.operators.dedup import content_digest


def sessionize_stream(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_sec: int = 1800,
    watermark_sec: int = 3600,
) -> DataFrame:
    """Gap sessionization over a stream; emits one row per CLOSED session:
    (user, n_events, session_start, session_end), append mode.

    Same session boundaries as the batch user_sessions query; an open
    session closes when the watermark (event time minus `watermark_sec`)
    passes its last event + `gap_sec`.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    user_field = stream.schema[user_col]
    out_schema = StructType(
        [
            StructField(user_col, user_field.dataType),
            StructField("n_events", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_s", LongType()),
            StructField("last_s", LongType()),
            StructField("n", LongType()),
        ]
    )

    def _emit(user, sessions) -> pd.DataFrame:
        return pd.DataFrame(
            {
                user_col: [user] * len(sessions),
                "n_events": [n for (_, _, n) in sessions],
                "session_start": [pd.to_datetime(s, unit="s") for (s, _, _) in sessions],
                "session_end": [pd.to_datetime(e, unit="s") for (_, e, _) in sessions],
            }
        )

    def _fn(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user = key[0]
        if state.hasTimedOut:
            start_s, last_s, n = state.get
            state.remove()
            yield _emit(user, [(start_s, last_s, n)])
            return
        secs: list[int] = []
        for pdf in pdfs:
            col = pd.to_datetime(pdf[ts_col]).astype("datetime64[s]").astype("int64")
            secs.extend(int(v) for v in col)
        secs.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed = []
        for t in secs:
            if last is None:
                start, last, n = t, t, 1
            elif t < start - gap_sec:
                # late-but-inside-watermark event more than gap_sec BEFORE the
                # open session (possible when watermark_sec > gap_sec): batch
                # semantics (user_sessions) puts it in its own earlier session,
                # so emit it closed instead of stretching the open session's
                # start across a gap. Consecutive such events within gap_sec of
                # each other coalesce into one closed session (secs is sorted).
                if closed and closed[-1][1] <= t <= closed[-1][1] + gap_sec:
                    s0, l0, n0 = closed[-1]
                    closed[-1] = (s0, max(l0, t), n0 + 1)
                else:
                    closed.append((t, t, 1))
            elif t > last and t - last > gap_sec:
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                # late-but-inside-watermark events from earlier micro-batches
                # arrive with t <= last (secs is sorted within the batch, not
                # across batches): merge without moving the session end
                # backwards or shortening the timeout; events within gap_sec
                # before start extend the session start
                start, last, n = min(start, t), max(last, t), n + 1
        state.update((int(start), int(last), int(n)))
        # timeout must stay ahead of the current watermark or Spark rejects it
        state.setTimeoutTimestamp(
            max((int(last) + gap_sec) * 1000, state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield _emit(user, closed)

    return (
        stream.withWatermark(ts_col, f"{watermark_sec} seconds")
        .groupBy(user_col)
        .applyInPandasWithState(
            _fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    key: Column | None = None,
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content digest wins;
    duplicates arriving within the watermark horizon are dropped with
    bounded state (one 64-hex digest per distinct text per horizon)."""
    keyed = stream.withColumn(
        "__digest", key if key is not None else content_digest(F.col(text_col))
    )
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__digest"])
        .drop("__digest")
    )


class BloomDedupState:
    """Cross-batch streaming dedup against UNBOUNDED history.

    `dedup_stream` bounds state with a watermark — a duplicate arriving
    after the horizon passes through. Continuous crawl ingestion wants the
    opposite tradeoff: remember everything ever seen, accept a tiny
    false-positive rate. This keeps an accumulating Bloom filter of every
    digest ingested so far (driver-held packed bits, OR-merged per batch)
    and filters each micro-batch through it inside `foreachBatch`:

        state = BloomDedupState(n_expected=10**9, fpp=0.01)
        q = (stream.writeStream
             .foreachBatch(lambda df, _:
                 sink.write(state.process_batch(df)))
             .start())

    Semantics: exact dedup EXCEPT ~fpp of genuinely-new documents are
    wrongly dropped (Bloom false positives) — the standard crawl-scale
    contract; within a batch, first-by-id wins exactly. State is O(bits)
    on the driver (1.2 GB for 10^9 docs at 1%), not O(digests), and the
    per-batch filter build is the same single bit_or aggregation as
    `bloom_build`. To make FP drops recoverable, route the dropped rows
    to a side sink and reconcile offline with the exact anti-join.
    """

    def __init__(
        self,
        n_expected: int = 1_000_000,
        fpp: float = 0.01,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> None:
        from wp_motor_spark.operators.bloom import BloomFilter, _params
        import numpy as np

        self.text_col = text_col
        self.id_col = id_col
        m, k = _params(n_expected, fpp)
        self.bloom = BloomFilter(words=np.zeros(m // 64, dtype="uint64"), m=m, k=k)

    def process_batch(self, batch: DataFrame) -> DataFrame:
        """Filter one micro-batch against history, then fold its digests
        into the filter. Fully distributed: the probe snapshots the
        filter bits per batch, and the fold is the bounded bit_or
        aggregation — no driver-side row collection at any batch size."""
        from wp_motor_spark.operators import bloom as _bloom

        b = batch.withColumn("__digest", content_digest(F.col(self.text_col)))
        # bloom_filter_rows snapshots the bit array into its closure, so
        # the probe stays correct even if this DataFrame is re-evaluated
        # after later batches mutate the accumulator — no driver-side
        # collect of the batch is needed
        new = _bloom.bloom_filter_rows(b, "__digest", self.bloom, keep_hits=False)
        # within-batch exact dedup: lowest id per digest wins
        winners = new.groupBy("__digest").agg(
            F.min(self.id_col).alias(self.id_col)
        )
        kept_df = batch.join(winners.select(self.id_col), self.id_col, "inner")
        # fold this batch's kept digests into history — SAME geometry as
        # the accumulator, so the OR-merge is exact
        add = _bloom.bloom_build(
            kept_df.select(content_digest(F.col(self.text_col)).alias("__d")),
            "__d",
            n_expected=1,
            m=self.bloom.m,
            k=self.bloom.k,
        )  # one bounded bit_or aggregation; executes the kept_df plan
        self.bloom.words |= add.words
        return kept_df


def heavy_hitters_stream(
    stream: DataFrame,
    token_col: str = "token",
    m: int = 16,
    n_shards: int = 4,
) -> DataFrame:
    """Streaming heavy hitters by SpaceSaving (Metwally, Agrawal &
    El Abbadi 2005, "Efficient computation of frequent and top-k
    elements in data streams"): each shard keeps at most `m` counters;
    an unseen token evicts the minimum counter, inheriting its count as
    the error bound. Guarantees per shard: est >= true, est - err <=
    true, and every token with true count > n_seen/m is present — the
    fixed-memory streaming twin of the batch `countmin_heavy_hitters`.

    Tokens shard by xxhash64 % n_shards, so state is n_shards * m
    counters TOTAL regardless of vocabulary or stream length, and each
    shard's counters evolve independently (parallelism = n_shards; at
    1000 executors raise n_shards, the merge stays a k*n_shards-row
    batch query). Emits each shard's full counter snapshot per
    micro-batch, stamped with the shard's cumulative n_seen — readers
    take the max-n_seen snapshot per shard (append sinks accumulate).

    The NoTimeout mode is deliberate: heavy-hitter state must survive
    idle periods; its size is already bounded by construction.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("shard", LongType()),
            StructField("n_seen", LongType()),
            StructField("token", StringType()),
            StructField("est", LongType()),
            StructField("err", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("tokens", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
            StructField("errs", ArrayType(LongType())),
            StructField("n_seen", LongType()),
        ]
    )

    def _fn(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        shard = key[0]
        if state.exists:
            tokens, counts, errs, n_seen = state.get
            ctr = {
                t: [c, e] for t, c, e in zip(tokens, counts, errs)
            }
        else:
            ctr, n_seen = {}, 0
        for pdf in pdfs:
            for tok in pdf[token_col]:
                n_seen += 1
                if tok in ctr:
                    ctr[tok][0] += 1
                elif len(ctr) < m:
                    ctr[tok] = [1, 0]
                else:
                    # evict the minimum counter (ties: lexicographic token,
                    # so the evolution is deterministic per arrival order)
                    evict = min(ctr, key=lambda t: (ctr[t][0], t))
                    base = ctr.pop(evict)[0]
                    ctr[tok] = [base + 1, base]
        items = sorted(ctr.items(), key=lambda kv: (-kv[1][0], kv[0]))
        state.update(
            (
                [t for t, _ in items],
                [c for _, (c, _) in items],
                [e for _, (_, e) in items],
                int(n_seen),
            )
        )
        yield pd.DataFrame(
            {
                "shard": [shard] * len(items),
                "n_seen": [n_seen] * len(items),
                "token": [t for t, _ in items],
                "est": [c for _, (c, _) in items],
                "err": [e for _, (_, e) in items],
            }
        )

    sharded = stream.withColumn(
        "__shard", F.pmod(F.xxhash64(F.col(token_col)), F.lit(n_shards))
    )
    return sharded.groupBy("__shard").applyInPandasWithState(
        _fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def ewma_anomaly_stream(
    stream: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    alpha: float = 0.1,
    z_thresh: float = 3.0,
    min_n: int = 10,
) -> DataFrame:
    """Per-key streaming EWMA anomaly detector (Hunter 1986 EWMA control
    charts): mean and variance track exponentially per key; an event
    whose deviation exceeds z_thresh * sqrt(var) AFTER a min_n warm-up
    is emitted as an anomaly, append mode. The check runs BEFORE the
    update, so an outlier is judged against the pre-outlier baseline and
    then absorbed (standard control-chart discipline).

    State is THREE scalars per key (n, mean, var) regardless of stream
    length — the bounded-state property that makes this shippable at
    100 TB/day: |keys| x 24 bytes, no window buffers. Events are
    processed in event-time order within each micro-batch; cross-batch
    order follows arrival like every EWMA deployment.

    Batch twin for correctness intuition: events_anomaly (global
    z-scores); the gate in tests/test_streaming_state.py recomputes the
    identical EWMA recurrence driver-side and requires exact agreement.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_field = stream.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField(ts_col, TimestampType()),
            StructField(val_col, DoubleType()),
            StructField("ewma_mean", DoubleType()),
            StructField("z", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mean", DoubleType()),
            StructField("var", DoubleType()),
        ]
    )

    def _fn(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        k = key[0]
        rows = []
        for pdf in pdfs:
            sub = pdf[[ts_col, val_col]].copy()
            sub[ts_col] = pd.to_datetime(sub[ts_col])
            rows.append(sub)
        if not rows:
            return
        batch = pd.concat(rows).sort_values(
            # stable + value tiebreak: rows sharing a timestamp replay
            # in one fixed order, so the running recurrence (and which
            # row trips the alarm) is deterministic (r15 ADVICE)
            [ts_col, val_col], kind="stable"
        )
        if state.exists:
            n, mean, var = state.get
        else:
            n, mean, var = 0, 0.0, 0.0
        out_ts, out_v, out_m, out_z = [], [], [], []
        for ts, v in zip(batch[ts_col], batch[val_col]):
            v = float(v)
            if n >= min_n and var > 0:
                z = (v - mean) / math.sqrt(var)
                if abs(z) > z_thresh:
                    out_ts.append(ts)
                    out_v.append(v)
                    out_m.append(mean)
                    out_z.append(z)
            if n == 0:
                mean, var = v, 0.0
            else:
                d = v - mean
                mean = mean + alpha * d
                var = (1.0 - alpha) * (var + alpha * d * d)
            n += 1
        state.update((int(n), float(mean), float(var)))
        if out_ts:
            yield pd.DataFrame(
                {
                    key_col: [k] * len(out_ts),
                    ts_col: out_ts,
                    val_col: out_v,
                    "ewma_mean": [round(m, 6) for m in out_m],
                    "z": [round(z, 4) for z in out_z],
                }
            )

    return stream.groupBy(key_col).applyInPandasWithState(
        _fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def cusum_stream(
    stream: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    k_slack: float = 0.5,
    h_sigma: float = 4.0,
    min_n: int = 20,
) -> DataFrame:
    """Per-key streaming CUSUM changepoint detector (Page 1954, the
    tabular two-sided form): the first ``min_n`` values per key
    calibrate the baseline (Welford mean/variance, then FROZEN);
    afterwards S+ accumulates positive deviations beyond ``k_slack`` *
    sigma and S- the negative ones, and a value that pushes either side
    past ``h_sigma`` * sigma is emitted as a changepoint alarm, after
    which that side resets (standard CUSUM restart discipline).
    Complements `ewma_anomaly_stream`: EWMA flags POINT outliers, CUSUM
    flags small sustained SHIFTS that never individually exceed a
    z-threshold.

    State is FIVE scalars per key (n, mean, m2-or-frozen-var, s_pos,
    s_neg) regardless of stream length — the same bounded-state
    property as the EWMA detector: |keys| x 40 bytes, no window
    buffers. Batch twin (exact-oracle): queries.timeseries.cusum_changepoint (the
    window-closed-form over daily rollups). The gate in
    tests/test_streaming_state.py recomputes this recurrence
    driver-side and requires exact agreement."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_field = stream.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField(ts_col, TimestampType()),
            StructField(val_col, DoubleType()),
            StructField("s_pos", DoubleType()),
            StructField("s_neg", DoubleType()),
            StructField("direction", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mean", DoubleType()),
            StructField("m2", DoubleType()),
            StructField("s_pos", DoubleType()),
            StructField("s_neg", DoubleType()),
        ]
    )

    def _fn(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        kval = key[0]
        rows = []
        for pdf in pdfs:
            sub = pdf[[ts_col, val_col]].copy()
            sub[ts_col] = pd.to_datetime(sub[ts_col])
            rows.append(sub)
        if not rows:
            return
        batch = pd.concat(rows).sort_values(
            # stable + value tiebreak: rows sharing a timestamp replay
            # in one fixed order, so the running recurrence (and which
            # row trips the alarm) is deterministic (r15 ADVICE)
            [ts_col, val_col], kind="stable"
        )
        if state.exists:
            n, mean, m2, sp, sn = state.get
        else:
            n, mean, m2, sp, sn = 0, 0.0, 0.0, 0.0, 0.0
        out = {c: [] for c in (ts_col, val_col, "s_pos", "s_neg", "dir")}
        for ts, v in zip(batch[ts_col], batch[val_col]):
            v = float(v)
            if n < min_n:
                # Welford calibration phase; at n == min_n the baseline
                # freezes (m2 thereafter stores the frozen variance)
                n += 1
                d = v - mean
                mean += d / n
                m2 += d * (v - mean)
                if n == min_n:
                    m2 = m2 / n  # frozen population variance
                continue
            sig = math.sqrt(m2) if m2 > 0 else 1.0
            sp = max(0.0, sp + (v - mean - k_slack * sig))
            sn = max(0.0, sn + (mean - k_slack * sig - v))
            if sp > h_sigma * sig or sn > h_sigma * sig:
                out[ts_col].append(ts)
                out[val_col].append(v)
                out["s_pos"].append(round(sp, 6))
                out["s_neg"].append(round(sn, 6))
                out["dir"].append("up" if sp > h_sigma * sig else "down")
                if sp > h_sigma * sig:
                    sp = 0.0
                if sn > h_sigma * sig:
                    sn = 0.0
            n += 1
        state.update((int(n), float(mean), float(m2), float(sp), float(sn)))
        if out[ts_col]:
            yield pd.DataFrame(
                {
                    key_col: [kval] * len(out[ts_col]),
                    ts_col: out[ts_col],
                    val_col: out[val_col],
                    "s_pos": out["s_pos"],
                    "s_neg": out["s_neg"],
                    "direction": out["dir"],
                }
            )

    return stream.groupBy(key_col).applyInPandasWithState(
        _fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def page_hinkley_stream(
    stream: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    delta: float = 0.0,
    lam: float = 5.0,
    min_n: int = 10,
) -> DataFrame:
    """Per-key streaming Page-Hinkley mean-drift detector (Page 1954;
    the stream-mining formulation surveyed in Gama et al. 2014): the
    cumulative deviation U_t += x_t - xbar_t - delta (xbar_t = running
    mean INCLUDING x_t), with PH_t = U_t - min_s U_s; PH_t > lam after
    ``min_n`` observations raises a drift alarm, and the detector
    RESTARTS (n, sum, U, minU reset) — the standard adaptive-learning
    trigger for "the input distribution moved, refit". Complements
    cusum_stream: CUSUM tracks sigma-scaled shifts against a FROZEN
    calibration baseline; Page-Hinkley tracks drift against the
    evolving mean with an absolute margin, no variance estimate
    needed.

    State is FOUR scalars per key (n, sum, u, min_u) regardless of
    stream length. Batch twin (exact-oracle):
    queries.timeseries.page_hinkley (window-closed-form over daily means, no restart). The gate in
    tests/test_streaming_state.py recomputes this recurrence
    driver-side and requires exact agreement."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_field = stream.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField(ts_col, TimestampType()),
            StructField(val_col, DoubleType()),
            StructField("ph", DoubleType()),
            StructField("mean_at_alarm", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", DoubleType()),
            StructField("u", DoubleType()),
            StructField("min_u", DoubleType()),
        ]
    )

    def _fn(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        kval = key[0]
        rows = []
        for pdf in pdfs:
            sub = pdf[[ts_col, val_col]].copy()
            sub[ts_col] = pd.to_datetime(sub[ts_col])
            rows.append(sub)
        if not rows:
            return
        batch = pd.concat(rows).sort_values(
            # stable + value tiebreak: rows sharing a timestamp replay
            # in one fixed order, so the running recurrence (and which
            # row trips the alarm) is deterministic (r15 ADVICE)
            [ts_col, val_col], kind="stable"
        )
        if state.exists:
            n, s, u, mu = state.get
        else:
            n, s, u, mu = 0, 0.0, 0.0, 0.0
        out = {c: [] for c in (ts_col, val_col, "ph", "mean")}
        for ts, v in zip(batch[ts_col], batch[val_col]):
            v = float(v)
            n += 1
            s += v
            mean = s / n
            u += v - mean - delta
            mu = min(mu, u)
            ph = u - mu
            if n >= min_n and ph > lam:
                out[ts_col].append(ts)
                out[val_col].append(v)
                out["ph"].append(round(ph, 6))
                out["mean"].append(round(mean, 6))
                n, s, u, mu = 0, 0.0, 0.0, 0.0
        state.update((int(n), float(s), float(u), float(mu)))
        if out[ts_col]:
            yield pd.DataFrame(
                {
                    key_col: [kval] * len(out[ts_col]),
                    ts_col: out[ts_col],
                    val_col: out[val_col],
                    "ph": out["ph"],
                    "mean_at_alarm": out["mean"],
                }
            )

    return stream.groupBy(key_col).applyInPandasWithState(
        _fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def ewma_chart_stream(
    stream: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    lam: float = 0.2,
    l_mult: float = 3.0,
    calib_n: int = 20,
) -> DataFrame:
    """Per-key streaming EWMA control chart (Roberts 1959; the
    time-varying control limits of Lucas & Saccucci 1990): the first
    ``calib_n`` observations CALIBRATE a frozen in-control baseline
    (mu, sigma) — the cusum_stream discipline — then the EWMA
    statistic z_i = lam * x + (1 - lam) * z_{i-1} is monitored
    against mu +- L * sigma * sqrt(lam / (2 - lam) *
    (1 - (1 - lam)^(2i))); an excursion emits an alarm row with the
    side. Detects SMALL SUSTAINED shifts the point-outlier
    ewma_anomaly_stream's z-test misses, without CUSUM's reference-
    value tuning. The chart keeps running after an alarm (control-
    chart convention: the excursion itself is the record; no restart).

    State is SEVEN scalars per key regardless of stream length. The
    gate in tests/test_streaming_state.py recomputes this recurrence
    driver-side and requires exact agreement."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_field = stream.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField(ts_col, TimestampType()),
            StructField(val_col, DoubleType()),
            StructField("ewma", DoubleType()),
            StructField("limit", DoubleType()),
            StructField("side", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", DoubleType()),
            StructField("s2", DoubleType()),
            StructField("mu", DoubleType()),
            StructField("sig", DoubleType()),
            StructField("z", DoubleType()),
            StructField("i", LongType()),
        ]
    )

    def _fn(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        kval = key[0]
        rows = []
        for pdf in pdfs:
            sub = pdf[[ts_col, val_col]].copy()
            sub[ts_col] = pd.to_datetime(sub[ts_col])
            rows.append(sub)
        if not rows:
            return
        batch = pd.concat(rows).sort_values(
            # stable + value tiebreak: deterministic tie replay (the
            # page_hinkley_stream discipline)
            [ts_col, val_col], kind="stable"
        )
        if state.exists:
            n, s, s2, mu, sig, z, i = state.get
        else:
            n, s, s2, mu, sig, z, i = 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0
        out = {c: [] for c in (ts_col, val_col, "ewma", "limit", "side")}
        for ts, v in zip(batch[ts_col], batch[val_col]):
            v = float(v)
            if n < calib_n:
                n += 1
                s += v
                s2 += v * v
                if n == calib_n:
                    mu = s / n
                    sig = math.sqrt(max(s2 / n - mu * mu, 0.0))
                    z = mu
                continue
            i += 1
            z = lam * v + (1.0 - lam) * z
            width = (
                l_mult
                * sig
                * math.sqrt(
                    lam / (2.0 - lam)
                    * (1.0 - (1.0 - lam) ** (2 * i))
                )
            )
            if abs(z - mu) > width:
                out[ts_col].append(ts)
                out[val_col].append(v)
                out["ewma"].append(round(z, 6))
                out["limit"].append(round(width, 6))
                out["side"].append("high" if z > mu else "low")
        state.update(
            (
                int(n), float(s), float(s2), float(mu), float(sig),
                float(z), int(i),
            )
        )
        if out[ts_col]:
            yield pd.DataFrame(
                {
                    key_col: [kval] * len(out[ts_col]),
                    ts_col: out[ts_col],
                    val_col: out[val_col],
                    "ewma": out["ewma"],
                    "limit": out["limit"],
                    "side": out["side"],
                }
            )

    return stream.groupBy(key_col).applyInPandasWithState(
        _fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
