"""Time-series and drift queries over daily and hourly event series:
decomposition, autocorrelation, trend and change-point tests, control
charts, anomaly detectors and distribution-drift monitors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wp_motor_spark.queries._common import _dec, _holds_rank, _t, query
from wp_motor_spark.session import scoped_persist


@query("""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS cnt
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, quantile_cont(cnt, 0.5) AS med FROM hourly GROUP BY 1
), mad AS (
  SELECT h.event_type, quantile_cont(abs(h.cnt - m.med), 0.5) AS mad
  FROM hourly h JOIN med m USING (event_type) GROUP BY 1
)
SELECT h.event_type, h.hour, h.cnt,
       round(m.med, 4) AS med, round(d.mad, 4) AS mad
FROM hourly h JOIN med m USING (event_type) JOIN mad d USING (event_type)
WHERE abs(h.cnt - m.med) > 3 * greatest(d.mad, 0.5)
""")
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection over the monitoring stream: hourly counts
    per event type, flagged where |count - median| > 3 * MAD (median
    absolute deviation — robust to the very outliers it hunts, unlike
    z-scores). Exact interpolated medians both engines; two aggregation
    passes + a broadcast join of |types| stat rows."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(cnt, 0.5)").alias("med")
    )
    withmed = hourly.join(F.broadcast(med), "event_type")
    mad = withmed.groupBy("event_type").agg(
        F.expr("percentile(abs(cnt - med), 0.5)").alias("mad")
    )
    flagged = (
        withmed.join(F.broadcast(mad), "event_type")
        .where(F.abs(F.col("cnt") - F.col("med")) > 3 * F.greatest(F.col("mad"), F.lit(0.5)))
        .select(
            "event_type",
            "hour",
            "cnt",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
        )
    )
    return flagged


@query(None)
def ewma_anomaly_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of `ewma_anomaly_stream` (Hunter 1986 EWMA control
    charts): the identical per-key recurrence — check BEFORE update, n/
    mean/var state, min_n warm-up — folded over each key's time-ordered
    values with F.aggregate, entirely JVM-side. Emits the same anomaly
    rows the streaming operator would across any batch split.

    Rows-only for the driver: DuckDB 1.0.0's reduce() mis-evaluates
    struct accumulators (list appends drop prior state; the var
    recurrence reads a stale mean — both reproduced in isolation), so
    no SQL oracle can express the fold; the gate is an EXACT driver-side
    python recompute of the recurrence (tests/test_quality.py),
    the same discipline as the streaming op's gate.

    Scale shape (CHUNKED affine fold, r15 — the burst_detection
    treatment): the EWMA state COMPOSES. Over a chunk, the exit mean is
    affine in the entry mean (mean_out = a*mean_in + b with a the
    accumulated (1-alpha) decay and b the zero-entry fold), and the
    exit variance is affine in the entry variance plus a quadratic in
    the entry mean (var_out = W*var_in + V2*m^2 + V1*m + V0) — the
    quadratic is well-conditioned because b tracks the data, so each
    residual c_j = v_j - b_{j-1} is the SMALL deviation, not the raw
    value. Three bounded stages: (A) per (key, calendar-week) chunk,
    applyInPandas folds the 7-scalar composite; (B) a per-key stitch
    over the |weeks|-bounded composite frame chains entry states and
    global row offsets; (C) each chunk re-runs the exact recurrence IN
    PARALLEL from its stitched entry state and emits its anomaly rows.
    Per-task memory is one week of one key, not the key's whole
    history — the 1e8-events/key single-Arrow-batch ceiling is gone.
    The key's FIRST chunk folds from the true n=0 start (a=W=0), so
    the stitch is exact there by construction; later entries drift only
    by float-association ulps, which the exact gate arbitrates. The
    STREAMING op with 3-scalar state remains the unbounded-history
    online path."""
    ev = _t(spark, sf_dir, "events")
    alpha, z_thresh, min_n = 0.1, 2.0, 10

    import math

    import pandas as pd

    base = ev.select(
        "event_type", "ts", "event_id", F.col("value").cast("double").alias("value")
    )
    evd = base.withColumn("wk", F.date_trunc("week", F.col("ts")))
    wks = (
        evd.select("event_type", "wk")
        .distinct()
        .withColumn(
            "cidx",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("wk")
            )
            - 1,
        )
    )
    # feeds both the composite pass and the emit pass — persist once
    aug = scoped_persist(
        evd.join(F.broadcast(wks), ["event_type", "wk"]).drop("wk")
    )

    def _composite(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        vs = pdf["value"].astype("float64").to_numpy()
        first = int(pdf["cidx"].iloc[0]) == 0
        if first:
            # known n=0 entry: exit state is constant (a = W = 0)
            n, mean, var = 0, 0.0, 0.0
            for v in vs:
                v = float(v)
                if n == 0:
                    mean, var = v, 0.0
                else:
                    d = v - mean
                    mean = mean + alpha * d
                    var = (1.0 - alpha) * (var + alpha * d * d)
                n += 1
            a, b, w, v2, v1, v0 = 0.0, mean, 0.0, 0.0, 0.0, var
        else:
            a, b, w = 1.0, 0.0, 1.0
            v2, v1, v0 = 0.0, 0.0, 0.0
            for v in vs:
                c = float(v) - b
                v2 = (1.0 - alpha) * (v2 + alpha * a * a)
                v1 = (1.0 - alpha) * (v1 - 2.0 * alpha * c * a)
                v0 = (1.0 - alpha) * (v0 + alpha * c * c)
                w = (1.0 - alpha) * w
                b = b + alpha * c
                a = (1.0 - alpha) * a
        return pd.DataFrame(
            [
                (
                    pdf["event_type"].iloc[0],
                    int(pdf["cidx"].iloc[0]),
                    len(vs),
                    a,
                    b,
                    w,
                    v2,
                    v1,
                    v0,
                )
            ],
            columns=[
                "event_type", "cidx", "cnt", "a", "b", "w", "v2", "v1", "v0",
            ],
        )

    comps = aug.groupBy("event_type", "cidx").applyInPandas(
        _composite,
        "event_type string, cidx long, cnt long, a double, b double, "
        "w double, v2 double, v1 double, v0 double",
    )

    def _stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cidx").reset_index(drop=True)
        n, m, va = 0, 0.0, 0.0
        out = []
        for r in pdf.itertuples(index=False):
            out.append((r.event_type, r.cidx, n, m, va))
            m, va = (
                r.a * m + r.b,
                r.w * va + r.v2 * m * m + r.v1 * m + r.v0,
            )
            n += int(r.cnt)
        return pd.DataFrame(
            out, columns=["event_type", "cidx", "n_in", "mean_in", "var_in"]
        )

    stitched = comps.groupBy("event_type").applyInPandas(
        _stitch,
        "event_type string, cidx long, n_in long, mean_in double, "
        "var_in double",
    )

    def _emit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        ts = pdf["ts"].to_numpy()
        vs = pdf["value"].astype("float64").to_numpy()
        et = pdf["event_type"].iloc[0]
        n = int(pdf["n_in"].iloc[0])
        mean = float(pdf["mean_in"].iloc[0])
        var = float(pdf["var_in"].iloc[0])
        rows = []
        for i in range(len(vs)):
            v = float(vs[i])
            d = v - mean
            if n >= min_n and var > 0:
                z = d / math.sqrt(var)
                if abs(z) > z_thresh:
                    rows.append((et, ts[i], v, round(mean, 6), round(z, 4)))
            if n == 0:
                mean, var = v, 0.0
            else:
                mean = mean + alpha * d
                var = (1.0 - alpha) * (var + alpha * d * d)
            n += 1
        return pd.DataFrame(
            rows, columns=["event_type", "ts", "value", "ewma_mean", "z"]
        )

    # stitched is |keys x weeks| rows — calendar-bounded, broadcast
    return (
        aug.join(F.broadcast(stitched), ["event_type", "cidx"])
        .groupBy("event_type", "cidx")
        .applyInPandas(
            _emit,
            "event_type string, ts timestamp, value double, "
            "ewma_mean double, z double",
        )
    )


@query(None)
def burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg two-state burst detection (Kleinberg 2002, "Bursty and
    Hierarchical Structure in Streams", the k=2 automaton): per
    event_type, inter-arrival gaps drive a Viterbi over the base state
    (exponential rate 1/mean_gap) and the burst state (rate s/mean_gap,
    s=4), paying gamma*ln(n) (gamma=1) to ENTER the burst — the standard
    burst segmentation for event/query streams. The homogeneous
    synthetic stream is correctly burst-free, so a burst is EMBEDDED
    deterministically (days 10-14 compress 20x at integer-microsecond
    floor division). Emits one row per detected burst interval.
    Rows-only for the driver (sequential Viterbi); the gate recomputes
    the exact python Viterbi (tests/test_quality.py).

    Scale shape (CHUNKED min-plus Viterbi, r15): two-state Viterbi is
    associative — each gap is a 2x2 cost matrix over the (min, +)
    semiring, and chunk composites multiply. The plan is therefore
    three bounded stages with NO per-key single-task history bound:
    (A) per (key, calendar-day) chunk, an Arrow-batched applyInPandas
    folds the chunk's gaps into ONE 2x2 composite (4 scalars; the
    previous day's last event is carried in so boundary gaps are
    covered); (B) a per-key stitch over the |days|-bounded composite
    frame (<=366 rows/key, tiny by the calendar) runs the chunk-level
    forward pass for entry-cost vectors, the chunk-level backtrack for
    exit states, and cumulative global gap offsets; (C) each chunk
    re-runs its local Viterbi IN PARALLEL from its stitched entry
    vector, backtracks from its stitched exit state, and emits burst
    runs tagged with global gap indices; runs that touch across chunk
    boundaries are merged by gaps-and-islands on gap index (the run
    frame is output-bounded — bursts are rare). Per-task memory is now
    ONE DAY of one key, not the key's whole history: a 1e9-event key
    spread over a year is ~3M events/task instead of 1e9. The per-key
    scalars (mean gap via telescoped integer-microsecond sum, n) come
    from one groupBy agg. Rows-only for the driver (sequential Viterbi
    semantics); the gate recomputes the exact monolithic python Viterbi
    and must match interval-for-interval (tests/test_quality.py)."""
    ev = _t(spark, sf_dir, spread=True, name="events")
    s_mult, gamma = 4.0, 1.0
    d10 = F.to_timestamp(F.lit("2024-01-10"))
    in_block = (F.col("ts") >= d10) & (
        F.col("ts") < F.to_timestamp(F.lit("2024-01-15"))
    )
    synth_ts = F.when(
        in_block,
        F.timestamp_micros(
            F.unix_micros(d10)
            + F.floor(
                (F.unix_micros(F.col("ts")) - F.unix_micros(d10)) / F.lit(20)
            ).cast("long")
        ),
    ).otherwise(F.col("ts"))
    ev = ev.select("event_id", "event_type", synth_ts.alias("ts"))

    import math

    import numpy as np
    import pandas as pd

    # per-key scalars: gap count and mean gap. The gap sum telescopes to
    # (last - first) in exact integer microseconds, so mg needs no
    # second scan and no float-order ambiguity.
    tot = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.unix_micros(F.min("ts")).alias("t0"),
            F.unix_micros(F.max("ts")).alias("t1"),
        )
        .where(F.col("n_ev") >= 2)
        .select(
            "event_type",
            (
                ((F.col("t1") - F.col("t0")) / F.lit(1e6))
                / (F.col("n_ev") - 1).cast("double")
            ).alias("mg"),
            (F.lit(gamma) * F.log((F.col("n_ev") - 1).cast("double"))).alias("tr"),
        )
    )
    # dense per-key chunk index over non-empty calendar days (the window
    # frame is |keys x days| — calendar-bounded, never corpus-sized)
    evd = ev.withColumn("day", F.date_trunc("week", F.col("ts")))
    days = (
        evd.select("event_type", "day")
        .distinct()
        .withColumn(
            "cidx",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            )
            - 1,
        )
    )
    evc = evd.join(F.broadcast(days), ["event_type", "day"]).select(
        "event_type", "cidx", "ts", "event_id"
    )
    # carry each chunk's last event into the NEXT chunk (dense cidx ->
    # next non-empty day) so the boundary gap lands in exactly one chunk
    last = evc.groupBy("event_type", "cidx").agg(
        F.max(F.struct("ts", "event_id")).alias("m")
    )
    carry = last.select(
        "event_type",
        (F.col("cidx") + 1).alias("cidx"),
        F.col("m.ts").alias("ts"),
        F.col("m.event_id").alias("event_id"),
    ).join(
        days.select("event_type", "cidx"), ["event_type", "cidx"], "left_semi"
    )
    # aug feeds BOTH the composite pass and the runs pass — persist so
    # the day-index join pipeline materializes once (tracked; released
    # by the suite harness after the consuming action)
    aug = scoped_persist(evc.unionByName(carry).join(F.broadcast(tot), "event_type"))

    def _gaps(pdf: pd.DataFrame):
        pdf = pdf.sort_values(["ts", "event_id"])
        ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        g = np.diff(ts) / 1e6
        return pdf, ts, g

    def _chunk_composite(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, _ts, g = _gaps(pdf)
        if len(g) == 0:
            return pd.DataFrame(
                columns=["event_type", "cidx", "m00", "m01", "m10", "m11", "ng"]
            )
        mg, tr = float(pdf["mg"].iloc[0]), float(pdf["tr"].iloc[0])
        lg0, lg1 = math.log(1.0 / mg), math.log(s_mult / mg)
        inf = float("inf")
        m00, m01, m10, m11 = 0.0, inf, inf, 0.0
        for x in g:
            e0 = (x / mg) - lg0
            e1 = (s_mult * x / mg) - lg1
            n00 = e0 + min(m00, m10)
            n01 = e0 + min(m01, m11)
            n10 = min(tr + e1 + m00, e1 + m10)
            n11 = min(tr + e1 + m01, e1 + m11)
            m00, m01, m10, m11 = n00, n01, n10, n11
        return pd.DataFrame(
            [
                (
                    pdf["event_type"].iloc[0],
                    int(pdf["cidx"].iloc[0]),
                    m00,
                    m01,
                    m10,
                    m11,
                    len(g),
                )
            ],
            columns=["event_type", "cidx", "m00", "m01", "m10", "m11", "ng"],
        )

    comps = aug.groupBy("event_type", "cidx").applyInPandas(
        _chunk_composite,
        "event_type string, cidx long, m00 double, m01 double, "
        "m10 double, m11 double, ng long",
    )

    def _stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cidx").reset_index(drop=True)
        inf = float("inf")
        v0, v1 = 0.0, inf
        vs = []
        for r in pdf.itertuples(index=False):
            vs.append((v0, v1))
            v0, v1 = (
                min(r.m00 + v0, r.m01 + v1),
                min(r.m10 + v0, r.m11 + v1),
            )
        exits = [False] * len(pdf)
        e = bool(v1 < v0)  # matches the monolithic `inb = c1 < c0`
        for k in range(len(pdf) - 1, -1, -1):
            exits[k] = e
            r = pdf.iloc[k]
            ev0, ev1 = vs[k]
            if e:  # prefer staying in state 1 on ties (per-step p1 rule)
                e = ev1 + r.m11 <= ev0 + r.m10
            else:  # prefer state 0 on ties (per-step p0 rule)
                e = not (ev0 + r.m00 <= ev1 + r.m01)
        offs = pdf["ng"].cumsum().shift(fill_value=0).astype("int64")
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "cidx": pdf["cidx"],
                "v0": [v[0] for v in vs],
                "v1": [v[1] for v in vs],
                "exit1": exits,
                "goff": offs,
            }
        )

    stitched = comps.groupBy("event_type").applyInPandas(
        _stitch,
        "event_type string, cidx long, v0 double, v1 double, "
        "exit1 boolean, goff long",
    )

    def _chunk_runs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, ts, g = _gaps(pdf)
        cols = ["event_type", "start_ts", "end_ts", "gi", "gj"]
        if len(g) == 0:
            return pd.DataFrame(columns=cols)
        mg, tr = float(pdf["mg"].iloc[0]), float(pdf["tr"].iloc[0])
        lg0, lg1 = math.log(1.0 / mg), math.log(s_mult / mg)
        c0, c1 = float(pdf["v0"].iloc[0]), float(pdf["v1"].iloc[0])
        n = len(g)
        p0 = np.empty(n, dtype=bool)
        p1 = np.empty(n, dtype=bool)
        for i in range(n):
            x = float(g[i])
            p0[i] = c0 <= c1
            p1[i] = c1 <= c0 + tr
            n0 = min(c0, c1) + (x / mg) - lg0
            n1 = min(c0 + tr, c1) + (s_mult * x / mg) - lg1
            c0, c1 = n0, n1
        states = np.empty(n, dtype=bool)
        inb = bool(pdf["exit1"].iloc[0])
        for i in range(n - 1, -1, -1):
            states[i] = inb
            inb = p1[i] if inb else (not p0[i])
        et = pdf["event_type"].iloc[0]
        goff = int(pdf["goff"].iloc[0])
        tsv = pdf["ts"].to_numpy()
        rows = []
        i = 0
        while i < n:
            if states[i]:
                j = i
                while j + 1 < n and states[j + 1]:
                    j += 1
                rows.append((et, tsv[i], tsv[j + 1], goff + i, goff + j))
                i = j + 1
            i += 1
        return pd.DataFrame(rows, columns=cols)

    # stitched is |keys x weeks| rows — calendar-bounded, broadcast
    runs = (
        aug.join(F.broadcast(stitched), ["event_type", "cidx"])
        .groupBy("event_type", "cidx")
        .applyInPandas(
            _chunk_runs,
            "event_type string, start_ts timestamp, end_ts timestamp, "
            "gi long, gj long",
        )
    )
    # gaps-and-islands merge of boundary-crossing runs: adjacent global
    # gap indices (cur.gi == prev.gj + 1) are ONE burst. The run frame
    # is output-bounded — bursts, not events.
    wk = Window.partitionBy("event_type").orderBy("gi")
    islands = (
        runs.withColumn(
            "new_isl",
            F.when(
                F.col("gi") == F.lag("gj").over(wk) + 1, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "isl",
            F.sum("new_isl").over(
                wk.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("event_type", "isl")
        .agg(
            F.min("start_ts").alias("burst_start"),
            F.max("end_ts").alias("burst_end"),
            (F.max("gj") - F.min("gi") + 2).alias("n_events"),
        )
    )
    return islands.select(
        "event_type", "burst_start", "burst_end", "n_events"
    ).orderBy("event_type", "burst_start")


PSI_SQL = r"""
WITH bounds AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi,
         epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1
  FROM events
), binned AS (
  SELECT event_type,
    epoch(ts) * 2 <= (t0 + t1) AS ref,
    CASE WHEN hi > lo
         THEN LEAST(9, CAST(floor((value - lo) / ((hi - lo) / 10.0)) AS INT))
         ELSE 0 END AS bin
  FROM events, bounds
), cnt AS (
  SELECT event_type, bin,
         SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS n_ref,
         SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS n_cur
  FROM binned GROUP BY 1, 2
), tot AS (
  SELECT event_type, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur
  FROM cnt GROUP BY 1
), terms AS (
  SELECT cnt.event_type, t_ref, t_cur,
    ((n_ref + 1.0) / (t_ref + 10.0) - (n_cur + 1.0) / (t_cur + 10.0))
      * ln(((n_ref + 1.0) / (t_ref + 10.0))
           / ((n_cur + 1.0) / (t_cur + 10.0))) AS term
  FROM cnt JOIN tot USING (event_type)
)
SELECT event_type,
  CAST(MAX(t_ref) AS BIGINT) AS n_ref,
  CAST(MAX(t_cur) AS BIGINT) AS n_cur,
  round(SUM(term), 6) AS psi,
  CASE WHEN round(SUM(term), 6) < 0.1 THEN 'stable'
       WHEN round(SUM(term), 6) < 0.25 THEN 'moderate'
       ELSE 'shifted' END AS verdict
FROM terms GROUP BY event_type ORDER BY event_type
"""


@query(PSI_SQL)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor (the standard
    model-monitoring screen; PSI = sum (p_i - q_i) ln(p_i / q_i) over
    fixed bins): compares each event_type's value distribution in the
    first half of the time range (reference window) against the second
    half (current window), over 10 fixed-width bins spanning the
    GLOBAL min/max — the drift gate a feature pipeline runs before
    retraining. PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 shifted.
    Laplace-smoothed bin shares so empty bins stay finite.

    Scale shape: one (type, bin) partial-agg shuffle; the global
    min/max and the midpoint timestamp fold in as one-row broadcasts;
    the PSI sum is a |types x bins|-bounded rollup. Map-only binning."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    # hi == lo (all values equal) would make the bin width 0: Spark's
    # double division then yields NULL (least() silently picks 9) while
    # DuckDB yields inf/NaN — guard the degenerate distribution to bin 0
    # deterministically on BOTH engines (same CASE in PSI_SQL).
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        (
            F.col("ts").cast("long") * 2 <= (F.col("t0") + F.col("t1"))
        ).alias("ref"),
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.lit(9),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 10.0)
                ).cast("int"),
            ),
        )
        .otherwise(F.lit(0))
        .alias("bin"),
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~F.col("ref"), 1).otherwise(0)).alias("n_cur"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = F.col("n_ref") + 1.0
    q = F.col("n_cur") + 1.0
    pp = p / (F.col("t_ref") + 10.0)
    qq = q / (F.col("t_cur") + 10.0)
    return (
        cnt.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("t_ref").alias("n_ref"),
            F.max("t_cur").alias("n_cur"),
            F.round(F.sum((pp - qq) * F.log(pp / qq)), 6).alias("psi"),
        )
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            "psi",
            F.when(F.col("psi") < 0.1, "stable")
            .when(F.col("psi") < 0.25, "moderate")
            .otherwise("shifted")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


@query("""
WITH bounds AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi,
         epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1
  FROM events
), binned AS (
  SELECT event_type,
    epoch(ts) * 2 <= (t0 + t1) AS ref,
    CASE WHEN hi > lo
         THEN LEAST(999, CAST(floor((value - lo) / ((hi - lo) / 1000.0))
                              AS INT))
         ELSE 0 END AS bin
  FROM events, bounds
), cnt AS (
  SELECT event_type, bin,
         SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS c_ref,
         SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS c_cur
  FROM binned GROUP BY 1, 2
), ecdf AS (
  SELECT event_type,
         SUM(c_ref) OVER (PARTITION BY event_type ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ref,
         SUM(c_cur) OVER (PARTITION BY event_type ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cur,
         SUM(c_ref) OVER (PARTITION BY event_type) AS n_ref,
         SUM(c_cur) OVER (PARTITION BY event_type) AS n_cur
  FROM cnt
), agg AS (
  SELECT event_type,
         CAST(MAX(n_ref) AS BIGINT) AS n_ref,
         CAST(MAX(n_cur) AS BIGINT) AS n_cur,
         round(MAX(abs(cum_ref * 1.0 / n_ref - cum_cur * 1.0 / n_cur)), 6)
           AS ks_d
  FROM ecdf GROUP BY 1
)
SELECT event_type, n_ref, n_cur, ks_d,
       ks_d > 1.358 * sqrt((n_ref + n_cur) * 1.0 / (n_ref * n_cur))
         AS drifted
FROM agg ORDER BY event_type
""")
def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift monitor per event type
    (Massey 1951; the distribution-shift alarm run next to psi_drift):
    the first time half is the reference sample, the second the
    current, and D = max |ECDF_ref - ECDF_cur| evaluated on a FIXED
    1000-bin quantization of the global value range (the
    monitoring-grade variant: exact KS needs a total order over every
    distinct double — the binned statistic is the KS of the quantized
    distributions, and 1000 bins bound the error at 0.001 of the value
    range). Flags drift at the asymptotic alpha=0.05 threshold
    1.358 * sqrt((n1+n2)/(n1*n2)) (Smirnov).

    Scale shape: global bounds fold in as a one-row broadcast; ONE
    (type, bin) agg shuffle; the ECDF cumulative window runs per type
    over <= 1000 bounded rows. Cum counts are integers, so both
    engines divide identically — no float-order risk."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        (
            F.col("ts").cast("long") * 2 <= (F.col("t0") + F.col("t1"))
        ).alias("ref"),
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.lit(999),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 1000.0)
                ).cast("int"),
            ),
        )
        .otherwise(F.lit(0))
        .alias("bin"),
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("ref"), 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(~F.col("ref"), 1).otherwise(0)).alias("c_cur"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    ecdf = (
        cnt.withColumn("cum_ref", F.sum("c_ref").over(wcum))
        .withColumn("cum_cur", F.sum("c_cur").over(wcum))
        .withColumn("n_ref", F.sum("c_ref").over(wall))
        .withColumn("n_cur", F.sum("c_cur").over(wall))
    )
    d = F.abs(
        F.col("cum_ref") / F.col("n_ref")
        - F.col("cum_cur") / F.col("n_cur")
    )
    out = ecdf.groupBy("event_type").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.round(F.max(d), 6).alias("ks_d"),
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n_ref") + F.col("n_cur"))
        / (F.col("n_ref").cast("double") * F.col("n_cur"))
    )
    return out.select(
        "event_type",
        "n_ref",
        "n_cur",
        "ks_d",
        (F.col("ks_d") > crit).alias("drifted"),
    ).orderBy("event_type")


@query("""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type,
         SUM(x) * 1.0 / COUNT(*) AS mu,
         sqrt(SUM(x * x) * 1.0 / COUNT(*)
              - (SUM(x) * 1.0 / COUNT(*)) * (SUM(x) * 1.0 / COUNT(*)))
           AS sig
  FROM daily GROUP BY 1
), c AS (
  SELECT daily.event_type, day, x, mu, sig,
         SUM(x - mu - 0.5 * sig) OVER w AS cu,
         SUM(mu - 0.5 * sig - x) OVER w AS cd
  FROM daily JOIN stats USING (event_type)
  WINDOW w AS (PARTITION BY daily.event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT event_type, day, x,
         cu - LEAST(0.0, MIN(cu) OVER w) AS sp,
         cd - LEAST(0.0, MIN(cd) OVER w) AS sn,
         4.0 * sig AS h
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, x,
       round(sp, 6) AS s_pos, round(sn, 6) AS s_neg,
       (sp > h OR sn > h) AS alarm
FROM s ORDER BY event_type, day
""")
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over per-type daily event counts
    (Page 1954; the tabular form S+_t = max(0, S+_{t-1} + x_t - mu -
    k)) with k = 0.5 sigma slack and h = 4 sigma decision interval —
    the sustained-shift alarm that complements the point-outlier
    screens (ewma_anomaly / events_anomaly). Computed via the CLOSED
    FORM S_t = C_t - min(0, running-min C_t) where C is the cumsum of
    deviations — pure window functions, NO sequential fold, which also
    makes the recurrence exactly SQL-expressible (unlike the EWMA
    recurrence, whose state is nonlinear in the value).

    Exactness: daily counts are integers, so mu / sigma derive from
    exact integer sums; the deviation cumsum adds in the SAME day
    order on both engines — every double is bit-identical.

    Scale shape: one (type, day) agg shuffle; per-type stats join back
    as a |types|-row broadcast; the windows run per type over
    calendar-bounded daily rows (~365 rows/type/year — genuinely
    bounded state, the reason daily rollup precedes the scan)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("x").alias("__s"),
        F.sum(F.col("x") * F.col("x")).alias("__ss"),
    )
    mu = F.col("__s").cast("double") / F.col("__n")
    sigma = F.sqrt(
        F.col("__ss").cast("double") / F.col("__n") - mu * mu
    )
    j = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "x",
        mu.alias("__mu"),
        sigma.alias("__sig"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    up = F.sum(
        F.col("x") - F.col("__mu") - 0.5 * F.col("__sig")
    ).over(wc)
    dn = F.sum(
        F.col("__mu") - 0.5 * F.col("__sig") - F.col("x")
    ).over(wc)
    stepped = j.select(
        "event_type",
        "day",
        "x",
        (up - F.least(F.lit(0.0), F.min(up).over(wc))).alias("__sp"),
        (dn - F.least(F.lit(0.0), F.min(dn).over(wc))).alias("__sn"),
        (4.0 * F.col("__sig")).alias("__h"),
    )
    return stepped.select(
        "event_type",
        "day",
        "x",
        F.round("__sp", 6).alias("s_pos"),
        F.round("__sn", 6).alias("s_neg"),
        (
            (F.col("__sp") > F.col("__h"))
            | (F.col("__sn") > F.col("__h"))
        ).alias("alarm"),
    ).orderBy("event_type", "day")


SEASONAL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hh, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, hh, x,
    CASE WHEN COUNT(*) OVER w = 25 THEN SUM(x) OVER w / 25.0 END AS trend
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hh
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), d AS (
  SELECT *, x - trend AS detr FROM t
), s AS (
  SELECT *,
    AVG(detr) OVER (PARTITION BY event_type, EXTRACT(hour FROM hh))
      AS raw_seas
  FROM d
), z AS (
  SELECT *,
    raw_seas - AVG(raw_seas) OVER (PARTITION BY event_type) AS seasonal
  FROM s
)
SELECT event_type, hh, x,
       round(trend, 6) AS trend,
       round(seasonal, 6) AS seasonal,
       round(x - trend - seasonal, 6) AS remainder
FROM z ORDER BY event_type, hh
"""


@query(SEASONAL_SQL)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly event
    series per type (the moving-average method of Persons 1919 — the
    classical-decomposition step STL generalizes): trend = centered
    25-hour moving average (full windows only), seasonal = the
    hour-of-day mean of the detrended series re-centered to zero,
    remainder = what neither explains — the monitoring view that
    separates "traffic grows" from "it is 3am" before an alert fires
    (cusum/ewma watch the remainder, not the raw series).

    Scale shape: one (type, hour) rollup bounds everything downstream
    by the calendar (the cusum_changepoint discipline); the MA window
    and the hour-of-day means run per type over those bounded rows.
    Counts are integers, so the MA is exact; the seasonal means are
    double sums over <= |days| values rounded at 6 dp."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hh")
    ).agg(F.count(F.lit(1)).alias("x"))
    wma = (
        Window.partitionBy("event_type")
        .orderBy("hh")
        .rowsBetween(-12, 12)
    )
    t = hourly.withColumn(
        "trend",
        F.when(
            F.count(F.lit(1)).over(wma) == 25,
            F.sum("x").over(wma) / 25.0,
        ),
    ).withColumn("detr", F.col("x") - F.col("trend"))
    whod = Window.partitionBy("event_type", F.hour("hh"))
    wtyp = Window.partitionBy("event_type")
    s = t.withColumn(
        "raw_seas", F.avg("detr").over(whod)
    ).withColumn(
        "seasonal", F.col("raw_seas") - F.avg("raw_seas").over(wtyp)
    )
    return s.select(
        "event_type",
        "hh",
        "x",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(
            F.col("x") - F.col("trend") - F.col("seasonal"), 6
        ).alias("remainder"),
    ).orderBy("event_type", "hh")


@query("""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         (b.x - a.x) / CAST(date_diff('day', a.day, b.day) AS DOUBLE)
           AS slope,
         CAST(sign(b.x - a.x) AS BIGINT) AS sgn
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
), med AS (
  SELECT event_type, AVG(slope) AS sen_slope
  FROM (
    SELECT event_type, slope,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS r,
           COUNT(*) OVER (PARTITION BY event_type) AS m
    FROM pairs
  )
  WHERE r = (m + 1) // 2 OR r = m // 2 + 1
  GROUP BY 1
), sgn AS (
  SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS mk_s FROM pairs GROUP BY 1
), ties AS (
  SELECT event_type,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(SUM(t) AS BIGINT) AS n
  FROM (SELECT event_type, x, COUNT(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1
), j AS (
  SELECT med.event_type, n, sen_slope, mk_s,
    (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0 AS var
  FROM med JOIN sgn USING (event_type) JOIN ties USING (event_type)
), z AS (
  SELECT event_type, n AS n_days, sen_slope, mk_s,
    CASE WHEN mk_s > 0 THEN (mk_s - 1) / sqrt(var)
         WHEN mk_s < 0 THEN (mk_s + 1) / sqrt(var)
         ELSE 0.0 END AS zval
  FROM j
)
SELECT event_type, n_days, round(sen_slope, 6) AS sen_slope, mk_s,
       round(zval, 4) AS mk_z,
       CASE WHEN zval > 1.96 THEN 'increasing'
            WHEN zval < -1.96 THEN 'decreasing'
            ELSE 'no_trend' END AS verdict
FROM z ORDER BY event_type
""")
def trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend detection per event type: the Theil-Sen slope
    estimator (Theil 1950; Sen 1968 — median of all pairwise slopes,
    29%-breakdown robust where OLS is 0%) plus the Mann-Kendall trend
    test (Mann 1945; Kendall 1975) with the tie-corrected variance —
    the standard nonparametric pair a monitoring pipeline runs on
    daily volumes before claiming "traffic is growing". Verdict at
    |z| > 1.96 (alpha = 0.05 two-sided).

    Scale shape: the daily rollup bounds the pairwise frame by the
    CALENDAR (the cusum_changepoint discipline — n days, not n events;
    6 years = ~2.4M pairs per type, a bounded self-join, never
    corpus^2); the median slope uses per-type midrank windows over
    that bounded frame; MK variance is pure integer arithmetic over
    tie groups. Slopes are single divisions of integers — both
    engines agree bitwise."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    a = daily.select(
        "event_type",
        F.col("day").alias("d1"),
        F.col("x").alias("x1"),
    )
    b = daily.select(
        "event_type",
        F.col("day").alias("d2"),
        F.col("x").alias("x2"),
    )
    pairs = a.join(b, "event_type").where(F.col("d1") < F.col("d2"))
    slopes = pairs.select(
        "event_type",
        (
            (F.col("x2") - F.col("x1"))
            / F.datediff(F.col("d2"), F.col("d1")).cast("double")
        ).alias("slope"),
        F.signum(F.col("x2") - F.col("x1")).cast("long").alias("sgn"),
    )
    wrank = Window.partitionBy("event_type").orderBy("slope")
    wall = Window.partitionBy("event_type")
    med = (
        slopes.withColumn("__r", F.row_number().over(wrank))
        .withColumn("__m", F.count(F.lit(1)).over(wall))
        .where(
            # integer-exact two-middle selection: for odd m both
            # expressions pick the same middle rank; for even m they
            # pick m/2 and m/2+1 (textbook median average). Must be
            # integer math on BOTH engines — float (m+1)/2 vs DuckDB's
            # half-to-even CAST silently diverges when m % 4 in (0, 1).
            (F.col("__r") == F.floor((F.col("__m") + 1) / 2))
            | (F.col("__r") == F.floor(F.col("__m") / 2) + 1)
        )
        .groupBy("event_type")
        .agg(F.avg("slope").alias("sen_slope"), F.sum("sgn").alias("mk_s"))
    )
    # mk_s from the medians frame would double-count; recompute cleanly
    s_and_n = slopes.groupBy("event_type").agg(
        F.sum("sgn").alias("mk_s")
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term"),
            F.sum("t").alias("n"),
        )
    )
    var = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ) / 18.0
    z = (
        F.when(
            F.col("mk_s") > 0,
            (F.col("mk_s") - 1) / F.sqrt(var),
        )
        .when(F.col("mk_s") < 0, (F.col("mk_s") + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return (
        med.select("event_type", "sen_slope")
        .join(s_and_n, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round("sen_slope", 6).alias("sen_slope"),
            "mk_s",
            F.round(z, 4).alias("mk_z"),
            F.when(z > 1.96, "increasing")
            .when(z < -1.96, "decreasing")
            .otherwise("no_trend")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


@query("""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS x
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, day, x,
         ROW_NUMBER() OVER w AS t,
         SUM(x) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
), u AS (
  SELECT event_type, day,
         SUM(x - sx / t) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u
  FROM cum
), ph AS (
  SELECT event_type, day,
         u - MIN(u) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
  FROM u
), peak AS (
  SELECT event_type, day AS peak_day, ph AS ph_max
  FROM (
    SELECT event_type, day, ph,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY ph DESC, day DESC) AS rn
    FROM ph
  )
  WHERE rn = 1
), lam AS (
  SELECT event_type, 3.0 * stddev_pop(x) AS lambda_ FROM daily GROUP BY 1
)
SELECT peak.event_type, peak_day,
       round(ph_max, 6) AS ph_max, round(lambda_, 6) AS lambda_,
       CASE WHEN ph_max > lambda_ THEN 'drift' ELSE 'stable' END AS verdict
FROM peak JOIN lam ON peak.event_type = lam.event_type
ORDER BY peak.event_type
""")
def page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-drift detector (Page 1954's CUSUM variant as
    formulated for stream mining by Mouss et al. 2004 / Gama et al.
    2014 survey): per event_type, the statistic U_T = sum_t (x_t -
    xbar_t) over daily mean values (xbar_t = running mean of the first
    t days), with PH_T = U_T - min_{s<=T} U_s and an alarm when PH
    exceeds lambda = 3 * stddev of the daily means. Emits each type's
    peak PH, the day it peaked, lambda, and the drift verdict — the
    batch readout of the classic online detector (cusum_changepoint's
    sibling for MEAN shifts in a value metric, not counts).

    Scale shape: the daily rollup bounds everything by the CALENDAR;
    daily means use DECIMAL(18,2) sums over doubles (the suite-wide
    determinism discipline), and all windows run over the |days|
    frame. Output is |types| rows."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            (
                F.sum(_dec(F.col("value"))).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("x")
        )
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    cum = (
        daily.withColumn("t", F.row_number().over(wd))
        .withColumn(
            "xbar",
            F.sum("x").over(wd.rowsBetween(Window.unboundedPreceding, 0))
            / F.col("t").cast("double"),
        )
        .withColumn(
            "u",
            F.sum(F.col("x") - F.col("xbar")).over(
                wd.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "ph",
            F.col("u")
            - F.min("u").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    lam = daily.groupBy("event_type").agg(
        (3.0 * F.stddev_pop("x")).alias("lambda_")
    )
    peak = (
        cum.groupBy("event_type")
        .agg(F.max(F.struct("ph", "day")).alias("pk"))
        .select(
            "event_type",
            F.col("pk.ph").alias("ph_max"),
            F.col("pk.day").alias("peak_day"),
        )
    )
    return (
        peak.join(lam, "event_type")
        .select(
            "event_type",
            "peak_day",
            F.round("ph_max", 6).alias("ph_max"),
            F.round("lambda_", 6).alias("lambda_"),
            F.when(F.col("ph_max") > F.col("lambda_"), "drift")
            .otherwise("stable")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


def _exp_smooth_sql() -> str:
    num = " + ".join(
        f"COALESCE(CAST(CAST({0.5**k!s} AS DECIMAL(18,14))"
        f" * LAG(x, {k}) OVER w AS DECIMAL(24,19)),"
        f" CAST(0 AS DECIMAL(24,19)))"
        for k in range(14)
    )
    den = " + ".join(
        f"CASE WHEN LAG(x, {k}) OVER w IS NOT NULL"
        f" THEN CAST({0.5**k!s} AS DECIMAL(18,14))"
        f" ELSE CAST(0 AS DECIMAL(18,14)) END"
        for k in range(14)
    )
    return f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) / COUNT(*)
              AS DECIMAL(18,6)) AS x
  FROM events GROUP BY 1, 2
), sm AS (
  SELECT event_type, day, x,
         CAST(({num}) AS DOUBLE) / CAST(({den}) AS DOUBLE) AS smoothed,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day DESC)
           AS rn
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, CAST(x AS DOUBLE) AS actual,
       round(smoothed, 6) AS smoothed
FROM sm WHERE rn <= 28 ORDER BY event_type, day
"""


@query(_exp_smooth_sql())
def exp_smooth_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing of the daily value level (Brown 1956;
    Hunter 1986's EWMA chart statistic) per event_type, with a
    TRUNCATED 14-day kernel at alpha = 0.5: S_t = sum_k 0.5^k x_{t-k}
    / sum_k 0.5^k over the present lags — the dashboard smoother for a
    noisy daily metric. Emits the last 28 days per type (day, actual,
    smoothed). The truncation (documented) is what makes the op
    EXACTLY reproducible cross-engine: 0.5^k has exactly k decimal
    digits, so kernel weights are DECIMAL(18,14) literals, daily means
    quantize to DECIMAL cents, and the weighted sum runs entirely in
    DECIMAL — no float-order ambiguity. Missing days renormalize by
    the present weights (numerator and denominator both decimal).

    Scale shape: calendar-bounded daily rollup, 14 LAG terms over the
    |days| window, bounded output (28 rows x |types|)."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            (F.sum(_dec(F.col("value"))) / F.count(F.lit(1)))
            .cast("decimal(18,6)")
            .alias("x")
        )
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    # each term is EXACT at scale 19 (13 weight digits + 6 value digits),
    # and 13 chained adds grow precision only to ~37 — below the decimal
    # cap on BOTH engines, so no mid-sum scale reduction ever rounds
    num = None
    den = None
    for k in range(14):
        wgt = F.lit(str(0.5**k)).cast("decimal(18,14)")
        xk = F.lag("x", k).over(wd)
        tn = F.coalesce(
            (wgt * xk).cast("decimal(24,19)"),
            F.lit(0).cast("decimal(24,19)"),
        )
        td = F.when(xk.isNotNull(), wgt).otherwise(
            F.lit(0).cast("decimal(18,14)")
        )
        num = tn if num is None else num + tn
        den = td if den is None else den + td
    sm = daily.select(
        "event_type",
        "day",
        "x",
        (num.cast("double") / den.cast("double")).alias("smoothed"),
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.desc("day"))
        ).alias("__rn"),
    )
    return (
        sm.where(F.col("__rn") <= 28)
        .select(
            "event_type",
            "day",
            F.col("x").cast("double").alias("actual"),
            F.round("smoothed", 6).alias("smoothed"),
        )
        .orderBy("event_type", "day")
    )


@query("""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), agg AS (
  SELECT event_type, COUNT(*) AS n_days,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS ss
  FROM daily GROUP BY 1
), m AS (
  SELECT event_type, n_days,
         CAST(s AS DOUBLE) / n_days AS mu,
         CAST(ss AS DOUBLE) / n_days
           - (CAST(s AS DOUBLE) / n_days) * (CAST(s AS DOUBLE) / n_days)
           AS var
  FROM agg
)
SELECT event_type, n_days, round(mu, 6) AS mean_daily,
       round(var / mu, 6) AS fano,
       round((sqrt(var) - mu) / (sqrt(var) + mu), 6) AS burstiness,
       round(var / (mu * mu), 6) AS cv2
FROM m ORDER BY event_type
""")
def fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion statistics of daily event counts per type: the Fano
    factor var/mean (Fano 1947 — 1 for a Poisson process, >1 means
    overdispersion), the coefficient-of-variation burstiness B =
    (sigma - mu)/(sigma + mu) (Goh & Barabasi 2008, -1 regular .. +1
    bursty), and CV^2 — the standard traffic-shape triple a capacity
    planner reads before sizing for peaks. Integer daily counts give
    exact DECIMAL moments, so both engines agree bitwise.

    Scale shape: calendar-bounded daily rollup then a |types|-row
    moment agg — two shuffles of bounded frames."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    dc = F.col("c").cast("decimal(18,0)")
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("ss"),
    )
    n = F.col("n_days").cast("double")
    mu = F.col("s").cast("double") / n
    var = F.col("ss").cast("double") / n - mu * mu
    sd = F.sqrt(var)
    return agg.select(
        "event_type",
        "n_days",
        F.round(mu, 6).alias("mean_daily"),
        F.round(var / mu, 6).alias("fano"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
        F.round(var / (mu * mu), 6).alias("cv2"),
    ).orderBy("event_type")


@query("""
WITH bounds AS (
  SELECT MIN(value) AS vmin, MAX(value) AS vmax,
         epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1
  FROM events
), binned AS (
  SELECT event_type,
         LEAST(999, CAST(FLOOR((value - vmin) / (vmax - vmin) * 1000.0)
                         AS BIGINT)) AS bin,
         epoch(ts) * 2 <= t0 + t1 AS first_half,
         (vmax - vmin) / 1000.0 AS binw
  FROM events, bounds
), per AS (
  SELECT event_type, bin, binw,
         CAST(SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN first_half THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM binned GROUP BY 1, 2, 3
), cum AS (
  SELECT event_type, binw,
         COALESCE(LEAD(bin) OVER (PARTITION BY event_type ORDER BY bin),
                  1000) - bin AS span,
         SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb,
         SUM(ca) OVER (PARTITION BY event_type) AS na,
         SUM(cb) OVER (PARTITION BY event_type) AS nb
  FROM per
  WINDOW w AS (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT event_type, binw, na, nb,
         SUM(CAST(ABS(CAST(CAST(cuma AS DECIMAL(19,0))
                             * CAST(nb AS DECIMAL(19,0))
                           - CAST(cumb AS DECIMAL(19,0))
                             * CAST(na AS DECIMAL(19,0))
                      AS DECIMAL(38,0))) AS DECIMAL(33,0))
             * CAST(span AS DECIMAL(5,0))) AS s
  FROM cum GROUP BY 1, 2, 3, 4
)
SELECT event_type, CAST(na AS BIGINT) AS n_first,
       CAST(nb AS BIGINT) AS n_second,
       round(CAST(s AS DOUBLE) / (CAST(na AS DOUBLE) * nb) * binw, 6)
         AS w1_distance
FROM agg ORDER BY event_type
""")
def wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein (earth mover's) drift distance (Ramdas, Garcia &
    Cuturi 2017's univariate form: the L1 distance between CDFs) per
    event_type between the first- and second-half value distributions
    — the drift metric that, unlike KS, weighs HOW FAR mass moved, not
    just the worst gap. 1000-bin quantized (the ks_drift discipline);
    halves split at the time midpoint (the cuped convention).

    Scale shape: one (type, bin, half) rollup bounded by 1000 bins x 2,
    cumulative windows over that bounded frame, and the cross-bin sum
    runs over INTEGER cross-multiplied counts (|cumA*Nb - cumB*Na| in
    DECIMAL), so no float-order ambiguity — the single double division
    happens once per type. Each occupied bin's |CDF gap| is weighted
    by its SPAN to the next occupied bin (lead(bin)-bin; the last bin
    spans to 1000): between occupied bins both CDFs hold constant, so
    empty interior bins contribute the constant gap times their width
    — without the span weight W1 is understated whenever the support
    has gaps (r15 ADVICE). The span product stays integer-exact:
    |gap| <= na*nb fits DECIMAL(33,0), span <= 1000 fits DECIMAL(5,0),
    product width 38 on both engines."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.least(
            F.lit(999),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * 1000.0
            ),
        ).alias("bin"),
        (
            F.col("ts").cast("long") * 2 <= F.col("t0") + F.col("t1")
        ).alias("first_half"),
        ((F.col("vmax") - F.col("vmin")) / 1000.0).alias("binw"),
    )
    per = binned.groupBy("event_type", "bin", "binw").agg(
        F.sum(F.when(F.col("first_half"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("first_half"), 0).otherwise(1)).alias("cb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    wnext = Window.partitionBy("event_type").orderBy("bin")
    cum = per.select(
        "event_type",
        "binw",
        (
            F.coalesce(F.lead("bin").over(wnext), F.lit(1000))
            - F.col("bin")
        ).alias("span"),
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    term = F.abs(
        (
            F.col("cuma").cast("decimal(19,0)")
            * F.col("nb").cast("decimal(19,0)")
            - F.col("cumb").cast("decimal(19,0)")
            * F.col("na").cast("decimal(19,0)")
        ).cast("decimal(38,0)")
    ).cast("decimal(33,0)") * F.col("span").cast("decimal(5,0)")
    agg = cum.groupBy("event_type", "binw", "na", "nb").agg(
        F.sum(term).alias("s")
    )
    w1 = (
        F.col("s").cast("double")
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
        * F.col("binw")
    )
    return agg.select(
        "event_type",
        F.col("na").alias("n_first"),
        F.col("nb").alias("n_second"),
        F.round(w1, 6).alias("w1_distance"),
    ).orderBy("event_type")


def _daily_counts_dense(ev: DataFrame) -> DataFrame:
    """Per-type daily event counts left-joined onto each type's DENSE
    calendar (sequence between its min and max day; missing days count
    0) — so a lag-k column means k CALENDAR days, not k observed rows
    (r15 ADVICE on ljung_box/acf_daily/lead_lag_corr: a date with zero
    events must not shift the lag-7/14 weekly alignment). The calendar
    frame is |types| x |days| — bounded."""
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    cal = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(
                F.expr("sequence(d0, d1, interval 1 day)")
            ).alias("day"),
        )
    )
    return cal.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )


# DuckDB twin of _daily_counts_dense: CTE chain ending in `daily`.
_DENSE_DAILY_SQL = """daily0 AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), span_ AS (
  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily0 GROUP BY 1
), cal AS (
  SELECT event_type,
         UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM span_
), daily AS (
  SELECT cal.event_type, cal.day, COALESCE(daily0.c, 0) AS c
  FROM cal LEFT JOIN daily0
    ON cal.event_type = daily0.event_type AND cal.day = daily0.day
)"""


def _acf_sql() -> str:
    lags = [1, 2, 3, 7, 14]
    parts = []
    for k in lags:
        parts.append(f"""
  SELECT event_type, {k} AS lag,
         round((CAST(sxy{k} AS DOUBLE)
                - (CAST(s AS DOUBLE) / n)
                  * (CAST(sh{k} AS DOUBLE) + CAST(st{k} AS DOUBLE))
                + m{k} * (CAST(s AS DOUBLE) / n)
                       * (CAST(s AS DOUBLE) / n))
               / (CAST(s2 AS DOUBLE)
                  - n * (CAST(s AS DOUBLE) / n)
                      * (CAST(s AS DOUBLE) / n)), 6) AS acf
  FROM g""")
    sel = "\n  UNION ALL".join(parts)
    lagaggs = ",\n".join(
        f"""         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(l{k} AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy{k},
         SUM(CASE WHEN l{k} IS NOT NULL
                  THEN CAST(c AS DECIMAL(18,0)) END) AS sh{k},
         SUM(CAST(l{k} AS DECIMAL(18,0))) AS st{k},
         CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS m{k}"""
        for k in lags
    )
    leads = ",\n".join(
        f"         LEAD(c, {k}) OVER (PARTITION BY event_type ORDER BY day)"
        f" AS l{k}"
        for k in lags
    )
    return f"""
WITH {_DENSE_DAILY_SQL}, wide AS (
  SELECT event_type, c,
{leads}
  FROM daily
), g AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2,
{lagaggs}
  FROM wide GROUP BY 1
)
SELECT * FROM ({sel}
) ORDER BY event_type, lag
"""


@query(_acf_sql())
def acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily event counts (Box & Jenkins
    1970) per event_type at lags 1, 2, 3, 7 and 14 — the weekly-cycle
    / momentum read behind seasonal_decompose's fixed weekly model:
    r_k = sum_t (x_t - xbar)(x_{t+k} - xbar) / sum_t (x_t - xbar)^2,
    expanded so every sum is an EXACT integer (sum x_t x_{t+k}, head
    and tail sums via LEAD over the calendar-bounded daily frame) and
    xbar enters once as a rational — one deterministic double per
    (type, lag).

    Scale shape: daily rollup bounds everything by the calendar; the
    five lags are LEAD columns over the |days| window (DENSE calendar
    — zero-event days count 0, so lag k is k calendar days); one
    rollup. The daily frame persists and the five per-lag reads come
    from ONE explode over lag structs (r16: the former 5-branch union
    planned the events rollup five times, guide §2.4)."""
    ev = _t(spark, sf_dir, "events")
    daily = scoped_persist(_daily_counts_dense(ev))
    wd = Window.partitionBy("event_type").orderBy("day")
    lags = [1, 2, 3, 7, 14]
    cols = [F.lead("c", k).over(wd).alias(f"l{k}") for k in lags]
    wide = daily.select("event_type", "c", *cols)
    dc = F.col("c").cast("decimal(18,0)")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
    ]
    for k in lags:
        lk = F.col(f"l{k}").cast("decimal(18,0)")
        aggs += [
            F.sum((dc * lk).cast("decimal(38,0)")).alias(f"sxy{k}"),
            F.sum(F.when(lk.isNotNull(), dc)).alias(f"sh{k}"),
            F.sum(lk).alias(f"st{k}"),
            F.sum(F.when(lk.isNotNull(), 1).otherwise(0)).alias(f"m{k}"),
        ]
    g = wide.groupBy("event_type").agg(*aggs)
    xbar = F.col("s").cast("double") / F.col("n").cast("double")
    den = F.col("s2").cast("double") - F.col("n").cast("double") * xbar * xbar
    pairs = []
    for k in lags:
        num = (
            F.col(f"sxy{k}").cast("double")
            - xbar
            * (F.col(f"sh{k}").cast("double") + F.col(f"st{k}").cast("double"))
            + F.col(f"m{k}").cast("double") * xbar * xbar
        )
        pairs.append(
            F.struct(
                F.lit(k).alias("lag"), F.round(num / den, 6).alias("acf")
            )
        )
    return (
        g.select("event_type", F.explode(F.array(*pairs)).alias("__la"))
        .select("event_type", "__la.lag", "__la.acf")
        .orderBy("event_type", "lag")
    )


def _seasonal_strength_sql() -> str:
    return f"""
WITH decomp AS ({SEASONAL_SQL}
), d AS (
  SELECT event_type,
         CAST(remainder AS DECIMAL(18,6)) AS r,
         CAST(CAST(seasonal AS DECIMAL(18,6))
              + CAST(remainder AS DECIMAL(18,6)) AS DECIMAL(24,6)) AS sr,
         CAST(CAST(trend AS DECIMAL(18,6))
              + CAST(remainder AS DECIMAL(18,6)) AS DECIMAL(24,6)) AS tr
  FROM decomp WHERE trend IS NOT NULL
), agg AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(r) AS s_r, SUM(CAST(r * r AS DECIMAL(38,12))) AS s_r2,
         SUM(sr) AS s_sr, SUM(CAST(sr * sr AS DECIMAL(38,12))) AS s_sr2,
         SUM(tr) AS s_tr, SUM(CAST(tr * tr AS DECIMAL(38,12))) AS s_tr2
  FROM d GROUP BY 1
)
SELECT event_type, n AS n_hours,
       round(GREATEST(0.0,
         1.0 - (CAST(s_r2 AS DOUBLE) / n
                - (CAST(s_r AS DOUBLE) / n) * (CAST(s_r AS DOUBLE) / n))
             / (CAST(s_sr2 AS DOUBLE) / n
                - (CAST(s_sr AS DOUBLE) / n) * (CAST(s_sr AS DOUBLE) / n))),
         6) AS seasonal_strength,
       round(GREATEST(0.0,
         1.0 - (CAST(s_r2 AS DOUBLE) / n
                - (CAST(s_r AS DOUBLE) / n) * (CAST(s_r AS DOUBLE) / n))
             / (CAST(s_tr2 AS DOUBLE) / n
                - (CAST(s_tr AS DOUBLE) / n) * (CAST(s_tr AS DOUBLE) / n))),
         6) AS trend_strength
FROM agg ORDER BY event_type
"""


@query(_seasonal_strength_sql())
def seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality and trend strength (Wang, Smith & Hyndman 2006's
    variance-ratio features, the measures behind the 'feasts' feature
    set): F_S = max(0, 1 - Var(R)/Var(S+R)) and F_T = max(0, 1 -
    Var(R)/Var(T+R)) computed over seasonal_decompose's own output —
    the one-number-per-series summary that turns a decomposition plot
    into a rankable signal ('which metrics are actually seasonal').
    The decomposition's rounded 6-dp components cast EXACTLY to
    DECIMAL(18,6), so the variance moments are decimal-exact.

    Scale shape: rides the seasonal_decompose plan (calendar-bounded
    hourly frames), then one |types|-row moment rollup."""
    dec = seasonal_decompose(spark, sf_dir).where(
        F.col("trend").isNotNull()
    )
    r = F.col("remainder").cast("decimal(18,6)")
    s = F.col("seasonal").cast("decimal(18,6)")
    t = F.col("trend").cast("decimal(18,6)")
    sr = (s + r).cast("decimal(24,6)")
    tr = (t + r).cast("decimal(24,6)")
    agg = dec.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(r).alias("s_r"),
        F.sum((r * r).cast("decimal(38,12)")).alias("s_r2"),
        F.sum(sr).alias("s_sr"),
        F.sum((sr * sr).cast("decimal(38,12)")).alias("s_sr2"),
        F.sum(tr).alias("s_tr"),
        F.sum((tr * tr).cast("decimal(38,12)")).alias("s_tr2"),
    )
    n = F.col("n").cast("double")

    def var(s2c, sc):
        m = F.col(sc).cast("double") / n
        return F.col(s2c).cast("double") / n - m * m

    fs = F.greatest(
        F.lit(0.0), 1.0 - var("s_r2", "s_r") / var("s_sr2", "s_sr")
    )
    ft = F.greatest(
        F.lit(0.0), 1.0 - var("s_r2", "s_r") / var("s_tr2", "s_tr")
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.round(fs, 6).alias("seasonal_strength"),
        F.round(ft, 6).alias("trend_strength"),
    ).orderBy("event_type")


def _lead_lag_sql() -> str:
    parts = []
    for k in [0, 1, 3, 7]:
        parts.append(f"""
  SELECT a.event_type AS type_a, b.event_type AS type_b, {k} AS lag,
         COUNT(*) AS n,
         SUM(CAST(a.c AS DECIMAL(18,0))) AS sx,
         SUM(CAST(b.c AS DECIMAL(18,0))) AS sy,
         SUM(CAST(CAST(a.c AS DECIMAL(18,0)) * CAST(b.c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(CAST(a.c AS DECIMAL(18,0)) * CAST(a.c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(CAST(b.c AS DECIMAL(18,0)) * CAST(b.c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS syy
  FROM daily a JOIN daily b
    ON a.day = b.day - INTERVAL {k} DAY
   AND a.event_type != b.event_type
  GROUP BY 1, 2""")
    un = "\n  UNION ALL".join(parts)
    return f"""
WITH {_DENSE_DAILY_SQL}, g AS ({un}
)
SELECT type_a, type_b, lag, n AS n_days,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
             6) AS ccf
FROM g ORDER BY type_a, type_b, lag
"""


@query(_lead_lag_sql())
def lead_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation lead-lag screen between event types' daily
    series (the CCF of Box & Jenkins 1970 at lags 0/1/3/7): does one
    metric's movement foreshadow another's — the first causality-ish
    read (Granger's precondition) a monitoring team runs across
    metrics. Pearson r between x_t (type a) and y_{t+k} (type b) over
    the shared calendar, from exact integer lag products (the
    acf_daily discipline): every sum is an integer or DECIMAL, the
    correlation is one double expression per (a, b, k).

    Scale shape: one daily rollup (DENSE calendar — zero-event days
    count 0, so the lag shift is true calendar days); the pair frame
    joins daily(a) x daily(b) on the shifted DAY key —
    calendar-bounded (|days| rows per pair), never corpus-sized;
    output |types|^2 x |lags|."""
    ev = _t(spark, sf_dir, "events")
    # calendar x |types|-bounded; persisted so the 4 lag branches (x2
    # sides each) read the rollup once instead of re-planning it 8x
    daily = scoped_persist(_daily_counts_dense(ev))
    out = None
    for k in [0, 1, 3, 7]:
        a = daily.select(
            F.col("event_type").alias("type_a"),
            F.col("day").alias("day"),
            F.col("c").alias("x"),
        )
        b = daily.select(
            F.col("event_type").alias("type_b"),
            # stay timestamp-typed (date_sub would coerce to DATE and
            # the join key types would diverge from the oracle's)
            (F.col("day") - F.expr(f"INTERVAL {k} DAYS")).alias("day"),
            F.col("c").alias("y"),
        )
        dx = F.col("x").cast("decimal(18,0)")
        dy = F.col("y").cast("decimal(18,0)")
        g = (
            a.join(b, "day")
            .where(F.col("type_a") != F.col("type_b"))
            .groupBy("type_a", "type_b")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dx).alias("sx"),
                F.sum(dy).alias("sy"),
                F.sum((dx * dy).cast("decimal(38,0)")).alias("sxy"),
                F.sum((dx * dx).cast("decimal(38,0)")).alias("sxx"),
                F.sum((dy * dy).cast("decimal(38,0)")).alias("syy"),
            )
            .withColumn("lag", F.lit(k))
        )
        out = g if out is None else out.unionByName(g)
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        (
            n * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            n * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return out.select(
        "type_a",
        "type_b",
        "lag",
        F.col("n").alias("n_days"),
        F.round(num / den, 6).alias("ccf"),
    ).orderBy("type_a", "type_b", "lag")


@query("""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), mom AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM daily GROUP BY 1
), stats AS (
  SELECT event_type, CAST(s AS DOUBLE) / n AS mu,
         sqrt(CAST(s2 AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sd
  FROM mom
), hist AS (
  SELECT event_type, c, COUNT(*) AS cnt FROM daily GROUP BY 1, 2
), cum AS (
  SELECT event_type, c, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS tot
  FROM hist
), q1 AS (
  SELECT event_type, c AS q1 FROM cum
  WHERE cum - cnt < CEIL(0.25 * tot) AND cum >= CEIL(0.25 * tot)
), q3 AS (
  SELECT event_type, c AS q3 FROM cum
  WHERE cum - cnt < CEIL(0.75 * tot) AND cum >= CEIL(0.75 * tot)
), flagged AS (
  SELECT daily.event_type, day, c,
         ABS(CAST(c AS DOUBLE) - mu) / sd > 2.0 AS z_vote,
         (c < q1 - 1.5 * (q3 - q1) OR c > q3 + 1.5 * (q3 - q1))
           AS fence_vote,
         (LAG(c) OVER (PARTITION BY daily.event_type ORDER BY day)
            IS NOT NULL
          AND c > 2 * LAG(c) OVER (PARTITION BY daily.event_type
                                   ORDER BY day)
          AND c >= 100) AS spike_vote
  FROM daily
  JOIN stats ON daily.event_type = stats.event_type
  JOIN q1 ON daily.event_type = q1.event_type
  JOIN q3 ON daily.event_type = q3.event_type
)
SELECT event_type, day, c, z_vote, fence_vote, spike_vote,
       (CASE WHEN z_vote THEN 1 ELSE 0 END
        + CASE WHEN fence_vote THEN 1 ELSE 0 END
        + CASE WHEN spike_vote THEN 1 ELSE 0 END) AS votes
FROM flagged
WHERE (CASE WHEN z_vote THEN 1 ELSE 0 END
       + CASE WHEN fence_vote THEN 1 ELSE 0 END
       + CASE WHEN spike_vote THEN 1 ELSE 0 END) >= 1
ORDER BY event_type, day
""")
def anomaly_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-ensemble anomaly days (the ensemble framing of
    Chandola, Banerjee & Kumar 2009's survey §9; Aggarwal 2013 ch.1 on
    model combination): a (type, day) is reported only when at least
    TWO independent closed-form detectors agree — a global z-score on
    the daily count (|z| > 2), a Tukey fence (outside Q1/Q3 +- 1.5
    IQR over the type's daily-count histogram), and a day-over-day
    spike rule (count > 2x previous day, min 100). Emits every day any
    detector flags, with the per-detector votes — the triage view; the
    pager pages at votes >= 2 (the false-positive-starved policy), and
    the vote columns make that one more filter.

    Scale shape: ONE daily rollup feeds all three detectors
    (calendar-bounded windows + one bounded histogram-rank for the
    quartiles); consensus is a row filter. No detector rescans
    events."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    dc = F.col("c").cast("decimal(18,0)")
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s").cast("double") / n
    sd = F.sqrt(F.col("s2").cast("double") / n - mu * mu)
    stats = mom.select("event_type", mu.alias("mu"), sd.alias("sd"))
    hist = daily.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wq = Window.partitionBy("event_type").orderBy("c")
    wall = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("cnt").over(wq)).withColumn(
        "tot", F.sum("cnt").over(wall)
    )

    def quart(frac, name):
        r = F.ceil(F.lit(frac) * F.col("tot"))
        return cum.where(_holds_rank(r)).select(
            "event_type", F.col("c").alias(name)
        )

    fences = quart(0.25, "q1").join(quart(0.75, "q3"), "event_type")
    wd = Window.partitionBy("event_type").orderBy("day")
    flagged = (
        daily.withColumn("prev", F.lag("c").over(wd))
        .join(F.broadcast(stats), "event_type")
        .join(F.broadcast(fences), "event_type")
        .select(
            "event_type",
            "day",
            "c",
            (
                F.abs(F.col("c").cast("double") - F.col("mu"))
                / F.col("sd")
                > 2.0
            ).alias("z_vote"),
            (
                (
                    F.col("c")
                    < F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
                )
                | (
                    F.col("c")
                    > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
                )
            ).alias("fence_vote"),
            (
                F.col("prev").isNotNull()
                & (F.col("c") > 2 * F.col("prev"))
                & (F.col("c") >= 100)
            ).alias("spike_vote"),
        )
    )
    votes = (
        F.when(F.col("z_vote"), 1).otherwise(0)
        + F.when(F.col("fence_vote"), 1).otherwise(0)
        + F.when(F.col("spike_vote"), 1).otherwise(0)
    )
    return (
        flagged.withColumn("votes", votes)
        .where(F.col("votes") >= 1)
        .select(
            "event_type", "day", "c", "z_vote", "fence_vote",
            "spike_vote", "votes",
        )
        .orderBy("event_type", "day")
    )


@query("""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         c,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
), flag AS (
  SELECT *, t * 2 > n AS second_half FROM idx
), pooled AS (
  SELECT event_type, COUNT(*) AS m,
         SUM(CAST(t AS DECIMAL(18,0))) AS sx,
         SUM(CAST(c AS DECIMAL(18,0))) AS sy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(t AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS syy
  FROM flag GROUP BY 1
), halves AS (
  SELECT event_type, second_half, COUNT(*) AS m,
         SUM(CAST(t AS DECIMAL(18,0))) AS sx,
         SUM(CAST(c AS DECIMAL(18,0))) AS sy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(t AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS syy
  FROM flag GROUP BY 1, 2
), ps AS (
  SELECT event_type, m AS n,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m)
         - ((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
            / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx))
           * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m) AS ssr_p
  FROM pooled
), hs AS (
  SELECT event_type,
         SUM((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m)
             - ((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx))
               * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m))
           AS ssr_12
  FROM halves GROUP BY 1
)
SELECT ps.event_type, n AS n_days,
       round(ssr_p, 4) AS ssr_pooled, round(ssr_12, 4) AS ssr_split,
       round(((ssr_p - ssr_12) / 2.0) / (ssr_12 / (n - 4.0)), 4) AS chow_f,
       CASE WHEN ((ssr_p - ssr_12) / 2.0) / (ssr_12 / (n - 4.0)) > 3.0
            THEN 'break' ELSE 'stable' END AS verdict
FROM ps JOIN hs ON ps.event_type = hs.event_type
ORDER BY ps.event_type
""")
def chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test (Chow 1960) on each event type's
    daily-count trend at the time midpoint: did the linear
    time-vs-count relationship CHANGE between the halves (the
    regression-level question behind 'did the launch bend the
    curve')? F = ((SSR_pooled - SSR_1 - SSR_2)/k) / ((SSR_1 +
    SSR_2)/(n - 2k)), k = 2 (intercept + slope). Every SSR comes from
    closed-form OLS over DECIMAL day-index/count moments — integer x
    (day index), integer y (counts), so the moments are exact and the
    F is one double expression.

    Scale shape: calendar-bounded daily rollup; one (type, half)
    moment agg + one pooled agg; |types|-row output."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    wd = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        (F.row_number().over(wd)).alias("t"),
        F.col("c"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).withColumn("second_half", F.col("t") * 2 > F.col("n"))
    dt = F.col("t").cast("decimal(18,0)")
    dc = F.col("c").cast("decimal(18,0)")

    def moments(df, keys):
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(dt).alias("sx"),
            F.sum(dc).alias("sy"),
            F.sum((dt * dc).cast("decimal(38,0)")).alias("sxy"),
            F.sum((dt * dt).cast("decimal(38,0)")).alias("sxx"),
            F.sum((dc * dc).cast("decimal(38,0)")).alias("syy"),
        )

    def ssr():
        m = F.col("m").cast("double")
        sx = F.col("sx").cast("double")
        sy = F.col("sy").cast("double")
        sxy = F.col("sxy").cast("double")
        sxx = F.col("sxx").cast("double")
        syy = F.col("syy").cast("double")
        beta_num = m * sxy - sx * sy
        beta_den = m * sxx - sx * sx
        # SSR = Syy_centered - beta * Sxy_centered
        return (syy - sy * sy / m) - (beta_num / beta_den) * (
            sxy - sx * sy / m
        )

    pooled = moments(idx, ["event_type"]).select(
        "event_type", F.col("m").alias("n"), ssr().alias("ssr_p")
    )
    halves = moments(idx, ["event_type", "second_half"]).select(
        "event_type", "second_half", ssr().alias("ssr_h")
    )
    hsum = halves.groupBy("event_type").agg(
        F.sum("ssr_h").alias("ssr_12")
    )
    j = pooled.join(hsum, "event_type")
    fstat = ((F.col("ssr_p") - F.col("ssr_12")) / 2.0) / (
        F.col("ssr_12") / (F.col("n").cast("double") - 4.0)
    )
    return j.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round("ssr_p", 4).alias("ssr_pooled"),
        F.round("ssr_12", 4).alias("ssr_split"),
        F.round(fstat, 4).alias("chow_f"),
        F.when(fstat > 3.0, "break").otherwise("stable").alias("verdict"),
    ).orderBy("event_type")


@query("""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, day,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t, c
  FROM daily
), mom AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(t AS DECIMAL(18,0))) AS sx,
         SUM(CAST(c AS DECIMAL(18,0))) AS sy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(t AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS syy
  FROM idx GROUP BY 1
), consts AS (
  SELECT event_type, n,
         (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
           / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS beta,
         (CAST(sy AS DOUBLE)
          - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
            / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) * sx)
           / n AS alpha,
         CAST(sx AS DOUBLE) / n AS xbar,
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx_c,
         ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
          - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
            / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
            * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n))
           / (n - 2.0) AS s2
  FROM mom
), scored AS (
  SELECT idx.event_type, day, c,
         round(c - (alpha + beta * t), 4) AS residual,
         round(1.0 / n + (t - xbar) * (t - xbar) / sxx_c, 6) AS leverage,
         round((c - (alpha + beta * t)) * (c - (alpha + beta * t))
               * (1.0 / n + (t - xbar) * (t - xbar) / sxx_c)
               / (2.0 * s2
                  * (1.0 - (1.0 / n + (t - xbar) * (t - xbar) / sxx_c))
                  * (1.0 - (1.0 / n + (t - xbar) * (t - xbar) / sxx_c))),
               6) AS cooks_d
  FROM idx JOIN consts ON idx.event_type = consts.event_type
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY cooks_d DESC, day) AS rank
  FROM scored
)
SELECT event_type, day, c, residual, leverage, cooks_d, rank
FROM ranked WHERE rank <= 3 ORDER BY event_type, rank
""")
def cooks_distance_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance (Cook 1977) of each DAY on the per-type
    daily-count trend regression: leverage h_ii = 1/n + (t - tbar)^2 /
    Sxx, D_i = e_i^2 h_ii / (p s^2 (1 - h_ii)^2) — which days distort
    the fitted trend (regression-diagnostics triage: the dates to
    exclude before reading slope claims). Emits the 3 most influential
    days per type. OLS from exact DECIMAL day-index/count moments; the
    residual and leverage are deterministic double expressions.

    Scale shape: calendar-bounded daily rollup; one per-type moment
    agg broadcast back onto the |days| frame; the top-3 pick is a rank
    window over the bounded frame."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    wd = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "day", (F.row_number().over(wd)).alias("t"), "c"
    )
    dt = F.col("t").cast("decimal(18,0)")
    dc = F.col("c").cast("decimal(18,0)")
    mom = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dt).alias("sx"),
        F.sum(dc).alias("sy"),
        F.sum((dt * dc).cast("decimal(38,0)")).alias("sxy"),
        F.sum((dt * dt).cast("decimal(38,0)")).alias("sxx"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    alpha = (sy - beta * sx) / n
    ssr = (syy - sy * sy / n) - beta * (sxy - sx * sy / n)
    consts = mom.select(
        "event_type",
        F.col("n"),
        beta.alias("beta"),
        alpha.alias("alpha"),
        (sx / n).alias("xbar"),
        (sxx - sx * sx / n).alias("sxx_c"),
        (ssr / (n - 2.0)).alias("s2"),
    )
    j = idx.join(F.broadcast(consts), "event_type")
    resid = F.col("c").cast("double") - (
        F.col("alpha") + F.col("beta") * F.col("t").cast("double")
    )
    h = (
        1.0 / F.col("n").cast("double")
        + (F.col("t").cast("double") - F.col("xbar"))
        * (F.col("t").cast("double") - F.col("xbar"))
        / F.col("sxx_c")
    )
    d = (
        resid
        * resid
        * h
        / (2.0 * F.col("s2") * (1.0 - h) * (1.0 - h))
    )
    scored = j.select(
        "event_type",
        "day",
        "c",
        F.round(resid, 4).alias("residual"),
        F.round(h, 6).alias("leverage"),
        F.round(d, 6).alias("cooks_d"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.desc(F.round(d, 6)), "day"
            )
        )
        .alias("rank"),
    )
    return scored.where(F.col("rank") <= 3).orderBy(
        "event_type", "rank"
    )


@query("""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), moves AS (
  SELECT event_type, day, c > prev AS up
  FROM (SELECT event_type, day, c,
               LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS prev
        FROM daily)
  WHERE prev IS NOT NULL AND c != prev
), runs AS (
  SELECT event_type, up,
         CASE WHEN LAG(up) OVER (PARTITION BY event_type ORDER BY day)
                   IS NULL
               OR LAG(up) OVER (PARTITION BY event_type ORDER BY day)
                  != up
              THEN 1 ELSE 0 END AS new_run
  FROM moves
), agg AS (
  SELECT event_type,
         CAST(SUM(new_run) AS BIGINT) AS r,
         CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n2
  FROM runs GROUP BY 1
), s AS (
  SELECT event_type, n1 + n2 AS n_moves, r,
         2.0 * n1 * n2 / (n1 + n2) + 1.0 AS mu,
         (r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
         / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                   * (n1 + n2 - 1.0))) AS z
  FROM agg
)
SELECT event_type, n_moves, r AS n_runs,
       round(mu, 4) AS expected_runs, round(z, 4) AS z,
       CASE WHEN z < -1.96 THEN 'trending'
            WHEN z > 1.96 THEN 'oscillating'
            ELSE 'random' END AS verdict
FROM s ORDER BY event_type
""")
def runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (Wald & Wolfowitz 1940) on each type's
    daily up/down moves: too FEW runs means momentum/trending, too
    MANY means oscillation — the randomness sanity check behind 'is
    this metric mean-reverting or drifting'. Day-over-day signs (ties
    drop), run count via sign-change summation over the calendar
    window, and the normal approximation z = (R - mu_R)/sigma_R with
    mu_R = 2 n1 n2 / n + 1.

    Scale shape: calendar-bounded daily rollup, one lag window, one
    |types|-row rollup — all integer counts until the final z."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    wd = Window.partitionBy("event_type").orderBy("day")
    moves = (
        daily.withColumn("prev", F.lag("c").over(wd))
        .where(F.col("prev").isNotNull() & (F.col("c") != F.col("prev")))
        .select(
            "event_type",
            "day",
            (F.col("c") > F.col("prev")).alias("up"),
        )
    )
    wm = Window.partitionBy("event_type").orderBy("day")
    runs = moves.withColumn(
        "new_run",
        F.when(
            F.lag("up").over(wm).isNull()
            | (F.lag("up").over(wm) != F.col("up")),
            1,
        ).otherwise(0),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("new_run").alias("r"),
        F.sum(F.when(F.col("up"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("up"), 0).otherwise(1)).alias("n2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    n = n1 + n2
    mu = 2.0 * n1 * n2 / n + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0))
    )
    z = (F.col("r").cast("double") - mu) / F.sqrt(var)
    return agg.select(
        "event_type",
        (F.col("n1") + F.col("n2")).alias("n_moves"),
        F.col("r").alias("n_runs"),
        F.round(mu, 4).alias("expected_runs"),
        F.round(z, 4).alias("z"),
        F.when(z < -1.96, "trending")
        .when(z > 1.96, "oscillating")
        .otherwise("random")
        .alias("verdict"),
    ).orderBy("event_type")


def _ljung_box_sql() -> str:
    lags = [1, 2, 3, 7, 14]
    leads = ",\n".join(
        f"         LEAD(c, {k}) OVER (PARTITION BY event_type ORDER BY day)"
        f" AS l{k}"
        for k in lags
    )
    lagaggs = ",\n".join(
        f"""         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(l{k} AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy{k},
         SUM(CASE WHEN l{k} IS NOT NULL
                  THEN CAST(c AS DECIMAL(18,0)) END) AS sh{k},
         SUM(CAST(l{k} AS DECIMAL(18,0))) AS st{k},
         CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS m{k}"""
        for k in lags
    )
    terms = " + ".join(
        f"""((CAST(sxy{k} AS DOUBLE)
    - (CAST(s AS DOUBLE) / n) * (CAST(sh{k} AS DOUBLE) + CAST(st{k} AS DOUBLE))
    + m{k} * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
   / (CAST(s2 AS DOUBLE) - n * (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n)))
  * ((CAST(sxy{k} AS DOUBLE)
    - (CAST(s AS DOUBLE) / n) * (CAST(sh{k} AS DOUBLE) + CAST(st{k} AS DOUBLE))
    + m{k} * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
   / (CAST(s2 AS DOUBLE) - n * (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n)))
  / (n - {k}.0)"""
        for k in lags
    )
    return f"""
WITH {_DENSE_DAILY_SQL}, wide AS (
  SELECT event_type, c,
{leads}
  FROM daily
), g AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2,
{lagaggs}
  FROM wide GROUP BY 1
)
SELECT event_type, n AS n_days,
       round(n * (n + 2.0) * ({terms}), 4) AS ljung_box_q,
       CASE WHEN n * (n + 2.0) * ({terms}) > 11.07
            THEN 'autocorrelated' ELSE 'independent' END AS verdict
FROM g ORDER BY event_type
"""


@query(_ljung_box_sql())
def ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (Ljung & Box 1978) on the daily
    count series per type: Q = n (n + 2) sum_k r_k^2 / (n - k) over
    lags 1/2/3/7/14 — the 'is there ANY autocorrelation' gate that
    belongs after acf_daily's per-lag view (an ARMA-fit or
    independence claim quotes Q, not eyeballed bars). r_k from the
    same exact-integer lag-product expansion acf_daily uses.

    Scale shape: calendar-bounded daily rollup (DENSE calendar —
    zero-event days count 0, so lag k means k calendar days), five
    LEAD columns, one moment rollup, scalar Q — |types| rows."""
    ev = _t(spark, sf_dir, "events")
    daily = _daily_counts_dense(ev)
    wd = Window.partitionBy("event_type").orderBy("day")
    lags = [1, 2, 3, 7, 14]
    cols = [F.lead("c", k).over(wd).alias(f"l{k}") for k in lags]
    wide = daily.select("event_type", "c", *cols)
    dc = F.col("c").cast("decimal(18,0)")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
    ]
    for k in lags:
        lk = F.col(f"l{k}").cast("decimal(18,0)")
        aggs += [
            F.sum((dc * lk).cast("decimal(38,0)")).alias(f"sxy{k}"),
            F.sum(F.when(lk.isNotNull(), dc)).alias(f"sh{k}"),
            F.sum(lk).alias(f"st{k}"),
            F.sum(F.when(lk.isNotNull(), 1).otherwise(0)).alias(f"m{k}"),
        ]
    g = wide.groupBy("event_type").agg(*aggs)
    n = F.col("n").cast("double")
    xbar = F.col("s").cast("double") / n
    den = F.col("s2").cast("double") - n * xbar * xbar
    q = None
    for k in lags:
        rk = (
            F.col(f"sxy{k}").cast("double")
            - xbar
            * (F.col(f"sh{k}").cast("double") + F.col(f"st{k}").cast("double"))
            + F.col(f"m{k}").cast("double") * xbar * xbar
        ) / den
        term = rk * rk / (n - F.lit(float(k)))
        q = term if q is None else q + term
    qstat = n * (n + 2.0) * q
    # chi2_{0.95, df=5} = 11.07
    return g.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(qstat, 4).alias("ljung_box_q"),
        F.when(qstat > 11.07, "autocorrelated")
        .otherwise("independent")
        .alias("verdict"),
    ).orderBy("event_type")


@query(f"""
WITH {_DENSE_DAILY_SQL}, xy AS (
  SELECT a.event_type AS ta, b.event_type AS tb, a.day, a.c AS x, b.c AS y
  FROM daily a JOIN daily b ON a.day = b.day AND a.event_type < b.event_type
), pr AS (
  SELECT p1.ta, p1.tb,
         p2.x - p1.x AS sx, p2.y - p1.y AS sy
  FROM xy p1 JOIN xy p2
    ON p1.ta = p2.ta AND p1.tb = p2.tb AND p1.day < p2.day
), g AS (
  SELECT ta, tb, COUNT(*) AS n0,
         CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
         CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
         CAST(SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         CAST(SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
  FROM pr GROUP BY 1, 2
)
SELECT ta AS type_a, tb AS type_b, conc AS concordant, disc AS discordant,
       round((conc - disc) / sqrt(CAST(n0 - tx AS DOUBLE) * (n0 - ty)), 6)
         AS tau_b
FROM g ORDER BY type_a, type_b
""")
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation tau-b (Kendall 1938) between every
    pair of event types' DENSE daily-count series — the
    ordinal-association companion to lead_lag_corr's Pearson CCF
    (monotone co-movement without the linearity assumption).
    Concordant / discordant / tied day-pairs are EXACT integer counts;
    tau_b = (C - D) / sqrt((n0 - tx)(n0 - ty)) is one double per pair.

    Scale shape: the day-pair frame is |type pairs| x |days|^2 / 2 —
    calendar-bounded, never corpus-sized; counting is one rollup. The
    daily rollup and the per-pair series persist (r16): both are
    self-joined, so each used to plan its events aggregation twice."""
    ev = _t(spark, sf_dir, "events")
    daily = scoped_persist(_daily_counts_dense(ev))
    a = daily.select(
        F.col("event_type").alias("ta"), "day", F.col("c").alias("x")
    )
    b = daily.select(
        F.col("event_type").alias("tb"), "day", F.col("c").alias("y")
    )
    xy = scoped_persist(a.join(b, "day").where(F.col("ta") < F.col("tb")))
    p1 = xy.select("ta", "tb", F.col("day").alias("d1"),
                   F.col("x").alias("x1"), F.col("y").alias("y1"))
    p2 = xy.select("ta", "tb", F.col("day").alias("d2"),
                   F.col("x").alias("x2"), F.col("y").alias("y2"))
    pr = p1.join(p2, ["ta", "tb"]).where(F.col("d1") < F.col("d2"))
    sx = F.col("x2") - F.col("x1")
    sy = F.col("y2") - F.col("y1")
    g = pr.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(sx * sy > 0, 1).otherwise(0)).alias("conc"),
        F.sum(F.when(sx * sy < 0, 1).otherwise(0)).alias("disc"),
        F.sum(F.when(sx == 0, 1).otherwise(0)).alias("tx"),
        F.sum(F.when(sy == 0, 1).otherwise(0)).alias("ty"),
    )
    tau = (
        (F.col("conc") - F.col("disc")).cast("double")
        / F.sqrt(
            (F.col("n0") - F.col("tx")).cast("double")
            * (F.col("n0") - F.col("ty")).cast("double")
        )
    )
    return g.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.round(tau, 6).alias("tau_b"),
    ).orderBy("type_a", "type_b")


@query(f"""
WITH {_DENSE_DAILY_SQL}, idx AS (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i,
         c
  FROM daily
), pr AS (
  SELECT a.event_type, a.i AS i1, b.i AS i2,
         CAST(b.c - a.c AS DOUBLE) / (b.i - a.i) AS slope
  FROM idx a JOIN idx b ON a.event_type = b.event_type AND a.i < b.i
), ranked AS (
  SELECT event_type, slope,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope, i1, i2) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS np
  FROM pr
)
SELECT event_type, np AS n_pairs, round(slope, 6) AS sen_slope,
       CASE WHEN slope > 0 THEN 'rising'
            WHEN slope < 0 THEN 'falling' ELSE 'flat' END AS verdict
FROM ranked
WHERE rn = CAST(FLOOR((np + 1) / 2.0) AS BIGINT)
ORDER BY event_type
""")
def theil_sen_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope estimator (Theil 1950; Sen 1968) of each event
    type's daily-count trend: the LOWER MEDIAN of all pairwise slopes
    (c_j - c_i) / (j - i) over the dense calendar — the robust trend
    line quoted when one launch-day spike would wreck an OLS slope
    (trend_test gives the direction verdict; this gives the rate).
    Slopes are IEEE doubles of integer ratios — identical on both
    engines — and the median pick orders (slope, i, j), so ties
    resolve deterministically.

    Scale shape: the pair frame is |days|^2 / 2 per type
    (calendar-bounded); the median is a ROW_NUMBER pick over that
    bounded frame, partitioned by type — never corpus-sized. The
    indexed daily series persists (r16): it is self-joined for the
    pairwise slopes, so the events rollup used to plan twice."""
    ev = _t(spark, sf_dir, "events")
    daily = _daily_counts_dense(ev)
    wi = Window.partitionBy("event_type").orderBy("day")
    idx = scoped_persist(
        daily.select(
            "event_type",
            (F.row_number().over(wi) - 1).alias("i"),
            "c",
        )
    )
    a = idx.select("event_type", F.col("i").alias("i1"),
                   F.col("c").alias("c1"))
    b = idx.select("event_type", F.col("i").alias("i2"),
                   F.col("c").alias("c2"))
    pr = a.join(b, "event_type").where(F.col("i1") < F.col("i2")).select(
        "event_type", "i1", "i2",
        (
            (F.col("c2") - F.col("c1")).cast("double")
            / (F.col("i2") - F.col("i1")).cast("double")
        ).alias("slope"),
    )
    wm = Window.partitionBy("event_type").orderBy("slope", "i1", "i2")
    wn = Window.partitionBy("event_type")
    ranked = pr.select(
        "event_type", "slope",
        F.row_number().over(wm).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("np"),
    )
    med = ranked.where(
        F.col("rn") == F.floor((F.col("np") + 1) / 2)
    )
    return med.select(
        "event_type",
        F.col("np").alias("n_pairs"),
        F.round("slope", 6).alias("sen_slope"),
        F.when(F.col("slope") > 0, "rising")
        .when(F.col("slope") < 0, "falling")
        .otherwise("flat")
        .alias("verdict"),
    ).orderBy("event_type")


@query(f"""
WITH {_DENSE_DAILY_SQL}, mom AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM daily GROUP BY 1
), j AS (
  SELECT daily.event_type, day, c, n, s, s2,
         ABS(CAST(CAST(c AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0))
                  AS DECIMAL(38,0)) - CAST(s AS DECIMAL(38,0))) AS dev,
         ROW_NUMBER() OVER (PARTITION BY daily.event_type
                            ORDER BY ABS(CAST(CAST(c AS DECIMAL(18,0))
                                * CAST(n AS DECIMAL(18,0)) AS DECIMAL(38,0))
                                - CAST(s AS DECIMAL(38,0))) DESC, day) AS rn
  FROM daily JOIN mom ON daily.event_type = mom.event_type
)
SELECT event_type, n AS n_days, day AS outlier_day, c AS outlier_count,
       round(CAST(dev AS DOUBLE) / n
             / sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                    / (n - 1)), 4) AS g_stat,
       CASE WHEN CAST(dev AS DOUBLE) / n
                 / sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                        / (n - 1)) > 3.0
            THEN 'outlier' ELSE 'within_range' END AS verdict
FROM j WHERE rn = 1 ORDER BY event_type
""")
def grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-deviation outlier test (Grubbs 1950) on each
    type's dense daily counts: G = max|c - mean| / sd — is the single
    worst day statistically an outlier, and WHICH day is it? The
    argmax runs on the EXACT integer deviation |c*n - s| (no float
    compare), ties broken by earliest day; mean/sd come from decimal
    moments; the G threshold 3.0 is the fixed screen (the z
    convention of events_anomaly).

    Scale shape: one decimal moment rollup per type, one ROW_NUMBER
    argmax over the calendar-bounded daily frame, which persists
    (r16: it feeds both the moment rollup and the deviation join)."""
    ev = _t(spark, sf_dir, "events")
    daily = scoped_persist(_daily_counts_dense(ev))
    dc = F.col("c").cast("decimal(18,0)")
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
    )
    j = daily.join(F.broadcast(mom), "event_type").select(
        "event_type", "day", "c", "n", "s", "s2",
        F.abs(
            (
                F.col("c").cast("decimal(18,0)")
                * F.col("n").cast("decimal(18,0)")
            ).cast("decimal(38,0)")
            - F.col("s").cast("decimal(38,0)")
        ).alias("dev"),
    )
    wa = Window.partitionBy("event_type").orderBy(
        F.desc("dev"), F.asc("day")
    )
    top = j.withColumn("rn", F.row_number().over(wa)).where(F.col("rn") == 1)
    n = F.col("n").cast("double")
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / n
        )
        / (n - 1)
    )
    g = F.col("dev").cast("double") / n / sd
    return top.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("day").alias("outlier_day"),
        F.col("c").alias("outlier_count"),
        F.round(g, 4).alias("g_stat"),
        F.when(g > 3.0, "outlier").otherwise("within_range").alias("verdict"),
    ).orderBy("event_type")


_SPECTRAL_PERIODS = [7, 14, 30]


def _trig_tables():
    """Integer-quantized DFT coefficients round(trig(2 pi k / p) * 1e6)
    for k in 0..p-1, per period. Generated ONCE in Python and inlined
    as literals on BOTH engines, so the two sides use byte-identical
    coefficients — no cross-libm cos() drift can enter the parity."""
    import math

    cos_t, sin_t = {}, {}
    for p in _SPECTRAL_PERIODS:
        cos_t[p] = [
            round(math.cos(2 * math.pi * k / p) * 1e6) for k in range(p)
        ]
        sin_t[p] = [
            round(math.sin(2 * math.pi * k / p) * 1e6) for k in range(p)
        ]
    return cos_t, sin_t


def _spectral_sql() -> str:
    cos_t, sin_t = _trig_tables()
    parts = []
    for p in _SPECTRAL_PERIODS:
        ca = ", ".join(str(v) for v in cos_t[p])
        sa = ", ".join(str(v) for v in sin_t[p])
        parts.append(f"""
  SELECT event_type, {p} AS period, COUNT(*) AS n,
         SUM(CAST(CAST(c AS DECIMAL(18,0))
                  * CAST(([{ca}])[CAST(t % {p} AS INTEGER) + 1]
                         AS DECIMAL(8,0)) AS DECIMAL(38,0))) AS a,
         SUM(CAST(CAST(c AS DECIMAL(18,0))
                  * CAST(([{sa}])[CAST(t % {p} AS INTEGER) + 1]
                         AS DECIMAL(8,0)) AS DECIMAL(38,0))) AS b
  FROM idx GROUP BY 1""")
    un = "\n  UNION ALL".join(parts)
    return f"""
WITH {_DENSE_DAILY_SQL}, idx AS (
  SELECT event_type, c,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
  FROM daily
), g AS ({un}
), res AS (
  SELECT event_type, period, n AS n_days,
         round((CAST(a AS DOUBLE) / 1e6 * (CAST(a AS DOUBLE) / 1e6)
                + CAST(b AS DOUBLE) / 1e6 * (CAST(b AS DOUBLE) / 1e6))
               / (CAST(n AS DOUBLE) * n), 4) AS power
  FROM g
)
SELECT event_type, period, n_days, power,
       ROW_NUMBER() OVER (PARTITION BY event_type
                          ORDER BY power DESC, period) = 1 AS dominant
FROM res ORDER BY event_type, period
"""


@query(_spectral_sql())
def spectral_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram power at the calendar periods 7 / 14 / 30 days for
    each event type's dense daily counts (Schuster 1898's periodogram;
    the Fisher 1929 g-test setting): P(p) = (A_p^2 + B_p^2) / n^2 with
    A_p = sum c_t cos(2 pi t / p), B_p likewise — 'is there a weekly
    (or biweekly, or monthly) cycle, and which period dominates'.
    The trig coefficients are INTEGER-QUANTIZED (x1e6) lookup tables
    generated once in Python and inlined on both engines, so A/B
    accumulate as EXACT decimal sums — float summation order and libm
    cos() differences never touch the result; the only doubles are
    the final normalization per (type, period).

    Scale shape: the daily frame is calendar-bounded; each period adds
    one modular-phase column and one decimal rollup; output is
    |types| x 3 rows."""
    ev = _t(spark, sf_dir, "events")
    daily = _daily_counts_dense(ev)
    wi = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "c", (F.row_number().over(wi) - 1).alias("t")
    )
    cos_t, sin_t = _trig_tables()
    out = None
    for p in _SPECTRAL_PERIODS:
        cosarr = F.array(*[F.lit(v) for v in cos_t[p]])
        sinarr = F.array(*[F.lit(v) for v in sin_t[p]])
        ph = (F.col("t") % p).cast("int")
        dc = F.col("c").cast("decimal(18,0)")
        g = (
            idx.select(
                "event_type",
                dc.alias("dc"),
                F.element_at(cosarr, ph + 1).cast("decimal(8,0)").alias("cq"),
                F.element_at(sinarr, ph + 1).cast("decimal(8,0)").alias("sq"),
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("dc") * F.col("cq")).cast("decimal(38,0)"))
                .alias("a"),
                F.sum((F.col("dc") * F.col("sq")).cast("decimal(38,0)"))
                .alias("b"),
            )
            .withColumn("period", F.lit(p))
        )
        out = g if out is None else out.unionByName(g)
    n = F.col("n").cast("double")
    ad = F.col("a").cast("double") / 1e6
    bd = F.col("b").cast("double") / 1e6
    power = (ad * ad + bd * bd) / (n * n)
    res = out.select(
        "event_type", "period", F.col("n").alias("n_days"),
        F.round(power, 4).alias("power")
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.desc("power"), "period"
    )
    return (
        res.withColumn(
            "dominant", F.row_number().over(wbest) == 1
        )
        .orderBy("event_type", "period")
    )


@query(f"""
WITH {_DENSE_DAILY_SQL}, t AS (
  SELECT event_type, c,
         LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS pv,
         LEAD(c) OVER (PARTITION BY event_type ORDER BY day) AS nx
  FROM daily
), g AS (
  SELECT event_type, COUNT(*) + 2 AS n,
         CAST(SUM(CASE WHEN (pv < c AND c > nx) OR (pv > c AND c < nx)
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM t WHERE pv IS NOT NULL AND nx IS NOT NULL GROUP BY 1
)
SELECT event_type, n AS n_days, tp AS turning_points,
       round(2.0 * (n - 2) / 3.0, 4) AS expected,
       round((tp - 2.0 * (n - 2) / 3.0)
             / sqrt((16.0 * n - 29.0) / 90.0), 4) AS z,
       CASE WHEN (tp - 2.0 * (n - 2) / 3.0)
                 / sqrt((16.0 * n - 29.0) / 90.0) < -1.96 THEN 'trending'
            WHEN (tp - 2.0 * (n - 2) / 3.0)
                 / sqrt((16.0 * n - 29.0) / 90.0) > 1.96 THEN 'oscillating'
            ELSE 'random_walkish' END AS verdict
FROM g ORDER BY event_type
""")
def turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points randomness test (Kendall & Stuart's classic
    form; Bienaymé 1874 for the expectation) on each type's dense
    daily counts: count strict local peaks and troughs; under
    randomness E[T] = 2(n-2)/3 and Var[T] = (16n-29)/90, so z =
    (T-E)/sd reads 'too few turns' (trending/sticky) vs 'too many'
    (oscillating). Plateaus (ties) are not turning points —
    documented, same rule both engines. All counts are exact
    integers; z is one double per type.

    Scale shape: one lag/lead window over the calendar-bounded daily
    frame, one rollup."""
    ev = _t(spark, sf_dir, "events")
    daily = _daily_counts_dense(ev)
    wd = Window.partitionBy("event_type").orderBy("day")
    t = daily.select(
        "event_type", "c",
        F.lag("c").over(wd).alias("pv"),
        F.lead("c").over(wd).alias("nx"),
    ).where(F.col("pv").isNotNull() & F.col("nx").isNotNull())
    is_tp = (
        ((F.col("pv") < F.col("c")) & (F.col("c") > F.col("nx")))
        | ((F.col("pv") > F.col("c")) & (F.col("c") < F.col("nx")))
    )
    g = t.groupBy("event_type").agg(
        (F.count(F.lit(1)) + 2).alias("n"),
        F.sum(F.when(is_tp, 1).otherwise(0)).alias("tp"),
    )
    n = F.col("n").cast("double")
    e = 2.0 * (n - 2) / 3.0
    v = (16.0 * n - 29.0) / 90.0
    z = (F.col("tp").cast("double") - e) / F.sqrt(v)
    return g.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("tp").alias("turning_points"),
        F.round(e, 4).alias("expected"),
        F.round(z, 4).alias("z"),
        F.when(z < -1.96, "trending")
        .when(z > 1.96, "oscillating")
        .otherwise("random_walkish")
        .alias("verdict"),
    ).orderBy("event_type")


@query(f"""
WITH {_DENSE_DAILY_SQL}, wk AS (
  SELECT event_type, c,
         CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY day) - 1) / 7.0) AS BIGINT) AS wkid
  FROM daily
), sub AS (
  SELECT event_type, wkid, COUNT(*) AS nd,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(MAX(c) - MIN(c) AS BIGINT) AS r
  FROM wk GROUP BY 1, 2
  HAVING COUNT(*) = 7
), per AS (
  SELECT event_type, COUNT(*) AS n_weeks,
         SUM(CAST(s AS DECIMAL(18,0))) AS ss,
         SUM(CAST(r AS DECIMAL(18,0))) AS sr
  FROM sub GROUP BY 1
), lim AS (
  SELECT event_type, n_weeks,
         CAST(ss AS DOUBLE) / (7.0 * n_weeks) AS xbar,
         CAST(sr AS DOUBLE) / n_weeks AS rbar,
         CAST(ss AS DOUBLE) / (7.0 * n_weeks)
           + 0.419 * CAST(sr AS DOUBLE) / n_weeks AS ucl,
         CAST(ss AS DOUBLE) / (7.0 * n_weeks)
           - 0.419 * CAST(sr AS DOUBLE) / n_weeks AS lcl
  FROM per
), ooc AS (
  SELECT sub.event_type, COUNT(*) AS n_ooc
  FROM sub JOIN lim ON sub.event_type = lim.event_type
  WHERE CAST(s AS DOUBLE) / 7.0 > ucl OR CAST(s AS DOUBLE) / 7.0 < lcl
  GROUP BY 1
)
SELECT lim.event_type, n_weeks,
       round(xbar, 4) AS xbar, round(rbar, 4) AS rbar,
       round(ucl, 4) AS ucl, round(lcl, 4) AS lcl,
       COALESCE(n_ooc, 0) AS n_out_of_control
FROM lim LEFT JOIN ooc ON lim.event_type = ooc.event_type
ORDER BY lim.event_type
""")
def spc_control_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart X-bar / R control chart (Shewhart 1931; the A2/D4
    constants for subgroup size 7 from the standard SPC tables) on
    weekly subgroups of each type's dense daily counts: center line,
    UCL/LCL = Xbar +- A2(7) * Rbar, range limits D4(7) * Rbar, and
    the count of out-of-control weeks — the ops-review chart, with
    the week as the rational subgroup. Only COMPLETE 7-day weeks
    enter (documented); subgroup sums and ranges are exact integers.

    Scale shape: a calendar-bounded weekly rollup, one per-type
    reduce, one bounded re-join to count violations."""
    ev = _t(spark, sf_dir, "events")
    daily = _daily_counts_dense(ev)
    wi = Window.partitionBy("event_type").orderBy("day")
    wk = daily.select(
        "event_type", "c",
        F.floor((F.row_number().over(wi) - 1) / 7).alias("wkid"),
    )
    sub = wk.groupBy("event_type", "wkid").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("c").alias("s"),
        (F.max("c") - F.min("c")).alias("r"),
    ).where(F.col("nd") == 7)
    per = sub.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.sum(F.col("s").cast("decimal(18,0)")).alias("ss"),
        F.sum(F.col("r").cast("decimal(18,0)")).alias("sr"),
    )
    nw = F.col("n_weeks").cast("double")
    xbar = F.col("ss").cast("double") / (7.0 * nw)
    rbar = F.col("sr").cast("double") / nw
    # A2 = 0.419, D4 = 1.924 for n = 7
    ucl = xbar + 0.419 * rbar
    lcl = xbar - 0.419 * rbar
    lim = per.select(
        "event_type", "n_weeks",
        xbar.alias("xbar"), rbar.alias("rbar"),
        ucl.alias("ucl"), lcl.alias("lcl"),
    )
    ooc = (
        sub.join(F.broadcast(lim), "event_type")
        .where(
            (F.col("s").cast("double") / 7.0 > F.col("ucl"))
            | (F.col("s").cast("double") / 7.0 < F.col("lcl"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_ooc"))
    )
    return (
        lim.join(ooc, "event_type", "left")
        .select(
            "event_type", "n_weeks",
            F.round("xbar", 4).alias("xbar"),
            F.round("rbar", 4).alias("rbar"),
            F.round("ucl", 4).alias("ucl"),
            F.round("lcl", 4).alias("lcl"),
            F.coalesce("n_ooc", F.lit(0)).alias("n_out_of_control"),
        )
        .orderBy("event_type")
    )
