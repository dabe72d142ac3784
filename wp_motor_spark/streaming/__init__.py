"""Stateful streaming extensions.

The reference engine is purely processing-time and has NO stateful
streaming operators (SURVEY.md §2.9 — no event-time, no stream dedup, no
sessionization). This package is the Spark-native extension surface the
north star asks for on top of parity: event-time sessionization with
bounded state (`applyInPandasWithState`) and watermark-bounded streaming
dedup, plus SpaceSaving streaming heavy hitters (fixed-memory top-k),
a bounded-state EWMA point-outlier detector, a bounded-state CUSUM
sustained-shift detector (Page 1954), a bounded-state Page-Hinkley
mean-drift detector with restart (Gama et al. 2014), and a
frozen-calibration EWMA control chart with time-varying limits
(Roberts 1959; Lucas & Saccucci 1990). Batch twins live in
queries.etl.user_sessions / operators.dedup /
queries.text.countmin_heavy_hitters / queries.timeseries.ewma_anomaly_batch
/ queries.timeseries.cusum_changepoint / queries.timeseries.page_hinkley.
"""

from wp_motor_spark.streaming.state import (
    cusum_stream,
    dedup_stream,
    ewma_anomaly_stream,
    ewma_chart_stream,
    heavy_hitters_stream,
    page_hinkley_stream,
    sessionize_stream,
)

__all__ = [
    "cusum_stream",
    "dedup_stream",
    "ewma_anomaly_stream",
    "ewma_chart_stream",
    "heavy_hitters_stream",
    "page_hinkley_stream",
    "sessionize_stream",
]
