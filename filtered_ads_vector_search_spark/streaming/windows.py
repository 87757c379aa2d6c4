"""Watermarked windowed aggregation over the events stream (SURVEY.md §2 J).

Streaming form of the reference's evaluation metrics — QPS per window
(E3, qps formula cuvs_bench_grid_search_v3.py:302) and value percentiles
(E2, np.percentile at :305) — expressed as an event-time windowed groupBy with
a watermark for late data. ``windowed_event_stats_batch`` is the identical
aggregation on a batch DataFrame: used both as the DuckDB-checkable form and
as the correctness twin for the streaming test (availableNow over the same
files must equal the batch result).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datasets import stream_table


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, one file per trigger,
    with ``datasets.load_events``' schema and ``ts`` normalization."""
    return stream_table(spark, sf_dir, "events")


def _window_agg(events: DataFrame, window: str, watermark: str | None) -> DataFrame:
    df = events
    if watermark is not None:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_event_stats(
    events_stream: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Streaming: per-(window, event_type) counts and value sums; watermark
    bounds state for late data. Attach to ``writeStream`` with an
    availableNow/continuous trigger."""
    return _window_agg(events_stream, window, watermark)


def windowed_event_stats_batch(events: DataFrame, window: str = "1 minute") -> DataFrame:
    """Batch twin — identical logical aggregation, no watermark needed."""
    return _window_agg(events, window, None)


# --- streaming bounded-state value histograms → latency-style quantiles -----
#
# The streaming form of evaluate.hist_quantiles: a latency monitor can't do
# the two-pass (bounds, then bins) trick — so the bounds are FIXED by the
# caller (the realistic monitoring contract: you know your SLO range) and
# out-of-range values clamp into the edge bins. That makes the whole
# histogram ONE watermarked groupBy — streaming-legal in append mode with
# state bounded by windows x event_types x bins — and quantile extraction
# happens at read time over the tiny histogram rows (quantiles_from_histogram),
# exactly how a dashboard consumes a histogram metric.


def _value_bin(value, lo: float, hi: float, bins: int):
    width = (hi - lo) / float(bins)
    raw = F.floor((value - F.lit(lo)) / F.lit(width))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")


def _windowed_histogram(
    events: DataFrame,
    window: str,
    watermark: str | None,
    lo: float,
    hi: float,
    bins: int,
) -> DataFrame:
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    # NULL values would coerce into a NULL bin row and poison read-time
    # quantile extraction; drop them like the batch estimator does
    df = events.filter(F.col("value").isNotNull())
    if watermark is not None:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(
            F.window("ts", window).alias("w"),
            F.col("event_type"),
            _value_bin(F.col("value"), lo, hi, bins).alias("b"),
        )
        .agg(F.count("*").alias("c"))
        .select(F.col("w.start").alias("window_start"), "event_type", "b", "c")
    )


def windowed_value_histogram(
    events_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    lo: float = 0.0,
    hi: float = 1000.0,
    bins: int = 64,
) -> DataFrame:
    """Streaming fixed-bound histogram per (window, event_type)."""
    return _windowed_histogram(events_stream, window, watermark, lo, hi, bins)


def windowed_value_histogram_batch(
    events: DataFrame,
    window: str = "1 minute",
    lo: float = 0.0,
    hi: float = 1000.0,
    bins: int = 64,
) -> DataFrame:
    """Batch twin — identical histogram aggregation."""
    return _windowed_histogram(events, window, None, lo, hi, bins)


def quantiles_from_histogram(
    hist: DataFrame,
    lo: float,
    hi: float,
    bins: int,
    qs: tuple = (0.5, 0.95, 0.99),
    round_digits: int = 4,
) -> DataFrame:
    """Read-time quantile extraction over histogram rows (per window_start,
    event_type): cumulative counts + in-bin linear interpolation, the same
    arithmetic as evaluate.hist_quantiles but over fixed caller bounds."""
    from pyspark.sql import Window as W

    width = (hi - lo) / float(bins)
    keys = ["window_start", "event_type"]
    tot = hist.groupBy(*keys).agg(F.sum("c").alias("n"))
    w = W.partitionBy(*keys).orderBy("b")
    cum = (
        hist.join(tot, keys)
        .withColumn("cum", F.sum("c").over(w))
        .withColumn("cum_prev", F.col("cum") - F.col("c"))
    )
    qd = cum.withColumn("q", F.explode(F.array(*[F.lit(float(q)) for q in qs])))
    t = F.col("q") * F.col("n")
    w2 = W.partitionBy(*keys, "q").orderBy("b")
    first = (
        qd.filter(F.col("cum") >= t)
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") == 1)
    )
    est = F.lit(lo) + F.lit(width) * (
        F.col("b") + (t - F.col("cum_prev")) / F.col("c")
    )
    return first.select(*keys, "q", F.round(est, round_digits).alias("est"))
