"""Medallion run orchestrator: bronze → silver → gold → research →
backtest over the events series, persisting each layer as partitioned
parquet plus a ``run_summary.json`` artifact contract.

Mirrors the reference's layer runner + run-summary shape
(bronze/pipeline.py:70-95,366-426: per-stage outputs, status counts,
atomic JSON summary) re-expressed Spark-first: each layer is ONE
declarative write (task-atomic via Spark's commit protocol, partitioned
by event year so downstream reads partition-prune), and the next stage
reads the written layer back with the written frame's schema, so no job
re-infers it from parquet footers.

Counts ride on the writes instead of extra passes: the silver quality
totals and the backtest's suppressed-signal counts are
``DataFrame.observe`` metrics (:class:`~pyspark.sql.Observation`) filled
by the layer write that already scans those rows; the report's totals
and by-exit-reason table are one ``rollup`` over the written trades.
The research profile is a handful of rows, collected once and written
as parquet plus its CSV twin from that local copy.

Scale notes: every stage is a linear pass; the only shuffles are the
per-series window (one hash exchange on user_id per layer, reused
within the layer's window stack) and the layer writes. Nothing is
collected to the driver except the tiny profile and report aggregates.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.config import Settings, load_settings
from pipeline_mf_etl_spark.operators.backtest import simulate_trades
from pipeline_mf_etl_spark.operators.ewm import ewm_smooth
from pipeline_mf_etl_spark.operators.windows import series_window
from pipeline_mf_etl_spark.sources.readers import load_table
from pipeline_mf_etl_spark.sources.writers import (
    write_csv_twin,
    write_json_artifact,
    write_partitioned,
)

# backtest_layer's fixed-precedence suppression reasons, in report order
SUPPRESS_REASONS = ("DOLLAR_VOL", "PRICE_FLOOR", "WARMUP")

# B2-style state mapping (same tiny table as queries/backtest.py).
_STATE_MAP = (
    ("purchase", 1, True),
    ("error", -1, True),
    ("click", 0, False),
    ("view", 0, False),
    ("signup", 0, False),
)


def bronze_layer(ev: DataFrame) -> DataFrame:
    """P1 normalize: trimmed/uppercased labels, parsed props, synthetic
    bar id, partition column ``event_year``."""
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.upper(F.trim("event_type")).alias("event_type"),
        F.col("value").cast("double").alias("value"),
        F.get_json_object("props", "$.k").cast("double").alias("prop_k"),
        F.col("ts").cast("date").alias("event_date"),
        F.year("ts").alias("event_year"),
    )


def silver_layer(bronze: DataFrame, gap_days: int = 7) -> DataFrame:
    """P2/P3 quality flags + error counts + valid marker."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dup_w = Window.partitionBy("user_id", "ts")
    flags = {
        "q_missing_field": F.col("value").isNull()
        | F.col("event_type").isNull()
        | (F.trim("event_type") == ""),
        "q_nonpositive_value": F.coalesce(F.col("value") <= 0, F.lit(False)),
        "q_duplicate": F.count("*").over(dup_w) > 1,
    }
    warns = {
        "q_gap_in_series": F.coalesce(
            F.datediff(F.col("ts").cast("date"), F.lag(F.col("ts").cast("date")).over(w))
            > gap_days,
            F.lit(False),
        ),
        "q_suspicious_bar": F.coalesce(F.col("value") > 50, F.lit(False)),
    }
    out = bronze
    for name, expr in {**flags, **warns}.items():
        out = out.withColumn(name, expr)
    err = sum(F.col(n).cast("int") for n in flags)
    warn = sum(F.col(n).cast("int") for n in warns)
    return (
        out.withColumn("quality_error_count", err)
        .withColumn("quality_warn_count", warn)
        .withColumn("is_valid_row", F.col("quality_error_count") == 0)
    )


def observe_quality(silver: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach the run summary's quality counts to ``silver``: the write
    of the returned frame fills the Observation with ``rows_total``,
    ``rows_valid``, ``total_errors`` and ``total_warns``."""
    quality = Observation()
    observed = silver.observe(
        quality,
        F.count(F.lit(1)).alias("rows_total"),
        F.count_if("is_valid_row").alias("rows_valid"),
        # SUM over no rows is NULL; an empty input still gets a summary
        F.coalesce(F.sum("quality_error_count"), F.lit(0)).alias("total_errors"),
        F.coalesce(F.sum("quality_warn_count"), F.lit(0)).alias("total_warns"),
    )
    return observed, quality


def gold_layer(silver: DataFrame, s: Settings) -> DataFrame:
    """W3 EWM smoothing + S0-S4 flow states + B5 entry signals over the
    valid silver rows."""
    valid = silver.filter("is_valid_row").drop(
        *[c for c in silver.columns if c.startswith("q_")]
    )
    df = ewm_smooth(
        valid,
        series_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_col="value",
        n=s.indicators.ewm_span,
        out_col="ewm",
    )
    w = series_window()
    flow = F.col("ewm") - 10.0
    slope = flow - (F.lag("ewm").over(w) - 10.0)
    rising = F.coalesce(slope >= 0, F.lit(True))
    state = (
        F.when(flow.isNull(), 0)
        .when((flow > 0) & rising, 1)
        .when(flow > 0, 2)
        .when(rising, 4)
        .otherwise(3)
    )
    df = df.withColumn("flow_state_code", state.cast("tinyint"))
    spark = df.sparkSession
    m = F.broadcast(
        spark.createDataFrame(
            list(_STATE_MAP), schema="event_type_raw string, side int, eligible boolean"
        ).select(F.upper("event_type_raw").alias("event_type"), "side", "eligible")
    )
    df = df.join(m, "event_type", "left").fillna({"side": 0, "eligible": False})
    prev_state = F.lag("event_type").over(w)
    transition = prev_state.isNull() | (F.col("event_type") != prev_state)
    return df.withColumn("signal", F.col("eligible") & transition)


def research_layer(gold: DataFrame) -> DataFrame:
    """M8-style per-state profile: occupancy and forward outcome."""
    w = series_window()
    fwd = (F.lead("value", 5).over(w) / F.col("value") - 1).alias("fwd_ret_5")
    enriched = gold.select("flow_state_code", "value", fwd)
    return (
        enriched.groupBy("flow_state_code")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.avg("fwd_ret_5"), 6).alias("mean_fwd_ret_5"),
            F.round(F.stddev_samp("fwd_ret_5"), 6).alias("std_fwd_ret_5"),
        )
        .orderBy("flow_state_code")
    )


def backtest_layer(gold: DataFrame, s: Settings) -> tuple[DataFrame, Observation]:
    """B4+B6/B7: execution-realism gating, trade simulation on the
    surviving signals, and summary metrics.

    Realism flags mirror the oracle-certified b4 query (price floor /
    warmup / rolling dollar-vol median floor with fixed-precedence
    primary reason, reference backtest/execution_realism.py:208-559);
    suppressed entry signals are counted by reason so the report can
    show WHY candidates were dropped (reference suppression
    diagnostics, execution_realism.py:440-470).

    Returns (trades, suppression). ``suppression`` is an
    :class:`~pyspark.sql.Observation` on the gated bars holding one
    count per :data:`SUPPRESS_REASONS` entry; the first action over
    ``trades`` (the layer write) fills it, so read it only after that.
    Callers compute summary metrics with :func:`trade_metrics` over
    whichever frame they mean (usually the read-back written layer).
    """
    from pipeline_mf_etl_spark.operators.windows import rolling_min_samples

    r = s.realism
    w = series_window()
    dv = F.col("value") * F.col("prop_k")
    bars = gold.select(
        "user_id", "ts", "event_id", "value", "side", "signal", dv.alias("dollar_vol")
    ).withColumn(
        "history_bars",
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    med = rolling_min_samples(
        F.expr("percentile(dollar_vol, 0.5)"),
        F.col("dollar_vol"),
        w,
        r.dollar_vol_window,
    )
    bars = bars.withColumn("dv_med", med)
    price_fail = F.col("value") < r.price_floor
    warm_fail = F.col("history_bars") < r.warmup_bars
    dv_fail = F.coalesce(F.col("dv_med") < r.dollar_vol_floor, F.lit(False))
    reason = (
        F.when(price_fail, "PRICE_FLOOR")
        .when(warm_fail, "WARMUP")
        .when(dv_fail, "DOLLAR_VOL")
    )
    bars = bars.withColumn("exec_eligible", ~(price_fail | warm_fail | dv_fail)).withColumn(
        "suppress_reason", reason
    )
    suppression = Observation()
    bars = bars.observe(
        suppression,
        *[
            F.count_if(F.col("signal") & (F.col("suppress_reason") == r)).alias(r)
            for r in SUPPRESS_REASONS
        ],
    )
    gated = bars.withColumn("signal", F.col("signal") & F.col("exec_eligible")).select(
        "user_id", "ts", "event_id", "value", "side", "signal"
    )
    trades = simulate_trades(
        gated,
        hold_bars=s.backtest.hold_bars,
        fee_bps=s.backtest.fee_bps_per_side,
        slippage_bps=s.backtest.slippage_bps_per_side,
    )
    return trades, suppression


def trade_metric_columns() -> list[Column]:
    """B7 summary metrics as aggregate columns: ``n_trades``,
    ``expectancy``, ``win_rate`` and ``net_std``."""
    return [
        F.count("*").alias("n_trades"),
        F.round(F.avg("net_return"), 6).alias("expectancy"),
        F.round(F.avg((F.col("net_return") > 0).cast("double")), 6).alias("win_rate"),
        F.round(F.stddev_pop("net_return"), 6).alias("net_std"),
    ]


def trade_metrics(trades: DataFrame) -> DataFrame:
    """B7 summary aggregate (one row)."""
    return trades.agg(*trade_metric_columns())


def run_bronze(
    spark: SparkSession, sf_dir: str, output_root: str, settings: Settings | None = None
) -> dict:
    """Stage entry point: bronze normalize + silver quality flags only
    (the reference's ``bronze-run`` writes normalized rows WITH their
    quality flags; here that is the silver frame written as one layer).
    Returns the stage summary (also persisted as JSON)."""
    s = settings or load_settings()
    del s  # bronze has no knobs today; parity with the other stages
    silver, quality = observe_quality(
        silver_layer(bronze_layer(load_table(spark, sf_dir, "events")))
    )
    path = os.path.join(output_root, "bronze")
    write_partitioned(silver, path, ["event_year"])
    q = quality.get
    summary = {
        "stage": "bronze",
        "rows_total": q["rows_total"],
        "rows_valid": q["rows_valid"],
        "output": path,
    }
    write_json_artifact(summary, os.path.join(output_root, "bronze_summary.json"))
    return summary


def write_research(research: DataFrame, path: str) -> int:
    """Write the research profile as one parquet file plus its CSV twin.
    The profile is one row per flow state, so it is collected once and
    both files are written from that local copy instead of running the
    bronze→gold→profile plan twice. Returns the number of rows."""
    rows = research.collect()
    profile = research.sparkSession.createDataFrame(rows, research.schema)
    profile.coalesce(1).write.mode("overwrite").parquet(path)
    write_csv_twin(profile, path + "_csv")
    return len(rows)


def run_research(
    spark: SparkSession, sf_dir: str, output_root: str, settings: Settings | None = None
) -> dict:
    """Stage entry point: chain to gold in memory, write the research
    profile + csv twin (reference ``research-cluster-run`` shape)."""
    s = settings or load_settings()
    gold = gold_layer(silver_layer(bronze_layer(load_table(spark, sf_dir, "events"))), s)
    path = os.path.join(output_root, "research")
    summary = {
        "stage": "research",
        "n_states": write_research(research_layer(gold), path),
        "output": path,
    }
    write_json_artifact(summary, os.path.join(output_root, "research_summary.json"))
    return summary


def run_backtest(
    spark: SparkSession, sf_dir: str, output_root: str, settings: Settings | None = None
) -> dict:
    """Stage entry point: chain to gold in memory, simulate, write the
    trades layer + report twins (reference ``backtest-run`` shape)."""
    from pipeline_mf_etl_spark.reports import build_backtest_report, write_backtest_report

    s = settings or load_settings()
    gold = gold_layer(silver_layer(bronze_layer(load_table(spark, sf_dir, "events"))), s)
    trades, suppression = backtest_layer(gold, s)
    path = os.path.join(output_root, "trades")
    trades.write.mode("overwrite").option("compression", "zstd").parquet(path)
    trades = _read_layer(spark, path, trades)
    report = build_backtest_report(trades, gold, suppression)
    write_backtest_report(report, output_root)
    summary = {"stage": "backtest", "output": path, **report}
    write_json_artifact(summary, os.path.join(output_root, "backtest_summary.json"))
    return summary


def _read_layer(spark: SparkSession, path: str, fallback: DataFrame) -> DataFrame:
    """Read a written layer back (partition-pruned downstream reads).

    ``fallback`` is the frame that was written, before any downcast; its
    schema is the read schema. Given a schema, Spark runs no job to
    infer one from the parquet footers, and an EMPTY layer (only
    _SUCCESS) reads as an empty frame, so the run still completes. The
    parquet reader widens columns stored as float32 (silver/gold
    precision policy) to the schema's double, so the next stage computes
    in float64.
    """
    return spark.read.schema(fallback.schema).parquet(path)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    output_root: str,
    settings: Settings | None = None,
    run_id: str = "run-0",
) -> dict:
    """Chain bronze→silver→gold→research→backtest, write every layer as
    partitioned parquet under ``output_root``, and persist
    ``run_summary.json`` (atomic temp+rename). Returns the summary dict.
    """
    from pipeline_mf_etl_spark.reports import build_backtest_report, write_backtest_report

    s = settings or load_settings()
    t0 = time.monotonic()
    paths = {
        layer: os.path.join(output_root, layer)
        for layer in ("bronze", "silver", "gold", "research", "trades")
    }

    def downcast(df: DataFrame, width: str) -> DataFrame:
        """Layer write-width policy (reference settings.yaml `precision`:
        compute in float64, store silver/gold as float32). Reading back
        re-promotes to double for the next stage's float64 compute."""
        if width == "double":
            return df
        for c, t in df.dtypes:
            if t == "double":
                df = df.withColumn(c, F.col(c).cast(width))
        return df

    ev = load_table(spark, sf_dir, "events")
    bronze = bronze_layer(ev)
    write_partitioned(downcast(bronze, s.precision.bronze_float), paths["bronze"], ["event_year"])
    bronze = _read_layer(spark, paths["bronze"], bronze)

    # the silver write fills the summary's quality counts
    silver, quality = observe_quality(silver_layer(bronze))
    write_partitioned(downcast(silver, s.precision.silver_float), paths["silver"], ["event_year"])
    silver = _read_layer(spark, paths["silver"], silver)

    gold = gold_layer(silver, s)
    write_partitioned(downcast(gold, s.precision.gold_float), paths["gold"], ["event_year"])
    gold = _read_layer(spark, paths["gold"], gold)

    write_research(research_layer(gold), paths["research"])

    trades, suppression = backtest_layer(gold, s)
    trades.write.mode("overwrite").option("compression", "zstd").parquet(paths["trades"])
    # report twins (json + md) over the WRITTEN trades layer, so the
    # report describes what is on disk (reference backtest/reports.py);
    # the summary's trade metrics are the report's totals
    trades = _read_layer(spark, paths["trades"], trades)
    report = build_backtest_report(trades, gold, suppression)
    write_backtest_report(report, output_root)

    q = quality.get
    summary = {
        "run_id": run_id,
        "sf_dir": sf_dir,
        "duration_sec": round(time.monotonic() - t0, 3),
        "rows_total": q["rows_total"],
        "rows_valid": q["rows_valid"],
        "rows_invalid": q["rows_total"] - q["rows_valid"],
        "total_errors": q["total_errors"],
        "total_warns": q["total_warns"],
        "n_trades": report["n_trades"],
        "expectancy": report["expectancy"],
        "win_rate": report["win_rate"],
        "settings": {
            "hold_bars": s.backtest.hold_bars,
            "fee_bps_per_side": s.backtest.fee_bps_per_side,
            "slippage_bps_per_side": s.backtest.slippage_bps_per_side,
            "ewm_span": s.indicators.ewm_span,
        },
        "outputs": paths,
    }
    write_json_artifact(summary, os.path.join(output_root, "run_summary.json"))
    return summary
