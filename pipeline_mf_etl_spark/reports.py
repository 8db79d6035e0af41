"""Backtest report twins (SURVEY.md §2.9 B7-B9 artifact surface).

The reference emits a human-readable markdown report plus a JSON twin
per backtest run (backtest/reports.py, execution_realism_report.py:
trade totals, profit factor, by-state/by-exit tables, equity max
drawdown, suppression-by-reason diagnostics). This module derives the
same report from the engine's layer outputs: every number is a Spark
aggregate over the written trades layer or a metric observed on the
bars while the trades write runs — the driver only collects the tiny
final tables — and the twins are written through the atomic artifact
writers (S5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.pipeline import trade_metric_columns
from pipeline_mf_etl_spark.sources.writers import write_json_artifact


def build_backtest_report(
    trades: DataFrame, gold: DataFrame, suppression: Observation
) -> dict:
    """Aggregate the written backtest layer into the report dict
    (reference backtest/reports.py fields: totals, PF, by-exit-reason,
    equity max drawdown, suppression-by-reason).

    ``suppression`` is the :class:`~pyspark.sql.Observation` returned by
    ``pipeline.backtest_layer``; the trades write must have run, since
    that action is what fills it."""
    # totals and the by-exit-reason table in one job: the rollup's
    # grand-total row (grouping = 1) is the totals row. On an empty
    # layer a rollup returns no rows at all, not even the grand total.
    rows = (
        trades.rollup("exit_reason")
        .agg(
            F.grouping("exit_reason").alias("_total"),
            *trade_metric_columns(),
            F.round(F.avg("bars_held"), 3).alias("avg_hold_bars"),
            F.sum(F.when(F.col("net_return") > 0, F.col("net_return"))).alias("_gross_win"),
            F.sum(F.when(F.col("net_return") < 0, F.col("net_return"))).alias("_gross_loss"),
        )
        .collect()
    )
    totals = next((r.asDict() for r in rows if r["_total"]), {"n_trades": 0})
    gross_win = totals.get("_gross_win") or 0.0
    gross_loss = totals.get("_gross_loss") or 0.0
    profit_factor = (
        round(abs(gross_win / gross_loss), 6) if gross_loss != 0 else None
    )

    by_exit = sorted(
        (
            {"exit_reason": r["exit_reason"], "n": r["n_trades"], "mean_net": r["expectancy"]}
            for r in rows
            if not r["_total"]
        ),
        key=lambda d: d["exit_reason"],
    )

    # equity curve: daily mean net return compounded in log space
    # (reference backtest/portfolio.py:33-112) — the curve itself stays
    # distributed; only the scalar max-drawdown folds on the driver.
    exit_ts = gold.select(
        F.col("event_id").alias("exit_event_id"), F.col("ts").cast("date").alias("exit_date")
    )
    daily = (
        trades.join(exit_ts, "exit_event_id")
        .groupBy("exit_date")
        .agg(F.avg("net_return").alias("day_ret"))
    )
    wd = Window.orderBy("exit_date").rowsBetween(Window.unboundedPreceding, 0)
    curve = daily.select(
        "exit_date",
        F.exp(F.sum(F.log1p(F.col("day_ret"))).over(wd)).alias("equity"),
    ).withColumn("peak", F.max("equity").over(wd))
    dd_row = curve.agg(
        F.round(F.min(F.col("equity") / F.col("peak") - 1.0), 6).alias("max_drawdown"),
        F.count("*").alias("n_equity_days"),
        F.round(F.expr("max_by(equity, exit_date)"), 6).alias("final_equity"),
    ).collect()[0]

    by_reason = [
        {"reason": reason, "n_suppressed": n}
        for reason, n in sorted(suppression.get.items())
        if n
    ]

    return {
        "n_trades": totals["n_trades"],
        "expectancy": totals.get("expectancy"),
        "win_rate": totals.get("win_rate"),
        "net_std": totals.get("net_std"),
        "avg_hold_bars": totals.get("avg_hold_bars"),
        "profit_factor": profit_factor,
        "max_drawdown": dd_row["max_drawdown"],
        "final_equity": dd_row["final_equity"],
        "n_equity_days": int(dd_row["n_equity_days"]),
        "by_exit_reason": by_exit,
        "suppression_by_reason": by_reason,
    }


def run_sensitivity_report(spark, sf_dir: str, output_root: str) -> dict:
    """Sensitivity report twins (reference backtest/sensitivity_reports.py):
    the b10 hold×cost grid ranked by robustness, with the winning combo
    and grid dimensions called out. Derived entirely from the
    oracle-certified b10_sensitivity_grid query."""
    from pipeline_mf_etl_spark.queries import all_queries

    grid = all_queries()["b10_sensitivity_grid"].spark(spark, sf_dir)
    rows = [r.asDict() for r in grid.orderBy(
        F.desc("robustness_score"), "hold_bars", "cost_bps"
    ).collect()]
    report = {
        "n_combos": len(rows),
        "hold_bars_values": sorted({r["hold_bars"] for r in rows}),
        "cost_bps_values": sorted({r["cost_bps"] for r in rows}),
        "best_combo": rows[0] if rows else None,
        "worst_combo": rows[-1] if rows else None,
        "grid": rows,
    }
    write_json_artifact(report, os.path.join(output_root, "sensitivity_report.json"))
    lines = [
        "# Sensitivity report",
        "",
        f"- combos: {report['n_combos']}",
        f"- hold_bars grid: {report['hold_bars_values']}",
        f"- cost_bps grid: {report['cost_bps_values']}",
        f"- best combo: {report['best_combo']}",
        "",
        "## Grid (by robustness)",
        "",
        *_md_table(rows),
    ]
    _write_md(lines, os.path.join(output_root, "sensitivity_report.md"))
    return report


def run_calibration_report(
    spark, sf_dir: str, output_root: str, target_eligibility: float = 0.6
) -> dict:
    """Calibration report twins (reference
    backtest/execution_realism_calibration.py): the b14 threshold sweep
    plus an auto-recommendation — the combo whose eligibility rate lands
    closest to the target band (the reference's recommendation logic)."""
    from pipeline_mf_etl_spark.queries import all_queries

    sweep = all_queries()["b14_calibration_sweep"].spark(spark, sf_dir)
    rows = [r.asDict() for r in sweep.orderBy("price_floor", "dv_floor").collect()]
    rec = min(
        rows,
        key=lambda r: (abs(r["eligibility_rate"] - target_eligibility), r["price_floor"], r["dv_floor"]),
        default=None,
    )
    report = {
        "n_combos": len(rows),
        "target_eligibility": target_eligibility,
        "recommended": rec,
        "sweep": rows,
    }
    write_json_artifact(report, os.path.join(output_root, "calibration_report.json"))
    lines = [
        "# Execution-realism calibration report",
        "",
        f"- combos: {report['n_combos']}",
        f"- target eligibility: {target_eligibility}",
        f"- recommended: {rec}",
        "",
        "## Threshold sweep",
        "",
        *_md_table(rows),
    ]
    _write_md(lines, os.path.join(output_root, "calibration_report.md"))
    return report


def _write_md(lines: list[str], path: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
    os.replace(tmp, path)


def _md_table(rows: list[dict]) -> list[str]:
    if not rows:
        return ["(none)", ""]
    cols = list(rows[0])
    out = [
        "| " + " | ".join(cols) + " |",
        "|" + "|".join("---" for _ in cols) + "|",
    ]
    for r in rows:
        out.append("| " + " | ".join(str(r[c]) for c in cols) + " |")
    out.append("")
    return out


def write_backtest_report(report: dict, output_root: str) -> None:
    """Persist the json + markdown twins atomically (reference writes a
    report.md next to backtest_summary.json for every run)."""
    write_json_artifact(report, os.path.join(output_root, "backtest_report.json"))
    lines = [
        "# Backtest report",
        "",
        "## Totals",
        "",
        f"- trades: {report['n_trades']}",
        f"- expectancy: {report['expectancy']}",
        f"- win rate: {report['win_rate']}",
        f"- net std: {report['net_std']}",
        f"- avg hold (bars): {report['avg_hold_bars']}",
        f"- profit factor: {report['profit_factor']}",
        f"- max drawdown: {report['max_drawdown']}",
        f"- final equity: {report['final_equity']} over {report['n_equity_days']} days",
        "",
        "## By exit reason",
        "",
        *_md_table(report["by_exit_reason"]),
        "## Suppressed signals by reason",
        "",
        *_md_table(report["suppression_by_reason"]),
    ]
    _write_md(lines, os.path.join(output_root, "backtest_report.md"))
