#!/usr/bin/env python3
"""Engine benchmark: one workload, one fresh process, one JSON result.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 20 --trace 0

Run from the repository root. The load is a closed loop with one client:
one driver thread on ``local[<cores>]`` makes one call at a time into the
package's public functions, the next only after the previous returns.

A run sets up once (see ``setup_probe.py``), generates the workload's
input from ``--seed``, then makes passes: the first is the cold pass, the
later ones the warm passes, until ``--seconds`` have passed and at least
one warm pass ran.
Every pass's outputs are digested and checked against the first pass and
against ``digests.json`` where a digest is recorded for the seed at these
input sizes.

``--trace 0`` prints the end-to-end metrics, measured with tracing off:
set-up seconds, the median warm pass in CPU seconds, and write
amplification.
``--trace 1`` switches on Spark's event log, traces every other pass with
spans (see ``spans.py``) and prints the per-layer metrics. Per-layer
metrics of a call the workload does not make read 0.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
The line before it summarises the run; the full record, spans included,
is written to ``.artifacts/perfbench/reports/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import resource
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import setup_probe  # noqa: E402

WORK = os.path.join(ROOT, ".artifacts", "perfbench")
EXPORT_ROOT = os.path.join(ROOT, ".artifacts", "ml_export")

# Sized so a run (set-up, generation, cold pass, one warm pass) stays
# under about a minute on a 4-core host, so fifty runs take under an
# hour. At these sizes per-job latency, not data volume, dominates every
# pass, as it does at sf0.1; set-up alone (a fresh JVM and its first
# query) is about 20 s.
SIZES = {
    "medallion": {"rows": 5_000, "users": 75},
    "corpus": {"docs": 600, "payload_docs": 60},
}
MIN_WARM = 1
# a traced run alternates untraced and traced warm passes; with the
# untraced ones on both sides of a traced one, the overhead estimate is not
# skewed by warm passes still speeding up
MIN_WARM_TRACED = 3
# no new pass starts once the run is this old and the next pass would
# likely end past it, so a run always ends well inside 180 s
DEADLINE_S = 150.0

# A pass's cost is reported in CPU seconds (user + system of the driver,
# its JVM and the JVM's Python workers), the figure `time` prints as
# user + sys. Measured on a shared 4-core VM, wall-clock passes spread by
# a fifth to a quarter between runs (host steal time) and cold passes by
# a tenth or more even in CPU seconds (JIT and code generation), so wall
# times and the cold pass are per-layer figures of the traced run.
END_TO_END = {
    "setup_s": "s",
    "warm_cpu_s": "s",
    "write_amp": "ratio",
}


def _per_layer() -> dict:
    from workloads import CODECS, MEDALLION_STAGES

    names = {"session.start_s": "s", "session.warm_s": "s"}
    for st in MEDALLION_STAGES:
        names.update(
            {
                f"medallion.{st}.s": "s",
                f"medallion.{st}.jobs": "count",
                f"medallion.{st}.stages": "count",
                f"medallion.{st}.bytes_written": "bytes",
                f"medallion.{st}.shuffle_bytes": "bytes",
                f"medallion.{st}.core_util": "ratio",
            }
        )
        if st not in ("report", "summary"):
            names[f"medallion.{st}.rows_out"] = "count"
    names.update({"corpus.export.s": "s", "corpus.export.jobs": "count"})
    for q in ("d7", "g1", "t12"):
        names.update({f"corpus.{q}.build_s": "s", f"corpus.{q}.build_jobs": "count"})
    names.update(
        {
            "corpus.r1.exec_s": "s",
            "corpus.r1.exec_jobs": "count",
            "corpus.r1.exec_stages": "count",
            "corpus.r1.shuffle_bytes": "bytes",
        }
    )
    for c in CODECS:
        names.update(
            {
                f"codec.{c}.decode_s": "s",
                f"codec.{c}.decode_MBps": "MB/s",
                f"codec.{c}.rows": "count",
                f"codec.{c}.payload_bytes": "bytes",
            }
        )
    for w in SIZES:
        names.update(
            {
                f"{w}.cold_s": "s",
                f"{w}.cold_cpu_s": "s",
                f"{w}.warm_s": "s",
                f"{w}.warm_jobs": "count",
                f"{w}.tasks_failed": "count",
                f"{w}.peak_rss_mb": "MB",
            }
        )
    names["trace.overhead_s"] = "s"
    return names


PER_LAYER = _per_layer()


def jvm_peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError("VmHWM missing from /proc status")


def check_digests(workload: str, seed: int, sizes: dict, passes: list[dict]) -> None:
    """Append a failure to every pass whose digests differ from the first
    completed pass's or from the digests recorded for this seed and input
    size."""
    with open(os.path.join(HERE, "digests.json"), encoding="utf-8") as fh:
        book = json.load(fh).get(workload, {})
    recorded = book.get("seeds", {}).get(str(seed)) if book.get("sizes") == sizes else None
    done = [p for p in passes if p.get("digests")]
    if not done:
        return
    first = json.loads(json.dumps(done[0]["digests"]))
    for p in done:
        got = json.loads(json.dumps(p["digests"]))
        for ref, label in ((first, "first pass"), (recorded, "recorded")):
            if ref is None:
                continue
            bad = sorted(k for k in set(ref) | set(got) if ref.get(k) != got.get(k))
            p["failures"] += [f"{k}: digest differs from the {label}" for k in bad]


def median(values):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def per_layer_metrics(wl, tracer, passes, setup, cores, peak_rss_mb) -> dict:
    """Per-layer values from the traced passes: medians over the traced
    warm passes, the export from the cold pass."""
    from workloads import CODECS, CORPUS_QUERIES, MEDALLION_STAGES

    values = dict.fromkeys(PER_LAYER, 0.0)
    values["session.start_s"] = setup["start_s"]
    values["session.warm_s"] = setup["warm_s"]
    traced_warm = [k for k, p in enumerate(passes) if k > 0 and p["traced"]]
    by_pass = {}
    for sp in tracer.spans:
        by_pass.setdefault(sp["pass"], {})[sp["name"]] = sp

    def med(name, key, ks=traced_warm):
        out = []
        for k in ks:
            sp = by_pass.get(k, {}).get(name)
            if sp is not None:
                t = tracer.totals(sp)
                out.append(t[key] if key in t else sp.get(key, 0))
        return median(out)

    untraced = [p["s"] for k, p in enumerate(passes) if k > 0 and not p["traced"]]
    values[f"{wl.name}.cold_s"] = passes[0]["s"] or 0.0
    values[f"{wl.name}.cold_cpu_s"] = passes[0].get("cpu_s", 0.0)
    values[f"{wl.name}.warm_s"] = median(untraced)
    values[f"{wl.name}.warm_jobs"] = med("pass", "jobs")
    values[f"{wl.name}.peak_rss_mb"] = peak_rss_mb
    values[f"{wl.name}.tasks_failed"] = sum(
        tracer.totals(sp)["tasks_failed"] for sp in tracer.spans if sp["name"] == "pass"
    )
    values["trace.overhead_s"] = median(passes[k]["s"] for k in traced_warm) - median(untraced)

    if wl.name == "medallion":
        rows_of = {"backtest": "trades"}
        for st in MEDALLION_STAGES:
            pre = f"medallion.{st}."
            s = med(st, "s")
            for key in ("s", "jobs", "stages", "shuffle_bytes"):
                values[pre + key] = med(st, key)
            values[pre + "core_util"] = med(st, "executor_run_s") / (s * cores) if s else 0.0
            values[pre + "bytes_written"] = median(
                p.get("stage_bytes", {}).get(st) for k, p in enumerate(passes) if k in traced_warm
            )
            if pre + "rows_out" in values:
                values[pre + "rows_out"] = passes[0]["digests"].get(rows_of.get(st, st), [0])[0]
    else:
        values["corpus.export.s"] = med("export", "s", [0])
        values["corpus.export.jobs"] = med("export", "jobs", [0])
        for q in CORPUS_QUERIES:
            short = q.split("_")[0]
            if f"corpus.{short}.build_s" in values:
                values[f"corpus.{short}.build_s"] = med(q + ".build", "s")
                values[f"corpus.{short}.build_jobs"] = med(q + ".build", "jobs")
            if f"corpus.{short}.exec_s" in values:
                values[f"corpus.{short}.exec_s"] = med(q + ".exec", "s")
                values[f"corpus.{short}.exec_jobs"] = med(q + ".exec", "jobs")
                values[f"corpus.{short}.exec_stages"] = med(q + ".exec", "stages")
                values[f"corpus.{short}.shuffle_bytes"] = med(q + ".exec", "shuffle_bytes")
        for c in CODECS:
            s = med(c, "s")
            values[f"codec.{c}.decode_s"] = s
            values[f"codec.{c}.payload_bytes"] = wl.payload_bytes[c]
            values[f"codec.{c}.decode_MBps"] = wl.payload_bytes[c] / s / 1e6 if s else 0.0
            values[f"codec.{c}.rows"] = passes[0]["digests"].get(c, [0])[0]
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run(args.workload, args.seed, args.seconds, bool(args.trace), SIZES[args.workload])


def run(workload: str, seed: int, seconds: float, trace: bool, sizes: dict) -> int:
    event_dir = os.path.join(WORK, "eventlog") if trace else None
    if event_dir:
        import shutil

        shutil.rmtree(event_dir, ignore_errors=True)
    conf = setup_probe.launch_env(WORK, event_dir)
    spark, setup = setup_probe.ready_session(os.path.join(WORK, "warmup"))
    sc = spark.sparkContext

    from spans import Tracer
    from workloads import WORKLOADS

    run_id = f"{workload}-s{seed}-{os.getpid()}"
    wl = WORKLOADS[workload](spark, os.path.join(WORK, workload), seed, sizes, EXPORT_ROOT)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0
    tracer = Tracer(sc, run_id) if trace else None

    passes: list[dict] = []
    min_warm = MIN_WARM_TRACED if trace else MIN_WARM
    t0 = time.perf_counter()
    while True:
        k = len(passes)
        traced = tracer is not None and k % 2 == 0
        # every pass starts from a collected heap on both sides of the gateway
        gc.collect()
        sc._jvm.System.gc()
        try:
            p = wl.run_pass(k, tracer if traced else None)
        except Exception as exc:  # a failed pass is counted, not fatal
            traceback.print_exc()
            p = {"s": None, "ops": 1, "digests": {}, "failures": [repr(exc)[:500]]}
            if k == 0:
                passes.append({**p, "traced": traced})
                break
        p["traced"] = traced
        passes.append(p)
        warm = len(passes) - 1
        last = p["s"] or 0.0
        if warm >= min_warm and time.perf_counter() - t0 >= seconds:
            break
        if warm >= 1 and setup_probe.since_process_start() + 1.5 * last > DEADLINE_S:
            break

    check_digests(workload, seed, sizes, passes)
    attempted = sum(p["ops"] for p in passes)
    failed = sum(min(p["ops"], len(p["failures"])) for p in passes)
    cores = sc.defaultParallelism
    info = {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "cpus": os.cpu_count(),
        "cores": cores,
        "spark_version": spark.version,
        "python": platform.python_version(),
        "input": wl.input,
        "generate_s": gen_s,
        "setup": setup,
        "passes": [
            {k: v for k, v in p.items() if k not in ("digests",)} for p in passes
        ],
        "spark_graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "launch_conf": conf,
        "spark_conf": dict(sc.getConf().getAll()),
    }

    # the driver JVM's peak resident set plus this process's
    peak_rss_mb = (
        jvm_peak_rss_kb(wl.jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    ) / 1024.0
    if trace:
        tracer.collect_status()
        setup_probe.shutdown(spark)
        tracer.attach_event_log(event_dir)
        metrics = per_layer_metrics(wl, tracer, passes, setup, cores, peak_rss_mb)
        info["spans"] = tracer.records()
    else:
        setup_probe.shutdown(spark)
        warm = [p["cpu_s"] for p in passes[1:] if p["s"] is not None]
        values = {
            "setup_s": setup["start_s"] + setup["warm_s"],
            "warm_cpu_s": median(warm),
            "write_amp": passes[0].get("bytes_written", 0) / wl.input["bytes"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        info["samples"] = {"setup_s": 1, "warm_cpu_s": len(warm)}
    info["digests"] = passes[0].get("digests")
    info["metrics"] = metrics

    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    report = os.path.join(WORK, "reports", f"{workload}-seed{seed}-trace{int(trace)}.json")
    with open(report, "w", encoding="utf-8") as fh:
        json.dump(info, fh, indent=1, default=str)
    summary = {k: info[k] for k in ("cpus", "spark_version", "input", "generate_s")}
    summary["passes_s"] = [p["s"] for p in passes]
    summary["failures"] = [f for p in passes for f in p["failures"]]
    summary["report"] = os.path.relpath(report, ROOT)
    print(json.dumps({"info": summary}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
