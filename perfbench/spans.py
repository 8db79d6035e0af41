"""Spans and Spark job accounting for the benchmark's traced runs.

A span wraps one public call into the engine. Entering it sets a Spark job
group and description, so every job the call starts (plan-build jobs of
eager queries included) is attributed to it. Spans stay in memory; the
counts are read once at the end of the run:

* jobs, stages and failed tasks from ``SparkContext.statusTracker()``;
* shuffle bytes written and executor run time from Spark's event log,
  which the benchmark switches on through the launch configuration.

Self time is a span's length minus the time its child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, pass_no: int):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "name": name,
            "pass": pass_no,
            "run_id": self.run_id,
            "group": f"{self.run_id}/{pass_no}/{name}",
            "parent": parent["group"] if parent else None,
        }
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["wall_start"] = time.time()
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["wall_end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                clear_job_group(self.sc)
            self.spans.append(sp)

    def collect_status(self) -> None:
        """Attach jobs, stages and failed tasks to every span. Called once
        after the last pass, when the listener bus has drained."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            jobs = tracker.getJobIdsForGroup(sp["group"])
            stages = 0
            failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        stages += 1
                        failed += st.numFailedTasks
            sp["jobs"] = len(jobs)
            sp["stages"] = stages
            sp["tasks_failed"] = failed

    def attach_event_log(self, log_dir: str) -> None:
        """Attach shuffle bytes written and executor run time (seconds)
        from the event log, which is complete once the context stops."""
        stage_group: dict[int, str] = {}
        shuffle: dict[str, int] = defaultdict(int)
        run_ms: dict[str, int] = defaultdict(int)
        logs = [
            os.path.join(d, f)
            for d, _, files in os.walk(log_dir)
            for f in files
            if not f.startswith((".", "appstatus"))
        ]
        for path in logs:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        for sid in ev.get("Stage IDs", ()):
                            stage_group.setdefault(sid, group)
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics") or {}
                        if group is None or not m:
                            continue
                        run_ms[group] += m.get("Executor Run Time", 0)
                        shuffle[group] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
        for sp in self.spans:
            sp["shuffle_bytes"] = shuffle.get(sp["group"], 0)
            sp["executor_run_s"] = run_ms.get(sp["group"], 0) / 1000.0

    def subtree(self, sp: dict) -> list[dict]:
        """``sp`` and every span nested under it."""
        out = [sp]
        for child in self.spans:
            if child["parent"] == sp["group"]:
                out.extend(self.subtree(child))
        return out

    def totals(self, sp: dict) -> dict:
        """Counts of ``sp`` summed over its subtree, plus its self time."""
        tree = self.subtree(sp)
        length = sp["end"] - sp["start"]
        children = [c for c in self.spans if c["parent"] == sp["group"]]
        return {
            "s": length,
            "self_s": length - sum(c["end"] - c["start"] for c in children),
            **{
                k: sum(t.get(k, 0) for t in tree)
                for k in ("jobs", "stages", "tasks_failed", "shuffle_bytes", "executor_run_s")
            },
        }

    def records(self) -> list[dict]:
        """Every span with its self time; ``group`` is the span's id and
        ``parent`` its parent's."""
        return [{**sp, "self_s": self.totals(sp)["self_s"]} for sp in self.spans]


def clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(key, None)
