#!/usr/bin/env python
"""Time one or more declared queries in isolation with the noop sink
(guide §1.4): build the plan, then ``write.format("noop")`` so every
column of every row is computed and discarded — no sink cost, no
column pruning. Prints per-query build (driver/eager) and execute
seconds over N runs (min + all samples), and each run's Janino
compile count (classes the generated-class cache did not hold). A warm
run that still compiles means the working set outgrew
``spark.sql.codegen.cache.maxEntries``.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/profile_query.py d7_curation_waterfall [more...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipeline_mf_etl_spark.queries import all_queries  # noqa: E402
from pipeline_mf_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    runs = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_query")
    specs = all_queries()
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()
    # session warmup on the smallest sf (same rationale as bench.py)
    specs["a1_grouped_stats"].spark(spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    out = {}
    for name in names:
        spec = specs[name]
        build_s, exec_s, compiled = [], [], []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"{name}: build")
            c0 = compiles.getCount()
            t0 = time.perf_counter()
            df = spec.spark(spark, sf_dir)
            t1 = time.perf_counter()
            spark.sparkContext.setJobDescription(f"{name}: execute")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build_s.append(round(t1 - t0, 3))
            exec_s.append(round(t2 - t1, 3))
            compiled.append(compiles.getCount() - c0)
        out[name] = {
            "build_min": min(build_s),
            "exec_min": min(exec_s),
            "build_all": build_s,
            "exec_all": exec_s,
            "compiles_all": compiled,
        }
        print(json.dumps({name: out[name]}))
    print(json.dumps({"profile": out}))


if __name__ == "__main__":
    main()
