"""The benchmark's workloads: generated inputs, one pass, output checks.

A pass is what one user invocation does. Its calls go through the
package's public functions only, and each call's output is reduced to a
digest: the row count and ``bit_xor(xxhash64(...))`` over every column,
with floating-point columns rounded to 6 decimals first so a legitimate
change of summation order is not a failure.

* ``medallion``: ``pipeline.run_pipeline`` over a generated ``events``
  table. The traced variant composes the same public stage functions in
  ``run_pipeline``'s order, one span per stage, and must produce the same
  digests.
* ``corpus``: the MinHash pair export, four corpus queries through the
  query registry, and six codec decoders over payloads the generator
  encodes and persists.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import nullcontext
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen

# d2_minhash_lsh is left out: its MinHash chain is exactly the pair export,
# which the cold pass runs and times as ``export``
CORPUS_QUERIES = (
    "d7_curation_waterfall",
    "g1_pagerank_neardup",
    "t12_bpe_tokenize",
    "r1_bm25_topk",
)
CODECS = ("jpeg", "flac", "vp8l", "zstd", "bzip2", "xz")
MEDALLION_STAGES = ("bronze", "silver", "gold", "research", "backtest", "report", "summary")
LAYER_DIRS = ("bronze", "silver", "gold", "research", "trades")
SUMMARY_KEYS = (
    "rows_total",
    "rows_valid",
    "rows_invalid",
    "total_errors",
    "total_warns",
    "n_trades",
    "expectancy",
    "win_rate",
)


def hash_column(df: DataFrame):
    cols = [
        F.round(F.col(c).cast("double"), 6) if t in ("double", "float") else F.col(c)
        for c, t in df.dtypes
    ]
    return F.xxhash64(*cols).alias("h")


def digest(df: DataFrame) -> list:
    """[rows, bit_xor of row hashes] — executes the whole plan."""
    row = df.select(hash_column(df)).agg(F.count("h"), F.expr("bit_xor(h)")).collect()[0]
    return [int(row[0]), int(row[1] or 0)]


def tree_bytes(path: str, since: float = 0.0, until: float = float("inf")) -> int:
    """Bytes of the files under ``path`` last modified in [since, until]
    (``time.time()`` values)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if since <= st.st_mtime <= until:
                total += st.st_size
    return total


def cpu_seconds(root_pid: int) -> float:
    """User plus system CPU seconds used so far by this process and by
    ``root_pid`` (the driver JVM) with every live descendant (its Python
    workers), reaped children included. Host steal time is not in it."""
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        used[int(name)] = sum(int(f) for f in fields[11:15])
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        ticks += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()


def _codec_fns():
    from pipeline_mf_etl_spark.operators.flac import decode_flac_features, with_flac_payload
    from pipeline_mf_etl_spark.operators.multimodal import (
        decode_jpeg_color_features,
        with_jpeg_color_payload,
    )
    from pipeline_mf_etl_spark.operators.vp8l import (
        decode_webp_lossless_features,
        with_webp_lossless_payload,
    )
    from pipeline_mf_etl_spark.sources.bzip2 import extract_bzip2_documents, with_bzip2_payload
    from pipeline_mf_etl_spark.sources.xz import extract_xz_documents, with_xz_payload
    from pipeline_mf_etl_spark.sources.zstdframe import extract_zstd_documents, with_zstd_payload

    return {
        "jpeg": (with_jpeg_color_payload, decode_jpeg_color_features),
        "flac": (with_flac_payload, decode_flac_features),
        "vp8l": (with_webp_lossless_payload, decode_webp_lossless_features),
        "zstd": (with_zstd_payload, extract_zstd_documents),
        "bzip2": (with_bzip2_payload, extract_bzip2_documents),
        "xz": (with_xz_payload, extract_xz_documents),
    }


class Workload:
    """One workload's inputs and passes. ``run_pass`` returns the pass's
    per-call digests and the calls that failed."""

    name = ""

    def __init__(self, spark, root: str, seed: int, sizes: dict, export_root: str):
        self.spark = spark
        self.export_root = export_root
        self.root = root
        self.seed = seed
        self.sizes = sizes
        self.input_dir = os.path.join(root, "input")
        self.out_dir = os.path.join(root, "out")
        self.input = {"rows": 0, "bytes": 0}
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def fresh(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.input_dir)


class Medallion(Workload):
    name = "medallion"

    def generate(self) -> None:
        self.fresh()
        self.input = gen.write_events(
            self.seed, self.input_dir, self.sizes["rows"], self.sizes["users"]
        )

    def run_pass(self, pass_no: int, tracer=None) -> dict:
        from pipeline_mf_etl_spark.pipeline import run_pipeline

        t0, c0 = time.perf_counter(), cpu_seconds(self.jvm_pid)
        if tracer is None:
            summary = run_pipeline(
                self.spark, self.input_dir, self.out_dir, run_id=f"pass-{pass_no}"
            )
        else:
            summary = self._composed(pass_no, tracer)
        seconds = time.perf_counter() - t0
        cpu = cpu_seconds(self.jvm_pid) - c0
        digests, failures = self.check(summary)
        out = {
            "s": seconds,
            "cpu_s": cpu,
            "ops": 1 if tracer is None else len(MEDALLION_STAGES),
            "digests": digests,
            "failures": failures,
            "bytes_written": tree_bytes(self.out_dir),
        }
        if tracer is not None:
            # the next pass overwrites these files, so measure them now
            out["stage_bytes"] = {
                sp["name"]: tree_bytes(self.out_dir, sp["wall_start"], sp["wall_end"])
                for sp in tracer.spans
                if sp["pass"] == pass_no and sp["name"] in MEDALLION_STAGES
            }
        return out

    def check(self, summary: dict) -> tuple[dict, list[str]]:
        """Layer digests read back from disk, the summary values, and the
        run invariants."""

        def hashed(layer: str) -> DataFrame:
            df = self.spark.read.parquet(os.path.join(self.out_dir, layer))
            return df.select(F.lit(layer).alias("layer"), hash_column(df))

        rows = (
            reduce(DataFrame.unionByName, [hashed(layer) for layer in LAYER_DIRS])
            .groupBy("layer")
            .agg(F.count("h").alias("n"), F.expr("bit_xor(h)").alias("x"))
            .collect()
        )
        digests = {r["layer"]: [int(r["n"]), int(r["x"])] for r in rows}
        digests["summary"] = [summary.get(k) for k in SUMMARY_KEYS]
        with open(os.path.join(self.out_dir, "backtest_report.json"), encoding="utf-8") as fh:
            report = fh.read()
        digests["report"] = hashlib.sha256(report.encode("utf-8")).hexdigest()[:16]

        failures = []
        if summary["rows_total"] != self.input["rows"]:
            failures.append("rows_total != generated rows")
        if summary["rows_valid"] + summary["rows_invalid"] != summary["rows_total"]:
            failures.append("rows_valid + rows_invalid != rows_total")
        if digests.get("trades", [None])[0] != summary["n_trades"]:
            failures.append("read-back trades != n_trades")
        return digests, failures

    def _composed(self, pass_no: int, tracer) -> dict:
        """``run_pipeline``'s body, one span per stage, through the same
        public stage functions. The digest check holds it to the same
        outputs as ``run_pipeline``."""
        from pipeline_mf_etl_spark.config import load_settings
        from pipeline_mf_etl_spark.pipeline import (
            _read_layer,
            backtest_layer,
            bronze_layer,
            gold_layer,
            research_layer,
            silver_layer,
            trade_metrics,
        )
        from pipeline_mf_etl_spark.reports import build_backtest_report, write_backtest_report
        from pipeline_mf_etl_spark.sources.readers import load_table
        from pipeline_mf_etl_spark.sources.writers import (
            write_csv_twin,
            write_json_artifact,
            write_partitioned,
        )

        spark, out = self.spark, self.out_dir
        s = load_settings()
        paths = {layer: os.path.join(out, layer) for layer in LAYER_DIRS}

        def downcast(df: DataFrame, width: str) -> DataFrame:
            if width == "double":
                return df
            for c, t in df.dtypes:
                if t == "double":
                    df = df.withColumn(c, F.col(c).cast(width))
            return df

        def layer(name, df, width):
            write_partitioned(downcast(df, width), paths[name], ["event_year"])
            return _read_layer(spark, paths[name], df)

        t0 = time.monotonic()
        with tracer.span("pass", pass_no):
            with tracer.span("bronze", pass_no):
                ev = load_table(spark, self.input_dir, "events")
                bronze = layer("bronze", bronze_layer(ev), s.precision.bronze_float)
            with tracer.span("silver", pass_no):
                silver = layer("silver", silver_layer(bronze), s.precision.silver_float)
            with tracer.span("gold", pass_no):
                gold = layer("gold", gold_layer(silver, s), s.precision.gold_float)
            with tracer.span("research", pass_no):
                research = research_layer(gold)
                research.coalesce(1).write.mode("overwrite").parquet(paths["research"])
                write_csv_twin(research, paths["research"] + "_csv")
            with tracer.span("backtest", pass_no):
                trades, suppression = backtest_layer(gold, s)
                trades.write.mode("overwrite").option("compression", "zstd").parquet(
                    paths["trades"]
                )
                trades = _read_layer(spark, paths["trades"], trades)
            with tracer.span("report", pass_no):
                metric_row = trade_metrics(trades).collect()[0].asDict()
                report = build_backtest_report(trades, gold, suppression)
                write_backtest_report(report, out)
            with tracer.span("summary", pass_no):
                quality = silver.agg(
                    F.count("*").alias("rows_total"),
                    F.coalesce(F.sum(F.col("is_valid_row").cast("long")), F.lit(0)).alias(
                        "rows_valid"
                    ),
                    F.coalesce(F.sum(F.col("quality_error_count")), F.lit(0)).alias(
                        "total_errors"
                    ),
                    F.coalesce(F.sum(F.col("quality_warn_count")), F.lit(0)).alias(
                        "total_warns"
                    ),
                ).collect()[0]
                summary = {
                    "run_id": f"pass-{pass_no}",
                    "sf_dir": self.input_dir,
                    "duration_sec": round(time.monotonic() - t0, 3),
                    "rows_total": int(quality["rows_total"]),
                    "rows_valid": int(quality["rows_valid"]),
                    "rows_invalid": int(quality["rows_total"] - quality["rows_valid"]),
                    "total_errors": int(quality["total_errors"]),
                    "total_warns": int(quality["total_warns"]),
                    "n_trades": int(metric_row["n_trades"]),
                    "expectancy": metric_row["expectancy"],
                    "win_rate": metric_row["win_rate"],
                    "settings": {
                        "hold_bars": s.backtest.hold_bars,
                        "fee_bps_per_side": s.backtest.fee_bps_per_side,
                        "slippage_bps_per_side": s.backtest.slippage_bps_per_side,
                        "ewm_span": s.indicators.ewm_span,
                    },
                    "outputs": paths,
                }
                write_json_artifact(summary, os.path.join(out, "run_summary.json"))
        return summary


class Corpus(Workload):
    name = "corpus"

    def generate(self) -> None:
        """Documents, then every codec's payloads for ``payload_docs`` more
        documents, encoded by the package's ``with_*_payload`` functions in
        one Spark job and persisted, so the passes time decoding only."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pipeline_mf_etl_spark.sources.readers import load_table

        self.fresh()
        docs = gen.write_documents(self.seed, self.input_dir, self.sizes["docs"])
        src_dir = os.path.join(self.root, "payload_src")
        gen.write_documents(self.seed, src_dir, self.sizes["payload_docs"], stream=3)
        src = load_table(self.spark, src_dir, "documents")
        encoded = reduce(
            DataFrame.unionByName,
            [
                encode(src).select("doc_id", F.lit(codec).alias("codec"), "payload")
                for codec, (encode, _) in _codec_fns().items()
            ],
        ).toPandas()
        self.payload_bytes = {}
        files = self.spark.sparkContext.defaultParallelism
        for codec, part in encoded.groupby("codec"):
            path = self.payload_dir(codec)
            os.makedirs(path)
            table = pa.table(
                {
                    "doc_id": pa.array(part["doc_id"], pa.int64()),
                    "payload": pa.array(part["payload"], pa.binary()),
                }
            )
            # one file per core, as a sharded payload store would hold them
            for i in range(files):
                shard = table.take(list(range(i, len(table), files)))
                pq.write_table(shard, os.path.join(path, f"part-{i}.parquet"))
            self.payload_bytes[codec] = int(sum(len(b) for b in part["payload"] if b is not None))
        self.input = {
            "rows": docs["rows"],
            "bytes": docs["bytes"] + tree_bytes(os.path.join(self.root, "payload")),
            "payload_rows": len(encoded),
        }

    def payload_dir(self, codec: str) -> str:
        return os.path.join(self.root, "payload", codec)

    def run_pass(self, pass_no: int, tracer=None) -> dict:
        from pipeline_mf_etl_spark.queries import all_queries
        from pipeline_mf_etl_spark.queries.dedup import verified_pairs_export
        from pipeline_mf_etl_spark.sources.readers import fan_out

        spark, specs = self.spark, all_queries()
        span = (lambda name: tracer.span(name, pass_no)) if tracer else (lambda name: nullcontext())
        digests: dict = {}
        failures: list[str] = []
        timings: dict = {}
        wall0 = time.time()

        def call(name, build, execute=digest):
            t0 = time.perf_counter()
            try:
                with span(name):
                    with span(name + ".build"):
                        df = build()
                    t1 = time.perf_counter()
                    with span(name + ".exec"):
                        digests[name] = execute(df)
            except Exception as exc:  # a failed call is counted, the pass goes on
                failures.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
                return
            t2 = time.perf_counter()
            timings[name] = {"build_s": t1 - t0, "exec_s": t2 - t1}

        t0, c0 = time.perf_counter(), cpu_seconds(self.jvm_pid)
        with span("pass"):
            call("export", lambda: verified_pairs_export(spark, self.input_dir))
            for q in CORPUS_QUERIES:
                call(q, lambda q=q: specs[q].spark(spark, self.input_dir))
            for codec, (_, decode) in _codec_fns().items():
                call(
                    codec,
                    lambda c=codec, d=decode: d(fan_out(spark.read.parquet(self.payload_dir(c)))),
                )
        seconds = time.perf_counter() - t0
        cpu = cpu_seconds(self.jvm_pid) - c0
        return {
            "s": seconds,
            "cpu_s": cpu,
            "ops": 1 + len(CORPUS_QUERIES) + len(CODECS),
            "digests": digests,
            "failures": failures,
            "timings": timings,
            # the corpus calls write only through the package's export directory
            "bytes_written": tree_bytes(self.export_root, since=wall0),
        }


WORKLOADS = {"medallion": Medallion, "corpus": Corpus}
