"""logpipe benchmark: one command per workload run.

    python3 perfbench/run.py --workload batch_logs --seed 1 --seconds 8 --trace 0

Workloads (see README.md in this directory for why each exists):
  batch_logs       raw transcripts through TranscriptPipeline.run(out_dir=...)
  structured_skew  skewed, pre-parsed rows through routed_parsed + fan_out +
                   the per_sink_counts write
  stream_tail      files renamed into a watched directory by an open-loop
                   generator, tailed by start_stream_pipeline(fmt="lines")

Every run builds the Spark session once, in a fresh process, so setup_s is
the cold get_spark a user's process pays (JVM start plus prewarm). It stages
its inputs from --seed outside the timed region, measures for
--seconds, checks every output with DuckDB and prints, as the last line of
stdout, {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 reports the per-layer metrics and writes the
run's spans to .perfbench_work/trace/. Exits 1 when an output check fails,
2 when the logpipe sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("batch_logs", "structured_skew", "stream_tail")

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
}
# peak RSS is printed with the end-to-end metrics but reported with the
# per-layer ones: the JVM heap's adaptive growth moves it by 6-25% of its
# median between identical runs, too much for a regression bound
PER_LAYER = {
    "peak_rss_mb": "MB",
    "sources.read_s": "s",
    "sources.rows": "count",
    "sources.scan_ratio": "ratio",
    "parse.self_s": "s",
    "parse.rows_in": "count",
    "parse.matched_rows": "count",
    "parse.match_ratio": "ratio",
    "parse.dropped_rows": "count",
    "mask.self_s": "s",
    "mask.redacted_rows": "count",
    "enrich.self_s": "s",
    "enrich.dropped_rows": "count",
    "route.self_s": "s",
    "route.sinks": "count",
    "route.default_rows": "count",
    "aggregate.self_s": "s",
    "aggregate.groups": "count",
    "aggregate.groups_per_row": "ratio",
    "aggregate.shuffle_bytes": "B",
    "aggregate.partition_skew": "ratio",
    "sinks.write_s": "s",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.bytes_per_row": "B/row",
    "streaming.batches": "count",
    "streaming.batch_s_p50": "s",
    "streaming.batch_s_max": "s",
    "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "gen.late_s_max": "s",
    "scaling.efficiency_1_to_n": "ratio",
    "trace.turns_per_s": "1/s",
}


def _environment(tmp: Path) -> None:
    """Spark's JVM and Python workers inherit this environment: the workers
    import logpipe from this checkout, and every scratch file stays inside
    it. Sessions get the defaults users get, so LOGPIPE_* overrides go."""
    tmp.mkdir(parents=True, exist_ok=True)
    for key in [k for k in os.environ if k.startswith("LOGPIPE_")]:
        del os.environ[key]
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )


def _shutdown() -> None:
    """Stop the session and the JVM, and wait for every process Spark
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    from spans import TreeRss

    started = TreeRss.descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    return args


def main() -> int:
    args = _parse_args()
    if not (ROOT / "logpipe" / "__init__.py").is_file():
        print(f"logpipe sources not found under {ROOT}", file=sys.stderr)
        return 2
    ncpu = len(os.sched_getaffinity(0))
    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    _environment(work / "tmp")
    sys.dont_write_bytecode = True
    sys.path.insert(0, str(ROOT))

    from pyspark.sql import SparkSession

    from logpipe.session import get_spark

    import batch
    import check
    import stream
    from spans import Tracer

    def new_session(cores: int):
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        return get_spark("perfbench", master=f"local[{cores}]")

    tracer = Tracer(f"{args.workload}-seed{args.seed}-{time.time_ns()}")
    traced = tracer if args.trace else None
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed, trace=args.trace):
            with tracer.span("setup") as setup:
                spark = new_session(ncpu)
            con = check.connect(work / "duckdb", ncpu)
            with tracer.span("measure"):
                if args.workload == "stream_tail":
                    r = stream.measure(spark, args.seed, args.seconds, work, con, traced)
                else:
                    r = batch.measure(spark, args.workload, args.seed, args.seconds, work, ncpu, con, traced)
            layers = _layers(args, r, spark, new_session, ncpu, work, tracer) if args.trace else {}
    finally:
        _shutdown()
    if args.trace:
        tracer.write(WORK / "trace" / f"{args.workload}-seed{args.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print(
        "spans: " + " ".join(f"{s['name']}={s['dur_s']:.2f}" for s in tracer.spans if s["parent"] in (0, None)),
        file=sys.stderr,
    )

    values = {
        "setup_s": setup["dur_s"],
        "turns_per_s": r["turns_per_s"],
        "latency_p50_s": r["latency_p50_s"],
        "latency_p99_s": r["latency_p99_s"],
    }
    attempted, failed = r["attempted"], r["failed"]
    correct = not r["problems"]
    for p in r["problems"]:
        print(f"check: {p}", file=sys.stderr)
    samples = r.get("samples", len(r.get("walls", ())))
    print(
        f"{args.workload} seed={args.seed}: "
        + " ".join(f"{k}={v:.6g} {END_TO_END[k]}" for k, v in values.items())
        + f" latency_samples={samples} peak_rss_mb={r['peak_rss_mb']:.6g} MB"
        + f" fail_ratio={failed / attempted:.6g} ({failed}/{attempted})"
        + f" correct={correct}"
    )
    if args.trace:
        print(" ".join(f"{k}={v:.6g}" for k, v in layers.items()))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _layers(args, r, spark, new_session, ncpu, work, tracer) -> dict:
    """The traced run's per-layer metrics."""
    import batch
    from logpipe.pipeline import TranscriptPipeline
    from logpipe.sources import read_log_files

    m = {k: 0.0 for k in PER_LAYER}
    if args.workload == "stream_tail":
        # parse/mask/route/sink self times come from the same layer cuts
        # over the stream's files read as one batch; the stream itself
        # gives the streaming.* and output-file figures. Scaling is measured
        # on the batch workloads only and reads 0 here.
        files = str(work / "watch" / "*.log")
        lines = sum(rec["lines"] for rec in r["files"])
        split = batch.layer_split(
            spark, TranscriptPipeline(), read_log_files(spark, files), False, lines, work, tracer,
            rounds=1, with_aggregate=False,
        )
        m.update(split)
        m.update(r["layers"])
        n_bytes, n_files = batch._dir_stats(r["out"])
        m["sinks.bytes_written"], m["sinks.files_written"] = n_bytes, n_files
        m["sinks.bytes_per_row"] = n_bytes / lines
        m["gen.late_s_max"] = r["gen_late_s_max"]
    else:
        split = batch.layer_split(
            spark, r["pipe"], spark.read.parquet(str(r["src"])), args.workload == "structured_skew",
            r["rows"], work, tracer,
        )
        m.update(split)
        m["sources.scan_ratio"] = r["scan_ratio"]

        def job(s):
            batch.run_job(s, batch.pipeline(s), args.workload, r["src"], work / "scale_out")

        m["scaling.efficiency_1_to_n"] = batch.single_core_efficiency(
            new_session, job, ncpu, r["latency_p50_s"], tracer
        )
    m["trace.turns_per_s"] = r["turns_per_s"]
    m["peak_rss_mb"] = r["peak_rss_mb"]
    return m


if __name__ == "__main__":
    sys.exit(main())
