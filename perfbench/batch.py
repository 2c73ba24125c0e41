"""The two batch workloads.

batch_logs       raw transcripts through TranscriptPipeline.run(out_dir=...):
                 parse, mask, enrich, route, fan-out write, aggregate write.
                 The pandas-UDF parser does most of the work.
structured_skew  power-law conversation sizes, parsed once while staging
                 (the parse-once, store-parsed fast path); the timed job is
                 routed_parsed + fan_out + the per_sink_counts write, so the
                 parser does none of the timed work.

Both are closed loops: one job at a time, the next after the previous one
finished, for the run's seconds.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logpipe import aggregate, mask
from logpipe.datagen import role_dim, tool_dim, transcript_projection
from logpipe.enrich import enrich
from logpipe.parse import parse_text
from logpipe.pipeline import TranscriptPipeline
from logpipe.route import fan_out, resolve_sink

import check
from spans import Tracer, TreeRss, collect_jvm_garbage, stage_counters

TURNS_PER_CONV = 20
BASE_TS = "2024-01-01 00:00:00"
# a multiple of 240 = lcm(12 line templates, 20 turns per conversation), so
# every seed keeps the same template, role and tool mix per row position;
# 100_001 shares no factor with the moduli datagen draws counters, pids,
# addresses and keys from, so those differ between seeds
SEED_STRIDE = 240 * 100_001
ROWS = {"batch_logs": 400_000, "structured_skew": 400_000}
SKEW = 2.5
# untimed jobs before the closed loop: after the one cold session build the
# first two jobs run 35-120% slower while the JVM compiles and sizes its
# heap, and jobs are steady from the fourth on
WARM_JOBS = 3


def seed_offset(seed: int) -> int:
    return seed * SEED_STRIDE


def pipeline(spark: SparkSession) -> TranscriptPipeline:
    return TranscriptPipeline(role_dim=role_dim(spark), tool_dim=tool_dim(spark))


def generate(spark: SparkSession, n: int, seed: int, skew: float | None = None, parts: int = 8) -> DataFrame:
    """n transcript rows for `seed`: the row content comes from
    datagen.transcript_projection at id offset seed * SEED_STRIDE. Event time
    (and, with skew, the conversation) follows the row's position instead,
    so the date-suffixed sinks do not drift with the seed and one golden
    table covers every seed."""
    local = F.col("id")
    i = local + F.lit(seed_offset(seed))
    conv = turn = None
    if skew is not None:
        n_convs = max(n // TURNS_PER_CONV, 1)
        conv = F.floor(F.pow(local / F.lit(float(n)), F.lit(skew)) * n_convs).cast("long")
        turn = F.pmod(i, F.lit(2_000_000_000)).cast("int")
    ts = F.lit(BASE_TS).cast("timestamp_ntz") + F.make_dt_interval(
        F.lit(0), F.lit(0), F.lit(0), F.col("_pos") * F.lit(0.001)
    )
    return (
        spark.range(0, n, 1, parts)
        .select(local.alias("_pos"), *transcript_projection(i, TURNS_PER_CONV, BASE_TS, conv=conv, turn=turn))
        .withColumn("ts", ts)
        .drop("_pos")
    )


def stage(spark: SparkSession, workload: str, n: int, seed: int, dest: Path, parts: int) -> Path:
    """Write the workload's input table; returns the path the timed job reads."""
    skew = SKEW if workload == "structured_skew" else None
    raw = dest / "raw"
    generate(spark, n, seed, skew, parts).write.mode("overwrite").parquet(str(raw))
    if workload == "batch_logs":
        return raw
    parsed = dest / "parsed"
    pipeline(spark).parsed(spark.read.parquet(str(raw))).write.mode("overwrite").parquet(str(parsed))
    return parsed


def run_job(spark: SparkSession, pipe: TranscriptPipeline, workload: str, src: Path, out: Path) -> None:
    """One timed job. structured_skew mirrors TranscriptPipeline.run from
    the routed_parsed entry point."""
    df = spark.read.parquet(str(src))
    if workload == "batch_logs":
        pipe.run(spark, df, out_dir=str(out))
        return
    routed = pipe.routed_parsed(df).persist()
    try:
        fan_out(
            routed.withColumn("fields", F.to_json("fields")),
            f"{out}/routed",
            partition_by_sink=True,
            mode="overwrite",
        )
        pipe.aggregates(routed).write.mode("overwrite").parquet(f"{out}/aggregates")
    finally:
        routed.unpersist()


def closed_loop(seconds: float, job, tracer: Tracer | None = None) -> list[tuple[int, float, Exception | None]]:
    """Run job(k) back to back until `seconds` have passed; at least once.
    Returns (k, wall seconds, exception or None) per job."""
    results = []
    start = time.perf_counter()
    k = 0
    while not results or time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        err = None
        try:
            if tracer is None:
                job(k)
            else:
                with tracer.span("job", k=k):
                    job(k)
        except Exception as e:  # a failed job counts against attempts
            err = e
        results.append((k, time.perf_counter() - t0, err))
        k += 1
    return results


def nearest_rank(values: list[float], q: float) -> float:
    """The q-quantile by the nearest-rank rule (the maximum when fewer
    than 1 / (1 - q) values)."""
    s = sorted(values)
    return s[max(math.ceil(q * len(s)) - 1, 0)]


def measure(spark, workload: str, seed: int, seconds: float, work: Path, ncpu: int, con, tracer: Tracer | None):
    """Stage, warm up, run the closed loop and check every job's output."""
    n = ROWS[workload]
    src = stage(spark, workload, n, seed, work / "input", parts=4 * ncpu)
    pipe = pipeline(spark)
    families = check.expected_families(con, work / "input" / "raw")
    golden = check.load_golden(workload, n)
    # before the warm-up: the first job after a full GC runs slower
    collect_jvm_garbage(spark)
    for _ in range(WARM_JOBS):
        run_job(spark, pipe, workload, src, work / "warm")
        shutil.rmtree(work / "warm")
    sc = spark.sparkContext
    sc.setJobGroup("timed", "closed loop")
    with TreeRss() as mem:
        results = closed_loop(seconds, lambda k: run_job(spark, pipe, workload, src, work / f"out{k}"), tracer)
    sc.setJobGroup("untimed", "checks")
    scan = stage_counters(spark, "timed")
    problems: list[str] = []
    if golden is None:
        problems.append(f"no golden entry for {workload} at {n} rows: {check.batch_summary(con, work / 'out0')}")
    walls = []
    failed = 0
    for k, wall, err in results:
        out = work / f"out{k}"
        found = [f"job {k} raised {err!r}"] if err else check.check_batch(con, out, families, golden)
        # removed while young: on a disk mounted with discard, unlinking
        # files whose blocks were written back takes seconds per job
        shutil.rmtree(out, ignore_errors=True)
        if found:
            failed += 1
            problems.extend(found)
        else:
            walls.append(wall)
    median = statistics.median(walls) if walls else float("nan")
    return {
        "rows": n,
        "attempted": len(results),
        "failed": failed,
        "problems": problems,
        "walls": walls,
        "turns_per_s": n / median,
        "latency_p50_s": median,
        "latency_p99_s": nearest_rank(walls, 0.99) if walls else float("nan"),
        "peak_rss_mb": mem.peak_mb,
        "scan_ratio": scan["input_records"] / (n * len(results)),
        "src": src,
        "pipe": pipe,
    }


# ---------------------------------------------------------------------------
# traced layer split
# ---------------------------------------------------------------------------


def layer_prefixes(pipe: TranscriptPipeline, df: DataFrame, parsed_input: bool) -> tuple[list, dict]:
    """The fused plan cut at each layer's public function, in the order
    TranscriptPipeline.routed_parsed composes them: [(layer, frame)], each
    frame extending the previous one. Observations count rows where the work
    happens; they fire on the last frame's action."""
    obs = {name: Observation(name) for name in ("parse", "mask", "enrich", "route")}
    cuts = [("sources", df)]
    if not parsed_input:
        df = parse_text(df, pipe.ruleset, source_col="tool").observe(
            obs["parse"],
            F.count(F.lit(1)).alias("rows_out"),
            F.sum(F.col("matched").cast("long")).alias("matched"),
        )
        cuts.append(("parse", df))
    if not pipe.carry_text and "text" in df.columns:
        df = df.drop("text")
    df = mask.mask_content(df.withColumn("_pre_mask", F.col("message")), cols=["message"])
    df = df.observe(
        obs["mask"],
        F.count(F.lit(1)).alias("rows"),
        F.sum((~F.col("message").eqNullSafe(F.col("_pre_mask"))).cast("long")).alias("redacted"),
    ).drop("_pre_mask")
    cuts.append(("mask", df))
    if pipe.role_dim is not None:
        df = enrich(df, pipe.role_dim, on="role", prefix="role_")
    if pipe.tool_dim is not None:
        df = enrich(df, pipe.tool_dim, on="tool", prefix="tool_")
    df = df.observe(obs["enrich"], F.count(F.lit(1)).alias("rows_out"))
    cuts.append(("enrich", df))
    df = resolve_sink(
        df,
        mapper=pipe.mapper,
        source_col="log_source",
        default_index=pipe.default_index,
        drop_unrouted=pipe.drop_unrouted,
    ).observe(
        obs["route"],
        F.count(F.lit(1)).alias("rows"),
        F.sum((F.col("sink") == F.lit(pipe.default_index)).cast("long")).alias("default_rows"),
    )
    cuts.append(("route", df))
    return cuts, obs


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: Path) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
    return n_bytes, n_files


def layer_split(
    spark, pipe: TranscriptPipeline, source: DataFrame, parsed_input: bool, rows_in: int,
    work: Path, tracer: Tracer, rounds: int = 2, with_aggregate: bool = True,
) -> dict:
    """Per-layer self times from noop actions over the plan prefixes (each
    layer's span minus its prefix's span, the fastest of `rounds`), plus
    counts at each boundary. One untimed action over the full prefix first
    warms the workers and the shared stages. Layers the workload does not
    run report zero."""
    sc = spark.sparkContext
    cuts, obs = layer_prefixes(pipe, source, parsed_input)
    routed = cuts[-1][1]
    agg = aggregate.per_sink_counts(routed)
    sinks_dir = work / "layer_sinks"
    sink_names: list[str] = []
    best: dict[str, float] = {}

    def timed(name: str, action) -> None:
        with tracer.span(f"{name}.cut") as s:
            action()
        best[name] = min(best.get(name, float("inf")), s["dur_s"])

    def write_sinks() -> None:
        fan_out(
            routed.withColumn("fields", F.to_json("fields")),
            str(sinks_dir),
            sinks=sink_names,
            partition_by_sink=True,
            mode="overwrite",
        )

    with tracer.span("layers"):
        _noop(routed)
        sink_names.extend(sorted(r["sink"] for r in routed.select("sink").distinct().collect()))
        for k in range(rounds):
            for layer, df in cuts:
                timed(layer, lambda: _noop(df))
            timed("sinks", write_sinks)
            if with_aggregate:
                if k == rounds - 1:
                    sc.setJobGroup("layer_aggregate", "aggregate cut")
                timed("aggregate", lambda: _noop(agg))
                sc.setJobGroup("untimed", "layer counts")
    m: dict[str, float] = {"parse.self_s": 0.0, "aggregate.self_s": 0.0}
    prev = 0.0
    for layer, _ in cuts:
        m[f"{layer}.self_s"] = best[layer] - prev
        prev = best[layer]
    m["sources.read_s"] = m.pop("sources.self_s")
    m["sinks.write_s"] = best["sinks"] - prev
    routed_rows = obs["route"].get["rows"]
    parse_out = rows_in if parsed_input else obs["parse"].get["rows_out"]
    matched = 0 if parsed_input else obs["parse"].get["matched"]
    n_bytes, n_files = _dir_stats(sinks_dir)
    m.update(
        {
            "sources.rows": rows_in,
            "parse.rows_in": 0 if parsed_input else rows_in,
            "parse.matched_rows": matched,
            "parse.match_ratio": 0.0 if parsed_input else matched / rows_in,
            "parse.dropped_rows": rows_in - parse_out,
            "mask.redacted_rows": obs["mask"].get["redacted"],
            "enrich.dropped_rows": obs["mask"].get["rows"] - obs["enrich"].get["rows_out"],
            "route.sinks": len(sink_names),
            "route.default_rows": obs["route"].get["default_rows"] or 0,
            "sinks.bytes_written": n_bytes,
            "sinks.files_written": n_files,
            "sinks.bytes_per_row": n_bytes / routed_rows,
            "aggregate.groups": 0,
            "aggregate.groups_per_row": 0.0,
            "aggregate.shuffle_bytes": 0,
            "aggregate.partition_skew": 0.0,
        }
    )
    if with_aggregate:
        m["aggregate.self_s"] = best["aggregate"] - prev
        shuffle = stage_counters(spark, "layer_aggregate")
        groups = agg.count()
        task_bytes = shuffle["post_shuffle_task_bytes"]
        med = statistics.median(task_bytes) if task_bytes else 0
        m.update(
            {
                "aggregate.groups": groups,
                "aggregate.groups_per_row": groups / routed_rows,
                "aggregate.shuffle_bytes": shuffle["shuffle_write_bytes"],
                "aggregate.partition_skew": max(task_bytes) / med if med else 0.0,
            }
        )
    return m


def single_core_efficiency(new_session, job, ncpu: int, wall_n: float, tracer: Tracer) -> float:
    """Parallel efficiency (T1 / Tn) / n of job(spark), given its warm wall
    time Tn on local[ncpu]: the job runs twice on a new local[1] session
    and the second run is T1. Leaves the local[1] session active."""
    with tracer.span("scaling.setup"):
        spark = new_session(1)
    job(spark)
    with tracer.span("scaling.job", cores=1) as s:
        job(spark)
    return s["dur_s"] / (ncpu * wall_n)
