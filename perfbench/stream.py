"""The stream_tail workload: tail raw log files with
streaming.start_stream_pipeline(fmt="lines", available_now=False).

A separate generator process (gen.py) renames `<tool>-<seq>.log` files into
the watched directory as an open loop at a fixed rate. Each file is timed
from when it was due until the commit of the micro-batch that holds it (the
mtime of the checkpoint's commit file). Throughput counts committed output
lines, never Spark's numInputRows, which counts every line twice here.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
from collections import defaultdict
from pathlib import Path

from logpipe.streaming import start_stream_pipeline

import check
from batch import generate, nearest_rank
from spans import Tracer, TreeRss, collect_jvm_garbage

FILES_PER_S = 75  # from 14 s on, >= 1000 files: 10 samples beyond p99
LINES_PER_FILE = 30
# warm-up micro-batches before the generator starts: plan compilation,
# worker start and the JVM's first compilations are paid outside the window
WARM_BATCHES = 6
WARM_FILES = 20  # per warm-up batch
GEN = Path(__file__).with_name("gen.py")


def stage_files(spark, seed: int, n_files: int, dest: Path) -> list[dict]:
    """Write n_files files of LINES_PER_FILE lines each: the datagen line mix
    for `seed`, grouped by tool so each file's name tells the router its
    tool. Returns [{name, lines}] in send order."""
    rows = generate(spark, 2 * n_files * LINES_PER_FILE, seed).select("tool", "text").collect()
    dest.mkdir(parents=True, exist_ok=True)
    pending: dict[str, list[str]] = defaultdict(list)
    files: list[dict] = []
    for r in rows:
        lines = pending[r["tool"]]
        lines.append(r["text"])
        if len(lines) == LINES_PER_FILE:
            name = f"{r['tool']}-{len(files):06d}.log"
            (dest / name).write_text("\n".join(lines) + "\n")
            files.append({"name": name, "lines": len(lines)})
            pending[r["tool"]] = []
            if len(files) == n_files:
                return files
    raise RuntimeError(f"staged only {len(files)} of {n_files} files")


def measure(spark, seed: int, seconds: float, work: Path, con, tracer: Tracer | None) -> dict:
    stage_dir, watch, out, ckpt = (work / d for d in ("stage", "watch", "out", "ckpt"))
    watch.mkdir(parents=True)
    n_timed = int(FILES_PER_S * seconds)
    n_warm = WARM_BATCHES * WARM_FILES
    files = stage_files(spark, seed, n_warm + n_timed, stage_dir)
    warm, timed = files[:n_warm], files[n_warm:]
    order = work / "order.json"
    order.write_text(json.dumps(timed))
    ledger_path = work / "ledger.json"

    query = start_stream_pipeline(spark, str(watch), str(out), str(ckpt), fmt="lines", available_now=False)
    problems: list[str] = []
    try:
        watchdog = threading.Timer(120, query.stop)  # a stalled warm-up fails the run
        watchdog.start()
        try:
            for b in range(WARM_BATCHES):
                for rec in warm[b * WARM_FILES : (b + 1) * WARM_FILES]:
                    os.rename(stage_dir / rec["name"], watch / rec["name"])
                query.processAllAvailable()
        finally:
            watchdog.cancel()
        last_warm = query.lastProgress.batchId
        # after the warm-up, unlike the batch workloads: with the GC before
        # the warm-up the ten-seed spread of latency_p99_s was 19-24%, here
        # 11-15%
        collect_jvm_garbage(spark)
        with TreeRss() as mem:
            gen = subprocess.Popen(
                [sys.executable, str(GEN), "--stage", str(stage_dir), "--watch", str(watch),
                 "--order", str(order), "--ledger", str(ledger_path), "--rate", str(FILES_PER_S)]
            )
            try:
                gen.wait(timeout=seconds + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            # files still uncommitted after the drain deadline count as failed
            watchdog = threading.Timer(60, query.stop)
            watchdog.start()
            try:
                query.processAllAvailable()
            except Exception as e:  # the query failed or the watchdog stopped it
                problems.append(f"stream did not drain: {e!r}")
            finally:
                watchdog.cancel()
        progress = [p for p in query.recentProgress if p.batchId > last_warm and p.numInputRows > 0]
    finally:
        query.stop()

    ledger = json.loads(ledger_path.read_text()) if ledger_path.exists() else []
    if len(ledger) != len(timed):
        problems.append(f"generator sent {len(ledger)} of {len(timed)} files")
    commit_at = {}
    for name in os.listdir(ckpt / "commits"):
        if name.isdigit():
            commit_at[int(name)] = os.stat(ckpt / "commits" / name).st_mtime_ns / 1e9
    found = check.stream_files(con, out)
    bad, found_problems = check.check_stream(found, warm + ledger, set(commit_at))
    problems += found_problems
    failed = len(bad) + len(timed) - len(ledger)

    latencies, committed, last_commit = [], 0, 0.0
    batch_rows: dict[int, int] = defaultdict(int)
    for rec in ledger:
        if rec["name"] in bad:
            continue
        batch_id = found[rec["name"]][2]
        t = commit_at[batch_id]
        latencies.append(t - rec["due"])
        committed += rec["lines"]
        batch_rows[batch_id] += rec["lines"]
        last_commit = max(last_commit, t)
    window = last_commit - ledger[0]["due"] if ledger else float("nan")
    result = {
        "attempted": len(timed),
        "failed": failed,
        "problems": problems,
        "samples": len(latencies),
        "turns_per_s": committed / window if committed else 0.0,
        "latency_p50_s": statistics.median(latencies) if latencies else float("nan"),
        "latency_p99_s": nearest_rank(latencies, 0.99) if latencies else float("nan"),
        "peak_rss_mb": mem.peak_mb,
        "committed_rows": committed,
        "files": warm + ledger,
        "gen_late_s_max": max((r["sent"] - r["due"] for r in ledger), default=0.0),
    }
    if tracer is not None:
        result["layers"] = _progress_layers(progress, batch_rows)
        result["out"] = out
    return result


def _progress_layers(progress: list, batch_rows: dict[int, int]) -> dict:
    """streaming.* from the query's recentProgress (per-batch medians, in
    seconds) and Spark's input-row count per committed row."""

    def med(key: str) -> float:
        vals = [p.durationMs.get(key, 0) / 1000 for p in progress]
        return statistics.median(vals) if vals else 0.0

    batch_s = [p.durationMs.get("triggerExecution", 0) / 1000 for p in progress]
    input_rows = sum(p.numInputRows for p in progress)
    committed = sum(batch_rows.get(p.batchId, 0) for p in progress)
    return {
        "streaming.batches": len(progress),
        "streaming.batch_s_p50": statistics.median(batch_s) if batch_s else 0.0,
        "streaming.batch_s_max": max(batch_s, default=0.0),
        "streaming.add_batch_s": med("addBatch"),
        "streaming.latest_offset_s": med("latestOffset"),
        "streaming.planning_s": med("queryPlanning"),
        "streaming.wal_commit_s": med("walCommit"),
        "sources.scan_ratio": input_rows / committed if committed else 0.0,
    }
