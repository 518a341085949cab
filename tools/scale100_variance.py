"""Factor-100 run-spread diagnosis harness (VERDICT r11 ask #2).

BENCH_scale100_r11.json recorded dedup_candidate_levenshtein's three
factor-100 runs spanning 91.6-224.6 s (2.45x) on the same tree and
layout. This harness reruns the query N times in one instrumented
session and attributes the spread using Spark's own telemetry (the
UI REST API at localhost:4040 — the same numbers the History Server
shows), per run:

- wall_s: end-to-end wall for the noop write
- gc_delta_s: sum of executor totalGCTime deltas across the run
  (driver == executor in local mode) — heap-pressure signal; a slow
  run whose extra wall is ~all GC delta is heap, not plan
- spill_bytes / spill_rows: aggregated from the SQL execution's node
  metrics — memory-pressure-into-disk signal
- plan_digest + aqe_markers: sha1 of the final ADAPTIVE plan with
  volatile ids stripped, plus counts of AQEShuffleRead / skew-join
  markers — a digest that differs across runs = AQE re-planning;
  identical digests = the plan is stable and the spread is ambient
- page_cached_gb: /proc/meminfo Cached before each run — cold/warm
  page-cache signal (runs after the first re-read the same parquet)
- task_time_s / peak_mem: executor aggregate deltas

GC logging: the session JVM also writes -Xlog:gc* to /tmp (flag in
--gc-log), for pause-level forensics beyond the REST totals.

Usage:
    python tools/scale100_variance.py OUT.json [--runs 6]
        [--query dedup_candidate_levenshtein]
        [--dir /tmp/spark_graft_multifile100] [--heap 32g]
        [--partitions 500] [--no-aqe] [--gc-log /tmp/gc_variance.log]

The harness only RECORDS evidence; the attribution verdict (heap fix,
AQE fix, or documented-inherent-variance) is written into the round
artifact by the operator after reading the legs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _api(path: str):
    url = f"http://localhost:4040/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def _app_id() -> str:
    return _api("applications")[0]["id"]


def executor_totals(app: str) -> dict:
    ex = _api(f"applications/{app}/executors")
    return {
        "gc_ms": sum(e.get("totalGCTime", 0) for e in ex),
        "task_ms": sum(e.get("totalDuration", 0) for e in ex),
        "input_bytes": sum(e.get("totalInputBytes", 0) for e in ex),
        "shuffle_read": sum(e.get("totalShuffleRead", 0) for e in ex),
        "shuffle_write": sum(e.get("totalShuffleWrite", 0) for e in ex),
        "peak_jvm_heap": max(
            (e.get("peakMemoryMetrics") or {}).get("JVMHeapMemory", 0)
            for e in ex
        ),
    }


def page_cached_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("Cached:"):
                return round(int(line.split()[1]) / 1024 / 1024, 2)
    return -1.0


_VOLATILE = re.compile(
    r"#\d+L?|plan_id=\d+|Exchange hashpartitioning|id=#\d+"
    r"|rdd_\d+|ExistingRDD\b[^\n]*|Scan ExistingRDD[^\n]*"
    r"|Statistics\([^)]*\)|\[id=\d+\]"
)
_SPILL = re.compile(r"spill size[^:]*: total \(min, med, max[^)]*\)\s*\n?\s*([\d.]+\s*[KMGT]?i?B)")


def _parse_bytes(s: str) -> float:
    m = re.match(r"([\d.]+)\s*([KMGT]?)i?B", s.strip())
    if not m:
        return 0.0
    mult = {"": 1, "K": 2**10, "M": 2**20, "G": 2**30, "T": 2**40}[m.group(2)]
    return float(m.group(1)) * mult


def latest_sql_execution(app: str) -> dict:
    """Newest SQL execution with its final (post-AQE) plan and spill
    totals aggregated from node metric display strings."""
    execs = _api(f"applications/{app}/sql?length=1000&details=true&planDescription=true")
    if not execs:
        return {}
    e = max(execs, key=lambda x: x["id"])
    plan = e.get("planDescription", "")
    digest_src = _VOLATILE.sub("", plan)
    spill_total = 0.0
    for node in e.get("nodes", []) or []:
        for m in node.get("metrics", []) or []:
            if "spill" in m.get("name", "").lower():
                v = m.get("value", "")
                mm = re.search(r"total[^:]*:?\s*([\d.]+\s*[KMGT]?i?B)", v)
                if mm:
                    spill_total += _parse_bytes(mm.group(1))
    return {
        "sql_id": e["id"],
        "duration_ms": e.get("duration", 0),
        "plan_digest": hashlib.sha1(digest_src.encode()).hexdigest()[:12],
        "aqe_shuffle_reads": plan.count("AQEShuffleRead"),
        "skew_markers": plan.count("isSkew") + plan.lower().count("skewed"),
        "spill_bytes": int(spill_total),
        "plan_chars": len(plan),
    }


def stages_since(app: str, min_stage_id: int) -> list[dict]:
    """Completed stages with id >= min_stage_id: wall (submission ->
    completion), executor-run-time total, and the max/median task-time
    skew from the taskSummary quantiles — the straggler signal the
    per-run totals can't show."""
    out = []
    for s in _api(f"applications/{app}/stages?status=COMPLETE"):
        if s["stageId"] < min_stage_id:
            continue
        row = {
            "stage": s["stageId"],
            "name": s.get("name", "")[:60],
            "tasks": s.get("numCompleteTasks"),
            "executor_run_s": round(s.get("executorRunTime", 0) / 1000, 1),
        }
        try:
            q = _api(
                f"applications/{app}/stages/{s['stageId']}/"
                f"{s.get('attemptId', 0)}/taskSummary?quantiles=0.5,1.0"
            )
            rt = q.get("executorRunTime", [0, 0])
            row["task_p50_s"] = round(rt[0] / 1000, 2)
            row["task_max_s"] = round(rt[-1] / 1000, 2)
            sched = q.get("schedulerDelay", [0, 0])
            row["sched_delay_max_s"] = round(sched[-1] / 1000, 2)
        except Exception:
            pass
        out.append(row)
    return sorted(out, key=lambda r: -r["executor_run_s"])[:8]


def max_stage_id(app: str) -> int:
    ids = [s["stageId"] for s in _api(f"applications/{app}/stages")]
    return max(ids) + 1 if ids else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--runs", type=int, default=6)
    ap.add_argument("--query", default="dedup_candidate_levenshtein")
    ap.add_argument("--dir", default="/tmp/spark_graft_multifile100")
    ap.add_argument("--heap", default="32g")
    ap.add_argument("--partitions", default="500")
    ap.add_argument("--no-aqe", action="store_true")
    ap.add_argument("--gc-log", default="/tmp/gc_variance.log")
    ap.add_argument(
        "--java-opt",
        default="",
        help="extra driver JVM flag(s), e.g. -XX:TieredStopAtLevel=1 "
        "for the C1-only control leg (slower but compilation-stable — "
        "isolates JIT state as the variance cause)",
    )
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.heap
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = args.partitions

    from employee_analytics_etl_spark.session import build_session

    extra = {
        "spark.driver.extraJavaOptions": (
            f"-Xlog:gc*:file={args.gc_log}:time,uptime,level,tags"
            + (f" {args.java_opt}" if args.java_opt else "")
        ),
        # build_session disables the UI by default; this harness IS
        # the UI consumer (REST telemetry), so turn it back on.
        "spark.ui.enabled": "true",
    }
    if args.no_aqe:
        extra["spark.sql.adaptive.enabled"] = "false"
    spark = build_session(app_name="scale100-variance", extra_conf=extra)

    from employee_analytics_etl_spark.plans.registry import load_registry

    fn = load_registry()[0][args.query]
    app = _app_id()
    result: dict = {
        "query": args.query,
        "dir": args.dir,
        "heap": args.heap,
        "partitions": args.partitions,
        "aqe": not args.no_aqe,
        "gc_log": args.gc_log,
        "loadavg_start": list(os.getloadavg()),
        "runs": [],
    }
    for i in range(args.runs):
        before = executor_totals(app)
        stage_floor = max_stage_id(app)
        cached = page_cached_gb()
        load = os.getloadavg()[0]
        t0 = time.time()
        fn(spark, args.dir).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        after = executor_totals(app)
        run = {
            "run": i + 1,
            "wall_s": round(wall, 2),
            "gc_delta_s": round((after["gc_ms"] - before["gc_ms"]) / 1000, 2),
            "task_time_delta_s": round(
                (after["task_ms"] - before["task_ms"]) / 1000, 1
            ),
            "input_bytes_delta": after["input_bytes"] - before["input_bytes"],
            "shuffle_write_delta": after["shuffle_write"]
            - before["shuffle_write"],
            "peak_jvm_heap_gb": round(after["peak_jvm_heap"] / 2**30, 2),
            "page_cached_gb_before": cached,
            "loadavg_1m_at_start": round(load, 2),
        }
        run.update(latest_sql_execution(app))
        run["top_stages"] = stages_since(app, stage_floor)
        result["runs"].append(run)
        print(f"[run {i+1}/{args.runs}] {json.dumps(run)}")
    result["loadavg_end"] = list(os.getloadavg())
    walls = [r["wall_s"] for r in result["runs"]]
    result["spread"] = {
        "min_s": min(walls),
        "max_s": max(walls),
        "ratio": round(max(walls) / min(walls), 2),
    }
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f, indent=2)
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
