"""Crawl, harvest and analytics benchmark for cinescrapers_spark.

    python3 perfbench/run.py --workload harvest --seed 1 --seconds 15 --trace 0

Builds nothing: it imports the engine from the checkout it sits in and
drives it through its public entry points with inputs made from ``--seed``.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run also
prints a ``layers`` line with the per-layer breakdown of its workload and
leaves its spans under ``.perfbench_out``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import pb_spark  # noqa: E402

sys.path.insert(1, pb_spark.REPO)

WORKLOADS = ("crawl", "harvest", "analytics")
# The codec mix crawl/harvest.py names for bench use. webp is left out: it
# takes ~0.2 s to encode one image.
HARVEST_FORMATS = "qimg,ppm,png,jpeg,jpeg_prog"

END_TO_END = {
    "setup_s": "s",
    "core_s": "s",
    "payload_s": "s",
    "rate_per_s": "1/s",
}
SPARK_LAYER = {
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "deserialize_s": "s",
    "slot_idle_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_skew": "ratio",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "shuffle_records": "count",
    "spill_bytes": "bytes",
    "input_bytes": "bytes",
    "output_bytes": "bytes",
}
PER_LAYER = {
    "session.start_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
    "step.driver_s": "s",
    **{f"spark.{k}": u for k, u in SPARK_LAYER.items()},
    "mem.peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def check_checkout() -> None:
    """Exit non-zero, before starting anything, when the engine's sources
    are not in this checkout."""
    missing = [
        p for p in ("cinescrapers_spark/crawl/engine.py", "__spark_entry__.py")
        if not os.path.isfile(os.path.join(pb_spark.REPO, p))
    ]
    if missing:
        print(f"perfbench: engine sources not found in {pb_spark.REPO}: {missing}", file=sys.stderr)
        sys.exit(2)


def layer_metrics(res: dict, tracer, rdir: str, peak_rss_kb: int) -> tuple[dict, dict]:
    """(generic per-layer metrics, the workload's detailed layer table)."""
    jobs = pb_spark.read_event_log(rdir)
    spans = tracer.spans
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in by_name.get(name, []))

    steps = by_name["step"]
    n = len(steps)
    m0, m1 = min(s["start"] for s in steps), max(s["end"] for s in steps)
    win_jobs = [j for j in jobs if m0 <= j["submit"] <= m1]
    spark = pb_spark.spark_totals(win_jobs, m1 - m0, pb_spark.slots())
    covered = sum(pb_spark.jobs_covered_s(jobs, s["start"], s["end"]) for s in steps)
    generic = {
        "session.start_s": total("session.start"),
        "setup.inputs_s": total("setup.inputs"),
        "setup.warmup_s": total("setup.warmup"),
        "step.driver_s": (sum(s["end"] - s["start"] for s in steps) - covered) / n,
        **{f"spark.{k}": v / n if k != "task_skew" else v for k, v in spark.items()},
        "mem.peak_rss_mb": peak_rss_kb / 1024.0,
    }
    # per labelled call, keyed by phase (the top-level span it ran under)
    # so warm-up, measured and checking calls stay apart
    attributed = pb_spark.attribute_jobs(spans, jobs)
    per_call: dict[str, dict] = {}
    for s in spans:
        if s["name"] in ("measure", "step") or s["name"].startswith("group."):
            continue
        top = s
        while top["parent"] is not None:
            top = spans[top["parent"]]
        key = s["name"] if top is s else f"{top['name']}/{s['name']}"
        rec = per_call.setdefault(key, {"calls": 0, "wall_s": 0.0, "jobs": []})
        rec["calls"] += 1
        rec["wall_s"] += s["end"] - s["start"]
        rec["jobs"].extend(attributed[s["id"]])
    spark_by_call = {
        key: {
            "calls": r["calls"],
            "wall_s": r["wall_s"],
            **pb_spark.spark_totals(r["jobs"], r["wall_s"], pb_spark.slots()),
        }
        for key, r in per_call.items()
    }
    detail = dict(res.get("layers", {}))
    detail["spark_by_call"] = spark_by_call
    return generic, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    check_checkout()
    trace = bool(args.trace)
    rdir = pb_spark.run_dir(args.workload, args.seed, trace)
    tracer = pb_spark.Tracer(trace)
    env = {"CINESCRAPERS_HARVEST_FORMATS": HARVEST_FORMATS} if args.workload == "harvest" else {}
    rss = pb_spark.RssSampler() if trace else None
    if rss:
        rss.__enter__()
    spark = None
    try:
        with tracer.span("session.start"):
            spark = pb_spark.start_session(rdir, trace, env)
        if args.workload == "analytics":
            import pb_analytics

            res = pb_analytics.run(spark, rdir, args.seed, args.seconds, tracer, T_START)
        else:
            import pb_crawl

            res = pb_crawl.run(
                spark, rdir, args.workload, args.seed, args.seconds, tracer, T_START
            )
    finally:
        if spark is not None:
            pb_spark.stop_session(spark)
        if rss:
            rss.__exit__(None, None, None)

    for f in res["failures"]:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    if trace:
        generic, detail = layer_metrics(res, tracer, rdir, rss.peak_kb)
        tracer.dump(os.path.join(rdir, "spans.jsonl"))
        with open(os.path.join(rdir, "layers.json"), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        for sub in ("tmp", "warehouse", "data"):
            shutil.rmtree(os.path.join(rdir, sub), ignore_errors=True)
        print("layers " + json.dumps(detail, default=str))
        metrics = {k: {"value": generic[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        shutil.rmtree(rdir, ignore_errors=True)
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
