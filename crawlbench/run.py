#!/usr/bin/env python3
"""Crawl benchmark: one workload per invocation, in a fresh process.

    python3 crawlbench/run.py --workload crawls --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` prints the per-layer metrics of one traced pass, plus the
tracing overhead. The last line
of standard output is the result object; the exit code is nonzero when an
output check failed or the run could not start. See crawlbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlbench import common  # noqa: E402

#: monotonic clock reading at this process's start (setup_s counts from it)
PROCESS_START = time.monotonic() - common.process_age_s()


def end_to_end(setup_s: float, passes, peak_rss_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (statistics.median(p.cpu_s for p in passes), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def per_layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def main() -> int:
    from crawlbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a Spark process of a run that just ended may take a moment to exit
    deadline = time.monotonic() + 30
    others = common.live_spark_pids()
    while others and time.monotonic() < deadline:
        time.sleep(0.5)
        others = common.live_spark_pids()
    if others:
        print(f"refusing to start: live Spark processes {others}; stop them "
              "first", file=sys.stderr)
        return 3

    work = os.path.join(common.ROOT, ".crawlbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [common.ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "context": common.load_context()}),
          flush=True)

    # a plain kill must still stop the JVM and the site: unwind through
    # the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tree = common.ProcessTree().start()
    wl = WORKLOADS[args.workload](args.seed, work, tree)
    spark = None
    try:
        t0 = time.monotonic()
        spark = common.build_spark(work)
        wl.spark = spark
        session_s = time.monotonic() - t0
        t0 = time.monotonic()
        wl.build()
        build_s = time.monotonic() - t0
        t0 = time.monotonic()
        wl.warmup()
        warmup_s = time.monotonic() - t0
        setup_s = time.monotonic() - PROCESS_START
        print(json.dumps({"setup_s": setup_s, "session_s": session_s,
                          "build_s": build_s, "warmup_s": warmup_s}),
              flush=True)

        if args.trace:
            from crawlbench.trace import Tracer

            tracer = Tracer(spark, tree)
            tracer.start_event_log(os.path.join(work, "events"))
            tracer.install()
            try:
                traced = wl.run_pass(tracer)
            finally:
                tracer.uninstall()
                tracer.stop_event_log()
            passes = [traced]
            got = dict(traced.layers)
            got.update({
                "pass_s": traced.wall_s,
                "items_per_s": traced.items / traced.wall_s,
                "step_s_p50": statistics.median(traced.steps),
                "setup.session_s": session_s,
                "setup.corpus_s": build_s,
                "setup.warmup_s": warmup_s,
                # the wrappers' own time; the whole cost of tracing is
                # pass_cpu_s of the traced pass against an untraced run's
                "trace.pass_cpu_s": traced.cpu_s,
                "trace.overhead_share": tracer.self_s / traced.wall_s,
            })
            metrics = {}
            for name, unit in per_layer_names():
                if name in got:
                    metrics[name] = (got[name], unit)
                elif name.startswith(wl.NOT_RUN):
                    metrics[name] = (0.0, unit)
                else:
                    # a layer this workload runs but did not measure
                    traced.problems.append(f"per-layer metric {name} missing")
                    traced.failed += 1
                    traced.ops += 1
                    metrics[name] = (0.0, unit)
        else:
            passes = []
            t0 = time.monotonic()
            while not passes or time.monotonic() - t0 < args.seconds:
                passes.append(wl.run_pass())
            metrics = end_to_end(setup_s, passes, tree.peak_rss_mb)
    finally:
        wl.close()
        if spark is not None:
            common.stop_spark(spark)
        tree.stop()
        common.wait_gone([p for p in common.live_spark_pids()
                          if p in tree.seen])
        shutil.rmtree(work, ignore_errors=True)

    for i, p in enumerate(passes):
        print(json.dumps({"pass": i, "wall_s": p.wall_s, "cpu_s": p.cpu_s,
                          "items": p.items,
                          "steps": p.steps, "problems": p.problems}))
    failed = sum(p.failed for p in passes)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sum(p.ops for p in passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def program_present() -> bool:
    return all(os.path.exists(os.path.join(common.ROOT, p)) for p in
               ("suckit_spark/__init__.py", "__spark_entry__.py"))


if __name__ == "__main__":
    if not program_present():
        print("suckit_spark is not in this checkout; nothing to measure",
              file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
