"""Benchmark entry point.

    python3 perfbench/run.py --workload qf_uniform --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's inputs from ``--seed``
(cached under ``.bench_data/``), starts a cold ``local[4]`` Spark session,
runs the workload as a closed loop for ``--seconds`` after its warm-up
iterations, checks every output, and prints one JSON object as the last
line of stdout. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` reports its per-layer metrics and writes
the spans to ``.bench_work/spans-<workload>-<seed>.json``.

Exits non-zero without a result when the ``curator_spark`` package is not
importable from the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

# untimed warm iterations after the cold first one: JIT keeps improving the
# filter plan over its first passes
WARM_ITERATIONS = {"qf_uniform": 1, "runner_skew_resume": 0}
# one runner cycle (fresh run, kill, resume, probe) outlasts the window
MIN_TIMED = {"qf_uniform": 3, "runner_skew_resume": 1}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _loop(step, name: str, seconds: float, until_n: int, sentinels: list, results: list) -> tuple[int, int]:
    """Closed loop: call ``step`` until ``seconds`` have passed and at least
    ``until_n`` iterations ran. Returns (attempted, failed) iterations;
    ``results`` collects the ones that completed."""
    import harness as h

    failed = 0
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < seconds or i < until_n:
        sentinels.append(h.steal_sentinel())
        try:
            r = step()
        except Exception:  # noqa: BLE001 - a failed iteration is counted, not fatal
            traceback.print_exc()
            failed += 1
        else:
            failed += not r["ok"]
            results.append(r)
            _log(f"[{name}] iteration wall={r['wall']:.3f}s ok={r['ok']}")
        i += 1
    return i, failed


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    try:
        import curator_spark  # noqa: F401
    except ImportError as e:
        _log(f"perfbench: cannot import curator_spark from {root}: {e}")
        return 2
    import gen
    import harness as h
    from workloads import WORKLOADS

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload}")
        return 2
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cpus = sorted(os.sched_getaffinity(0))[: h.CORES]
    os.sched_setaffinity(0, cpus)
    work = h.prepare_env(root)
    data_dir, info = gen.generate(args.workload, args.seed, os.path.join(root, ".bench_data"))

    tracer = h.Tracer(bool(args.trace))
    sentinels: list[float] = []
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = h.start_spark(work)
    get_spark_s = time.perf_counter() - t0
    metrics: dict[str, float] = {}
    try:
        wl = WORKLOADS[args.workload](spark, work, data_dir, info, args.seed, tracer)
        cold, warm, timed = [], [], []
        attempted, failed = 0, 0

        def count(result: tuple[int, int]) -> None:
            nonlocal attempted, failed
            attempted, failed = attempted + result[0], failed + result[1]

        count(_loop(wl.cold, args.workload, 0, 1, sentinels, cold))
        if args.trace:
            # the traced iteration sits between two untraced passes of the
            # set-up step, so the warm-up trend cancels out of the tracing
            # overhead (for the runner that step is a fresh run alone)
            def untraced_pass():
                tracer.enabled = False
                try:
                    return wl.cold()
                finally:
                    tracer.enabled = True

            traced, untraced = [], []
            count(_loop(untraced_pass, args.workload, 0, 1, sentinels, untraced))
            count(_loop(wl.iteration, args.workload, 0, 1, sentinels, traced))
            count(_loop(untraced_pass, args.workload, 0, 1, sentinels, untraced))
            timed = untraced
        else:
            count(_loop(wl.iteration, args.workload, 0, WARM_ITERATIONS[args.workload], sentinels, warm))
            with h.MemorySampler(h.jvm_pid()) as rss:
                count(_loop(wl.iteration, args.workload, args.seconds, MIN_TIMED[args.workload], sentinels, timed))
        count((1, int(not wl.final_check())))
        if not timed:
            raise RuntimeError("no timed iteration completed")
        if args.trace:
            pps = lambda rs: h.median([wl.n / r["wall"] for r in rs])  # noqa: E731
            metrics["session.get_spark_s"] = get_spark_s
            from curator_spark import lm

            with tracer.span("lm.get_lm"):
                t1 = time.perf_counter()
                lm.CharTrigramLM()
                metrics["lm.get_lm_s"] = time.perf_counter() - t1
            metrics["trace.pages_per_s_untraced"] = pps(untraced)
            metrics["trace.pages_per_s_traced"] = pps(traced)
            metrics["trace.overhead_frac"] = pps(untraced) / pps(traced) - 1
            metrics["steal.sentinel_s"] = h.median(sentinels)
            metrics.update(tracer.counts[-1])  # engine numbers of the last traced iteration
            metrics.update(wl.layers(untraced, traced))
            count((len(wl.checks), wl.checks.count(False)))
        else:
            walls = [r["wall"] for r in timed]
            metrics["pages_per_s"] = h.median([wl.n / w for w in walls])
            metrics["resume_s"] = h.median([r["resume"] for r in timed])
            metrics["setup_s"] = get_spark_s + max(cold[0]["wall"] - h.median(walls), 0.0) if cold else get_spark_s
            # the pre-touched heap is a constant; what a change can move is
            # the JVM's off-heap memory and the python workers
            metrics["peak_rss_mb"] = rss.peak_mb - h.DRIVER_MEM_MB
        _log(f"[{args.workload}] steal sentinels: {[round(s, 4) for s in sentinels]}")
    finally:
        h.stop_spark(spark)
        shutil.rmtree(os.path.join(work, "runner"), ignore_errors=True)
    if args.trace:
        tracer.write(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        _log(f"perfbench: metrics not measured: {missing}")
        return 3
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
