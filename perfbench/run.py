"""Seeded benchmark of the full-text engine.

    python3 perfbench/run.py --workload search_hot --seed 1 --seconds 12 --trace 0

Run from the repository root. Prints one line per metric (name, value,
unit, sample count) and, as the last line of standard output, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run traces every other operation (search workloads) or every
other pass (batch_analytics) and reports the per-layer numbers of the
traced ones. Every run works in a fresh directory under ``.perfbench/``
that is removed at exit; a traced run leaves its spans in
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path[:0] = [HERE, CHECKOUT]

WORKLOADS = ("search_hot", "search_cold", "batch_analytics")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def fmt(name: str, value, unit: str, n: int) -> str:
    return f"{name} {value:.6g} {unit} n={n}"


def latency_lines(prefix: str, secs: list[float], quantiles=(0.5, 0.9)) -> list[str]:
    """Median and p90 of ``secs`` in ms; p90 is refused below 100 samples."""
    from tracer import percentile

    out = []
    for q in quantiles:
        name = f"{prefix}_p{round(q * 100)}_ms"
        try:
            v, n = percentile(secs, q)
            out.append(fmt(name, v * 1000, "ms", n))
        except ValueError as exc:
            out.append(f"{name} refused: {exc}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import sparkfulltextquery_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not importable from {CHECKOUT}: {exc}", file=sys.stderr)
        return 2

    # JVM and library chatter must not reach stdout, whose last line is
    # the result: point fd 1 at stderr until the result is printed
    sys.stdout.flush()
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        lines, result = run(args)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


def run(args) -> tuple[list[str], dict]:
    import harness
    import workloads as W
    from tracer import Tracer, self_times

    base = os.path.join(CHECKOUT, ".perfbench")
    root = harness.RunRoot(base)
    tracer = Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(root, len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t0
        ctx = W.Ctx(spark, root, args.seed, tracer, bool(args.trace))
        wl = (
            W.Batch(ctx)
            if args.workload == "batch_analytics"
            else W.Search(ctx, hot=args.workload == "search_hot")
        )
        t0 = time.perf_counter()
        setup = wl.setup()
        setup_s = session_s + time.perf_counter() - t0
        log(f"session {session_s:.2f}s, setup {setup_s - session_s:.2f}s")
        wl.warmup()
        if args.trace and wl.cold_timed:
            # the cold pass runs untraced; one traced and one untraced warm
            # pass follow
            wl.run(0)
        tracer.spans.clear()

        gc0 = harness.gc_ms(spark)
        if args.trace and wl.cold_timed:
            (a, wa), (b, wb) = wl.run(0), wl.run(0)
            records, wall = a + b, wa + wb
        else:
            records, wall = wl.run(args.seconds)
        gc_ms = harness.gc_ms(spark) - gc0
        py_mb, jvm_mb = harness.peak_rss_mb(spark)
        n = len(records)
        log(f"timed {n} operations in {wall:.2f}s; peak RSS {py_mb:.0f} MB python, {jvm_mb:.0f} MB JVM")

        bad = [r for r in records if r.error or not wl.check(r)]
        oracle_bad = wl.oracle_failures()
        failed = len(bad) + len(oracle_bad)
        for r in bad[:5]:
            log(f"FAILED op {r.op} {r.item!r}: {r.error or 'wrong result'}")
        if oracle_bad:
            log(f"FAILED against the DuckDB oracle: {oracle_bad}")

        if args.trace:
            ok = [r for r in records if not r.error]
            traced = [r for r in ok if wl.traced(r.op)]
            plain = [r for r in ok if not wl.traced(r.op)]
            jobs, tasks, task_failures = ctx.spark_counts(traced)
            metrics = {
                "session.start_s": (session_s, "s"),
                **wl.layer_metrics(traced, setup),
                "spark.jobs_per_op": (jobs / len(traced), "count"),
                "spark.tasks_per_op": (tasks / len(traced), "count"),
                "spark.task_failures": (task_failures, "count"),
                "jvm.gc_ms_per_op": (gc_ms / n, "ms"),
                "trace.overhead_frac": (
                    statistics.fmean(r.end - r.start for r in traced)
                    / statistics.fmean(r.end - r.start for r in plain)
                    - 1.0,
                    "ratio",
                ),
            }
            lines = [fmt(k, v, u, len(traced)) for k, (v, u) in metrics.items()]
            lines += [
                fmt(f"self_s.{name}", secs, "s", count)
                for name, (secs, count) in sorted(self_times(tracer.spans).items())
            ]
            tracer.write(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                **wl.end_to_end(records, wall),
                "peak_rss_mb": (py_mb + jvm_mb, "MB"),
            }
            lines = [fmt(k, v, u, 1 if k == "setup_s" else n) for k, (v, u) in metrics.items()]
            lat = [r.end - r.start for r in records]
            lines.append(fmt("latency_mean_ms", statistics.fmean(lat) * 1000, "ms", n))
            lines.append(fmt("qps", n / wall, "1/s", n))
            lines.append(fmt("failed_frac", failed / n, "ratio", n))
        for prefix, secs in wl.latencies(records).items():
            if secs:
                # skip a median already among the metrics above
                done = f"{prefix}_p50_ms" in metrics
                lines += latency_lines(prefix, secs, (0.9,) if done else (0.5, 0.9))
        lines += [f"setup.{k} {v:.6g}" for k, v in setup.items()]
        return lines, {
            "correct": failed == 0,
            "attempted": n,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            harness.stop_session(spark)
        root.close()


if __name__ == "__main__":
    sys.exit(main())
