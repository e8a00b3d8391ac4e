#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload tpch_headline --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Each workload is a
closed loop (one client, one process) against Spark pinned to
``local[nproc]``: set-up (session start, fixture build, a fixed
warm-up) and then a fixed, seeded sequence of timed ops in whole
cycles. ``--seconds`` picks the number of cycles through each
workload's nominal cycle time (with a floor per workload), so the same
arguments always run the same ops. Throughput is the median over the
cycles of each cycle's ops per second, so one cycle stalled by the
host does not set it.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, taken from spans around
the benchmark's calls into each layer and from Spark's status store.
The lines before it list every figure the run measured, by name and
unit. All state lives in a run directory under ``.perfbench_work/``
that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("tpch_headline", "ingest_lakehouse", "lakehouse_dml")

# The write and storage metrics exist only for workloads that write;
# tails, events_per_s and error_frac are in the detail line.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
    "table_bytes_per_row": "B",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.fixture_s": "s",
    "setup.warmup_s": "s",
    **{
        f"spark.{kind}.{name}": unit
        for kind in ("read", "write")
        for name, unit in (
            ("jobs_per_op", "count"),
            ("tasks_per_op", "count"),
            ("in_jobs_ms", "ms"),
            ("outside_jobs_ms", "ms"),
            ("executor_run_ms", "ms"),
            ("shuffle_bytes", "B"),
        )
    },
    "queries.build_ms": "ms",
    "queries.collect_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.trigger_ms": "ms",
    "transforms.clean_route_ms": "ms",
    "manifest_sink.save_ms": "ms",
    "manifest_sink.commit_driver_ms": "ms",
    "manifest_sink.files_per_commit": "count",
    "manifest_sink.log_versions": "count",
    "manifest_sink.read_plan_ms": "ms",
    "manifest_sink.live_tombstones": "count",
    "manifest_sink.bytes_per_row": "B",
    **{
        f"lakehouse_sql.{verb}_{what}": unit
        for verb in ("select", "merge", "delete", "update", "optimize")
        for what, unit in (("ms", "ms"), ("jobs", "count"))
    },
    "rss.python_mb": "MiB",
    "rss.jvm_mb": "MiB",
    "rss.workers_mb": "MiB",
    "trace.ops_per_s": "1/s",
    "trace.overhead_frac": "1",
}


class Context:
    """What a workload sees: the session, its seed and run length, the
    run directory, the tracer, and ``run_op`` to time one op."""

    def __init__(self, spark, run_dir: str, seed: int, seconds: int, tracer):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.ops = harness.OpLog()
        self.fixture_times: list[float] = []
        self.run_failures: list[str] = []
        self.warmup_end: float | None = None
        self.window_end: float | None = None
        self.window_s = 0.0
        self.cycle_ends: list[float] = []
        self._warm = threading.Event()
        self._next_op = 0

    # A workload whose ops run on another thread (the streaming query)
    # marks the phase boundaries itself; otherwise warm-up ends when
    # ``warmup()`` returns and the timed window when ``run()`` returns.
    def end_warmup(self) -> None:
        """Warm-up is over and the timed window opens now."""
        self.warmup_end = time.time()
        self._warm.set()

    def end_window(self) -> None:
        self.window_end = time.time()

    def end_cycle(self) -> None:
        """A timed cycle of the workload's op sequence ends now."""
        self.cycle_ends.append(time.time())

    def wait_warmup(self, query) -> None:
        """Block until ``end_warmup`` is called or ``query`` stops."""
        while not self._warm.wait(0.05):
            if not query.isActive:
                raise RuntimeError(f"stream stopped during warm-up: {query.exception()}")

    def run_op(self, kind: str, name: str, fn, timed: bool, stream_group: str | None = None):
        """Run ``fn`` (which returns whether its result was correct) as
        one op. Timed ops go to the op log; an exception or a wrong
        result counts as a failed op. Inside a streaming query pass the
        query's job group as ``stream_group``: its jobs already carry
        it, so the op's jobs are the group's new ones."""
        op_id = self._next_op
        self._next_op += 1
        trace = timed and self.tracer.enabled
        group = stream_group or f"perfbench-op-{op_id}"
        if trace:
            self.tracer.begin_op(op_id, None if stream_group else group)
        error = None
        start = time.time()
        try:
            ok = bool(fn())
            if not ok:
                error = f"{name}: wrong result"
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            ok, error = False, f"{name}: {type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        end = time.time()
        if trace:
            self.tracer.end_op(op_id, kind, start, end, group)
        if timed:
            self.ops.add(kind, name, start, end, ok, error)
        elif not ok:
            self.run_failures.append(error)
        return ok


def _load_workload(name: str):
    if name == "tpch_headline":
        import tpch as mod
    elif name == "ingest_lakehouse":
        import ingest as mod
    else:
        import dml as mod
    return mod.Workload


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — escalate to a kill below
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, checkout: str, run_dir: str) -> tuple[dict, dict]:
    nproc = len(os.sched_getaffinity(0))
    harness.isolate_environment(checkout, run_dir, nproc)
    env = harness.environment_record(nproc)
    cpu0 = harness.cpu_times()
    spark = None
    with harness.RssSampler() as rss:
        try:
            t0 = time.time()
            spark = harness.start_session(run_dir, nproc)
            spark.sparkContext.setLogLevel("ERROR")
            t_session = time.time() - t0
            tracer = harness.Tracer(spark, enabled=bool(args.trace))
            ctx = Context(spark, run_dir, args.seed, args.seconds, tracer)
            work = _load_workload(args.workload)(ctx)
            work.setup()
            t1 = time.time()
            work.warmup()
            w0 = ctx.warmup_end or time.time()
            t_warm = w0 - t1
            work.run()
            window = ctx.window_s = (ctx.window_end or time.time()) - w0
            extra = work.extra()
        finally:
            if spark is not None:
                stop_spark(spark)
    env["cpu_steal_frac"] = harness.steal_frac(cpu0, harness.cpu_times())
    fixture = harness.median(ctx.fixture_times)
    ops = ctx.ops
    n = len(ops.ops)
    reads, writes = ops.ms("read"), ops.ms("write")
    rates = harness.cycle_rates(w0, ctx.cycle_ends, [o.end for o in ops.ops])
    if not ctx.cycle_ends or any(o.end > ctx.cycle_ends[-1] for o in ops.ops):
        raise RuntimeError("the timed cycles do not cover every timed op")
    ops_per_s = harness.median(rates)
    detail = {
        "env": env,
        "session.start_s": t_session,
        "setup.fixture_s": fixture,
        "setup.fixture_builds": len(ctx.fixture_times),
        "setup.warmup_s": t_warm,
        "run_failures": ctx.run_failures,
        "window_s": window,
        "cycle_ops_per_s": rates,
        "window_ops_per_s": n / window,
        "ops": n,
        "reads": len(reads),
        "writes": len(writes),
        "failed": ops.failed,
        "error_frac": ops.failed / max(n, 1),
        "errors": [o.error for o in ops.ops if o.error][:5],
        "read_p50_ms": harness.median(reads),
        "read_tail": harness.tail(reads),
        "write_p50_ms": harness.median(writes) if writes else None,
        "write_tail": harness.tail(writes),
        **extra.get("detail", {}),
    }
    e2e = {
        "setup_s": t_session + fixture + t_warm,
        "ops_per_s": ops_per_s,
        "read_p50_ms": harness.median(reads),
    }
    if writes:
        e2e["write_p50_ms"] = harness.median(writes)
        e2e["table_bytes_per_row"] = detail["table_bytes_per_row"]
    e2e["peak_rss_mb"] = rss.peak_total / harness.MIB
    if not args.trace:
        return e2e, detail
    layer = {name: 0.0 for name in PER_LAYER}
    layer.update(
        {
            "session.start_s": t_session,
            "setup.fixture_s": fixture,
            "setup.warmup_s": t_warm,
            "queries.build_ms": harness.mean(tracer.span_ms("queries.build")),
            "queries.collect_ms": harness.mean(tracer.span_ms("queries.collect")),
            "rss.python_mb": rss.peak["python"] / harness.MIB,
            "rss.jvm_mb": rss.peak["jvm"] / harness.MIB,
            "rss.workers_mb": rss.peak["workers"] / harness.MIB,
            "trace.ops_per_s": ops_per_s,
            "trace.overhead_frac": tracer.overhead_s / window,
        }
    )
    layer.update(tracer.spark_metrics())
    layer.update(extra.get("layer", {}))
    unknown = set(layer) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return layer, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "olap_project_spark", "__init__.py")):
        print(
            "perfbench: run from the repository root (olap_project_spark/ not found)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, checkout)
    run_dir = harness.make_run_dir(checkout)
    try:
        metrics, detail = measure(args, checkout, run_dir)
    finally:
        harness.remove_run_dir(run_dir)

    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}, default=str))
    for name, value in metrics.items():
        print(f"  {name:34s} {value:14.4f} {units[name]}")
    attempted = detail["ops"]
    failed = detail["failed"]
    correct = attempted > 0 and failed == 0 and not detail["run_failures"]
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
