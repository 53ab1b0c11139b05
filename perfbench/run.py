"""Run one benchmark workload against the engine and print one JSON line.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 8 --trace 0

Run it from the repository root. Everything the run writes lives under
``.perfbench_work/`` there and is removed at the end. The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``;
with ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. Everything else (JVM logs, the workload's own
metric names, the trace summary) goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOTS = 2
SETUP_REPS = 3

#: end-to-end metrics: name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _tree_peak_rss_mb() -> float:
    """Sum of peak resident sizes (VmHWM) of this process and every live
    descendant: the Python driver, the driver JVM, its Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _session(work: str):
    from bookstore_aws_lakehouse_spark.session import get_spark

    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{SLOTS}]",
        shuffle_partitions=SLOTS,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.default.parallelism": str(SLOTS),
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # a fixed-size heap: resident size then follows the work, not
            # the collector's heap-growth decisions
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                             f"-Dderby.system.home={work}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _loop(wl, ctx, seconds: float) -> list:
    """Closed loop, one client: the next op starts when the last returns.
    Only op time counts toward ``seconds``; checks run between ops."""
    from perfbench.workloads import Rec

    recs: list[Rec] = []
    busy = 0.0
    while busy < seconds or len(recs) % wl.pass_len:
        i = len(recs)
        op = wl.op(ctx, i)
        error = None
        with ctx.tracer.op(i), ctx.tracer.span(op.kind, "op"):
            t0 = time.perf_counter()
            try:
                out = op.run()
            except Exception as exc:  # the op failed: count it, keep the loop going
                out, error = None, f"{op.kind}: {type(exc).__name__}: {exc}"
            dt = time.perf_counter() - t0
        if error is None:
            try:
                error = op.check(out)
            except Exception as exc:
                error = f"{op.kind} check: {type(exc).__name__}: {exc}"
        if error:
            print(f"perfbench: op {i} failed: {error}", file=sys.stderr)
        recs.append(Rec(op.kind, dt, op.write, error))
        busy += dt
    return recs


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import LAYER_METRICS, WORKLOADS, Ctx, tail

    wl = WORKLOADS[workload]()
    work = f"{ROOT}/.perfbench_work/{workload}-s{seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = f"{work}/tmp"
    # the launcher JVM spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work)
        session_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        from bookstore_aws_lakehouse_spark.engine import Engine

        stage_dir = f"{work}/stage"
        engine = Engine(spark=spark, sf_dir=stage_dir)
        registry_s = time.perf_counter() - t0

        ctx = Ctx(spark, engine, Tracer(spark), seed, work, stage_dir, SLOTS, scale)
        stage_s = []
        for _ in range(SETUP_REPS):
            shutil.rmtree(stage_dir, ignore_errors=True)
            t0 = time.perf_counter()
            wl.stage(ctx, stage_dir)
            stage_s.append(time.perf_counter() - t0)
        wl.prepare(ctx)  # checking machinery: not part of set-up
        t0 = time.perf_counter()
        wl.warm(ctx)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + registry_s + statistics.median(stage_s) + warm_s

        if trace:
            ctx.tracer.start()
            wl.instrument(ctx)
        recs = _loop(wl, ctx, seconds)
        peak_rss = _tree_peak_rss_mb()

        lat = [r.seconds for r in recs]
        failed = sum(r.error is not None for r in recs)
        by_kind: dict[str, list[float]] = {}
        for r in recs:
            by_kind.setdefault(r.kind, []).append(r.seconds)
        detail = {"workload": workload, "seed": seed, "ops": len(recs),
                  "latencies_s": [round(x, 4) for x in lat],
                  "kind_p50_s": {k: round(statistics.median(v), 4) for k, v in by_kind.items()},
                  "failed_frac": failed / len(recs), "setup_stage_s": stage_s,
                  "session_s": session_s, "registry_s": registry_s, "warmup_s": warm_s}
        detail.update(wl.detail(recs))
        if trace:
            ctx.tracer.collect()
            metrics = {k: 0.0 for k in LAYER_METRICS}
            metrics.update(wl.layers(ctx, recs))
            metrics["session.start_s"] = session_s
            metrics["session.warmup_s"] = warm_s
            # span bookkeeping is the only work tracing adds inside ops; the
            # wrapped py4j counter adds one integer increment per call
            metrics["trace.overhead_frac"] = ctx.tracer.bookkeeping_s / sum(lat)
            ctx.tracer.dump(f"{ROOT}/.perfbench_work/trace-{workload}-s{seed}.json")
            out_metrics = {k: {"value": float(metrics[k]), "unit": LAYER_METRICS[k][0]}
                           for k in LAYER_METRICS}
        else:
            tail_v, tail_pct, _ = tail(lat)
            detail.update(op_tail_s=tail_v, op_tail_pct=tail_pct)
            # a workload whose steps form a fixed cycle (pass_len > 1) is
            # timed per cycle: a median over steps of very different kinds
            # sits in the gaps between them and jumps from run to run
            k = wl.pass_len
            passes = [sum(lat[j:j + k]) for j in range(0, len(lat), k)]
            detail.update(pass_latencies_s=[round(x, 4) for x in passes])
            values = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(passes),
                "ops_per_s": len(passes) / sum(lat),
                "peak_rss_mb": peak_rss,
            }
            out_metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        wl.close(ctx)
        print("perfbench detail: " + json.dumps(detail), file=sys.stderr)
        bad = [k for k, m in out_metrics.items() if not math.isfinite(m["value"])]
        if bad:
            raise RuntimeError(f"non-finite metrics: {bad}")
        return {"correct": failed == 0, "attempted": len(recs), "failed": failed,
                "metrics": out_metrics}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier; below 1 only for smoke tests")
    args = p.parse_args(argv)
    import bookstore_aws_lakehouse_spark  # noqa: F401  (the engine must be importable)

    # JVM and library output goes to stderr; stdout carries only the result
    stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    stdout.write(json.dumps(result) + "\n")
    stdout.flush()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
