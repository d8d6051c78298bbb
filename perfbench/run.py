"""Repository benchmark: seeded closed-loop workloads against the
engine's public functions.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One client drives ``local[N]`` with N
the number of CPUs this process may use. A run generates (or reuses)
the seed's inputs under ``.bench_build/perfbench/``, sets the engine
up from a cold JVM, warms up, then runs whole cycles of the workload's
operations for ``--seconds``, checking every result. The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
See perfbench/README.md for the workloads and metrics; ``--smoke``
shrinks the inputs for the benchmark's own test (perfbench/test_smoke.py).
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")

# (name, unit) of every end-to-end metric, in output order
END_TO_END = [
    ("rows_per_s", "1/s"),
    ("query_p50_s", "s"),
    ("query_p90_s", "s"),
    ("queries_per_s", "1/s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
]
# driver JVM heap limit: small, the machine is shared
DRIVER_MEM = "2g"
# untimed whole cycles before measuring: JIT and the Python workers
# take several operations to settle
WARMUP_S = 5.0


def _steal(a: list[int], b: list[int]) -> tuple[int, int]:
    """(steal, steal + busy) jiffies between two /proc/stat reads."""
    d = [y - x for x, y in zip(a, b)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return d[7], d[7] + busy


def _peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) of this process and every
    live descendant: the driver JVM and the Python workers it forks."""
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(pid)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    me = os.getpid()
    tree = {me}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    kib = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
        except OSError:
            continue
    return kib / 1024.0


def _start_session(ncpu: int, trace: bool):
    from cdr_analysis_tools_hadoop_spark.session import build_session

    local = os.path.join(CACHE, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = build_session(
        "perfbench",
        master=f"local[{ncpu}]",
        extra_conf={
            # the status-store REST API is only needed by the traced run
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit, which it
    does when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Runner:
    """Runs and checks operations, counting attempts and failures."""

    def __init__(self, wl, cpu_jiffies):
        self.wl = wl
        self.cpu_jiffies = cpu_jiffies
        self.attempted = 0
        self.failed = 0

    def op(self, spark, tracer, op) -> dict:
        """One checked operation: its wall time, rows and steal."""
        self.attempted += 1
        tracer.op_id = self.attempted
        a = self.cpu_jiffies()
        ok = False
        with tracer.span(f"op.{self.wl.name}") as s:
            try:
                result = self.wl.run(spark, op, tracer)
                ok = True
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                traceback.print_exc()
        steal, total = _steal(a, self.cpu_jiffies())
        if ok:
            try:
                ok = self.wl.check(op, result)
            except Exception:  # noqa: BLE001 — a malformed result is a wrong one
                traceback.print_exc()
                ok = False
            if not ok:
                print(f"perfbench: wrong output for {self.wl.name} op {op!r}", file=sys.stderr)
        self.failed += not ok
        return {
            "op": op, "s": s.duration, "rows": self.wl.rows(op), "ok": ok,
            "steal": steal, "jiffies": total,
        }

    def cycles(self, spark, tracer, seconds: float) -> list[dict]:
        """Whole cycles until ``seconds`` have passed (at least one)."""
        recs = []
        t0 = time.perf_counter()
        while True:
            recs += [self.op(spark, tracer, op) for op in self.wl.cycle()]
            if time.perf_counter() - t0 >= seconds:
                break
        return recs


def _unstolen_s(r: dict) -> float:
    """An operation's wall time less the share of it the host stole:
    steal ÷ (steal + busy) jiffies over the operation, from
    /proc/stat. A shared host steals up to a fifth of the CPU for
    minutes at a time; without this a run in such a stretch reads as a
    slower program."""
    return r["s"] * (1.0 - r["steal"] / max(r["jiffies"], 1))


def _op_latency(recs: list[dict]) -> dict:
    """Each operation's median unstolen time over its correct samples
    (over all of them when none was correct): one stray slow sample
    moves it little, and every cycle operation counts once whatever
    its number of samples."""
    by_op: dict = {}
    for r in [r for r in recs if r["ok"]] or recs:
        by_op.setdefault(r["op"], []).append(_unstolen_s(r))
    return {op: statistics.median(ts) for op, ts in by_op.items()}


def _end_to_end(wl, latency: dict, setup_s: float, rss: float) -> dict:
    times = sorted(latency.values())
    p90 = statistics.quantiles(times, n=10, method="inclusive")[8] if len(times) > 1 else times[0]
    cycle_s = sum(times)
    return {
        "rows_per_s": sum(wl.rows(op) for op in wl.cycle()) / cycle_s,
        "query_p50_s": statistics.median(times),
        "query_p90_s": p90,
        "queries_per_s": len(wl.cycle()) / cycle_s,
        "setup_s": setup_s,
        "peak_rss_mb": rss,
    }


def _steal_pct(recs: list[dict]) -> float:
    return 100.0 * sum(r["steal"] for r in recs) / max(1, sum(r["jiffies"] for r in recs))


def run(args) -> dict:
    import bench
    import layers
    import workloads

    sizes = workloads.SMOKE if args.smoke else workloads.FULL
    t_start = time.perf_counter()
    wl = workloads.prepare(args.workload, args.seed, CACHE, sizes)
    phases = {"prepare": time.perf_counter() - t_start}
    ncpu = len(os.sched_getaffinity(0))
    runner = Runner(wl, bench._cpu_jiffies)
    trace = bool(args.trace)
    quiet = layers.Tracer(None, enabled=False)

    # set-up: JVM launch and session build, then the first operation
    # with its cold Python workers and JIT
    t0 = time.perf_counter()
    spark = _start_session(ncpu, trace)
    build_s = time.perf_counter() - t0
    runner.op(spark, quiet, wl.cycle()[0])
    setup_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        while True:
            for op in wl.cycle():
                runner.op(spark, quiet, op)
            phases["warmup"] = time.perf_counter() - t0
            if args.smoke or phases["warmup"] >= WARMUP_S:
                break
        if not trace:
            recs = runner.cycles(spark, quiet, args.seconds)
            metrics = _end_to_end(wl, _op_latency(recs), setup_s, _peak_rss_mb())
            units = dict(END_TO_END)
        else:
            # untraced then traced halves of the same run: their gap is
            # the tracing overhead
            plain = runner.cycles(spark, quiet, args.seconds / 2)
            tracer = layers.Tracer(spark.sparkContext, enabled=True)
            traced = runner.cycles(spark, tracer, args.seconds / 2)
            cycle_spans = list(tracer.spans)
            # trace-only operations: warmed up once untraced like the
            # cycle's, then traced; their jobs stay out of the
            # per-operation Spark metrics
            for op in wl.trace_only():
                runner.op(spark, quiet, op)
            extra = [runner.op(spark, tracer, op) for op in wl.trace_only()]
            per_op = layers.spark_op_metrics(spark, cycle_spans)
            metrics = {k: 0.0 for k, _u in layers.PER_LAYER}
            for k in per_op[0] if per_op else ():
                metrics[k] = statistics.median(m[k] for m in per_op)
            metrics.update(layers.span_metrics(tracer.spans))
            metrics.update(layers.kernel_probes(spark, wl))
            metrics["session.build_s"] = build_s
            metrics["host.steal_pct"] = _steal_pct(traced)
            metrics["trace.overhead_pct"] = 100.0 * (
                sum(_op_latency(traced).values()) / sum(_op_latency(plain).values()) - 1.0
            )
            metrics["trace.ops"] = len(traced)
            tracer.write(os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.json"))
            recs = plain + traced + extra
            units = dict(layers.PER_LAYER)
    finally:
        wl.cleanup()
        spark.stop()
        _stop_jvm()
    phases["measure"] = sum(r["s"] for r in recs)
    samples = os.path.join(
        CACHE, "samples", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    os.makedirs(os.path.dirname(samples), exist_ok=True)
    with open(samples, "w") as f:
        json.dump(recs, f)
    phases["total"] = time.perf_counter() - t_start

    good = [r for r in recs if r["ok"]]
    print(
        f"perfbench workload={args.workload} seed={args.seed} local[{ncpu}] "
        f"trace={args.trace} ops={len(recs)} ok={len(good)} "
        f"min_samples_per_op={min(collections.Counter(r['op'] for r in recs if r['op'] in wl.cycle()).values())} "
        f"error_rate={runner.failed / runner.attempted:.4f} "
        f"setup_s={setup_s:.3f} "
        f"phases_s={ {k: round(v, 2) for k, v in phases.items()} } "
        f"host_steal_pct={_steal_pct(recs):.2f} "
        + " ".join(f"{k}={v:.6g} {units[k]}" for k, v in metrics.items())
    )
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help="tiny inputs, for the benchmark's own tests",
    )
    args = ap.parse_args(argv)

    # Spark's Python workers are separate processes: only PYTHONPATH,
    # set before the JVM starts, makes the engine importable there
    # whatever the working directory.
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # Spark honours SPARK_LOCAL_DIRS over spark.local.dir; keep scratch
    # files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
