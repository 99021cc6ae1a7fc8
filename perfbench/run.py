"""Closed-loop, output-checked benchmark of util_gis_spark.

    python3 perfbench/run.py --workload spatial_floor --seed 1 --seconds 10 --trace 0

One client calls the workload back to back on local[nproc] until the
calls have taken --seconds, checking every call's output against answers
computed outside the engine. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (see
README.md). The lines before it print every metric by name and unit and
one JSON line of detail: environment, seed, sizes, per-call times and,
when traced, every per-operator number.

Inputs are staged to parquet once per (seed, sizes, generator version)
and the expected answers cached beside them, under perfbench/.work/.
Everything the run writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

N_SETUPS = 3
MIN_CALLS = 2
# a traced run alternates untraced and traced calls; four of each give
# trace.overhead_frac two medians to compare
TRACED_MIN_CALLS = 8
MAX_CALLS = 200

# numbers each span carries from the status stores, summed per operator
SPAN_SUMS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "python_run_s",
             "python_start_s", "python_bytes", "broadcast_s", "band_join_rows")
PER_OP = ("plan_s", "exec_s", "driver_self_s") + SPAN_SUMS


# ------------------------------------------------------------------ environment
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb(key: str = "MemTotal") -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_hwm() -> None:
    """Reset this process's VmHWM to its current RSS (Linux clear_refs), so
    that staging, oracle and set-up memory does not count as the peak of
    the timed loop."""
    gc.collect()
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def configure_env() -> dict:
    """Fit the session to the box: local[nproc], shuffle partitions =
    nproc, driver heap an eighth of physical RAM, all scratch inside the
    checkout. Must run before pyspark starts its JVM."""
    cpus = nproc()
    mem_mb = max(1024, min(8192, meminfo_mb() // 8))
    for d in ("spark-local", "tmp", "warehouse", "stage", "checkpoints"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # both JVMs (spark-submit's launcher and the driver): temp files in the
    # checkout, and no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    # Python workers import the engine's kernels by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    return {"nproc": cpus, "driver_mem_mb": mem_mb}


def spark_conf(mem_mb: int) -> dict:
    # The heap is committed and touched at its full size from the start, so
    # that calls do not pay for growing it, nor for regrowing it after the
    # GC that precedes each sampled call.
    return {
        "spark.driver.extraJavaOptions": f"-Xms{mem_mb}m -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def held_mb(pools: dict[str, float]) -> float:
    """The JVM memory a call held: the peaks of every pool but eden. Every
    call fills eden to the young-generation size the collector chose, so
    eden's peak is that size and not the program's use. What the call kept
    past a young collection, and large arrays, land in old gen, and
    classes and compiled code in the non-heap pools."""
    return sum(mb for name, mb in pools.items() if "Eden" not in name)


def jvm_pools(spark, reset: bool = False) -> dict[str, float]:
    """{pool name: peak MB used since the last reset} of every JVM memory
    pool, heap and non-heap. With reset=True, collect the heap's garbage
    first and start a new peak for each pool instead, so that the next
    call's peak does not depend on garbage left by the one before."""
    jvm = spark.sparkContext._jvm
    if reset:
        jvm.java.lang.System.gc()
    out = {}
    for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if reset:
            p.resetPeakUsage()
        else:
            out[str(p.getName())] = p.getPeakUsage().getUsed() / 2**20
    return out


# ------------------------------------------------------------------ statistics
def tail(values: list[float]) -> tuple[float, float]:
    """(value, level): the highest nearest-rank percentile with at least
    ten calls above it, never below the median. With 20 calls or fewer
    that is the median itself (level 0.5)."""
    xs = sorted(values)
    n = len(xs)
    r = n - 11
    if r < (n - 1) // 2:
        return statistics.median(xs), 0.5
    return xs[r], (r + 1) / n


def layer_metrics(spans: list[dict], call_s: float) -> tuple[dict, dict]:
    """(per-op metrics, whole-call totals) of one traced call."""
    per_op: dict[str, dict] = {}
    for s in spans:
        m = per_op.setdefault(s["op"], dict.fromkeys(PER_OP, 0.0))
        m["plan_s" if s["phase"] == "plan" else "exec_s"] += s["self_s"]
        m["driver_self_s"] += s["self_s"] - s["job_s"]
        for k in SPAN_SUMS:
            m[k] += s[k]
    tot = {k: sum(m[k] for m in per_op.values()) for k in PER_OP}
    tot["accounted_frac"] = (tot["plan_s"] + tot["exec_s"]) / call_s
    return per_op, tot


def med(rows: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in rows)


# ------------------------------------------------------------------ the run
def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "util_gis_spark")):
        print(f"error: util_gis_spark not found beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    env = configure_env()
    sys.path.insert(0, ROOT)

    import pyspark

    from perfbench import gen, tracing
    from perfbench.workloads import WORKLOADS
    from util_gis_spark.session import get_spark

    wl = WORKLOADS[args.workload]()
    sizes = wl.sizes(args.smoke)
    env |= {
        "mem_total_mb": meminfo_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "loadavg_start": os.getloadavg(),
    }

    t0 = time.perf_counter()
    stage = gen.stage(os.path.join(WORK, "stage"), wl.name, args.seed, sizes)
    staging_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    expected = wl.expect(stage)
    oracle_s = time.perf_counter() - t0
    if args.corrupt_oracle:
        from perfbench.oracle import corrupt

        expected = corrupt(expected)

    def start():
        return get_spark(f"perfbench-{wl.name}", master=f"local[{env['nproc']}]",
                         shuffle_partitions=env["nproc"], extra_conf=spark_conf(env["driver_mem_mb"]))

    null = tracing.NullTracer()
    # JVM memory held by one call, for each warm-JVM warm-up and each
    # untraced timed call
    setups, warmup_errors, jvm_mb = [], [], []
    spark = None
    # a traced run sets up once, so its session numbers are the cold start
    for _ in range(1 if args.smoke or args.trace else N_SETUPS):
        if spark is not None:
            spark.stop()
            jvm_pools(spark, reset=True)
        t0 = time.perf_counter()
        spark = start()
        t1 = time.perf_counter()
        out = wl.call(spark, stage, null, WORK)
        t2 = time.perf_counter()
        if setups:
            jvm_mb.append(held_mb(jvm_pools(spark)))
        warmup_errors += wl.check(out, expected)
        wl.cleanup(out)
        setups.append({"start_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0})

    reset_hwm()
    tracer = tracing.Tracer(spark) if args.trace else None
    max_calls = (2 if args.trace else 1) if args.smoke else MAX_CALLS
    min_calls = max_calls if args.smoke else TRACED_MIN_CALLS if args.trace else MIN_CALLS
    calls: list[dict] = []
    while len(calls) < max_calls and (
        len(calls) < min_calls or sum(c["s"] for c in calls) < args.seconds
    ):
        tr = tracer if tracer is not None and len(calls) % 2 == 1 else null
        out, errs = None, []
        jvm_pools(spark, reset=True)
        t0 = time.perf_counter()
        try:
            out = wl.call(spark, stage, tr, WORK)
        except Exception:  # a failed call is counted, and the loop goes on
            errs = [traceback.format_exc(limit=3)]
        dt = time.perf_counter() - t0
        pools = jvm_pools(spark)
        spans = tr.collect()
        summary = {}
        if out is not None:
            try:
                errs = wl.check(out, expected)
            except Exception:
                errs = [traceback.format_exc(limit=3)]
            summary = wl.summarize(out)
            wl.cleanup(out)
        calls.append({"s": dt, "ok": not errs, "traced": tr.enabled, "errors": errs[:3],
                      "spans": spans, "summary": summary, "pools": pools})
        if not tr.enabled:
            jvm_mb.append(held_mb(pools))

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    rss_mb = {"jvm_vmhwm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb(os.getpid()),
              "jvm_calls": jvm_mb, "pools": calls[0]["pools"]}
    peak_rss_mb = statistics.median(jvm_mb) + rss_mb["python"]
    env["loadavg_end"] = os.getloadavg()
    stop(spark)

    failed = sum(not c["ok"] for c in calls)
    plain = [c["s"] for c in calls if not c["traced"]]
    p50 = statistics.median(plain)
    tail_s, tail_level = tail(plain)
    detail: dict = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "sizes": sizes, "rows": stage["rows"], "input_bytes": stage["bytes"],
        "env": env, "staging_s": staging_s, "staged_cached": stage["cached"], "oracle_s": oracle_s,
        "setups": setups, "peak_rss_mb": rss_mb, "calls_s": [c["s"] for c in calls], "calls_traced": [c["traced"] for c in calls],
        "failed_frac": failed / len(calls), "tail_level": tail_level, "tail_n": len(plain),
        "errors": warmup_errors[:3] + [e for c in calls for e in c["errors"]][:3],
    }
    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
            "call_p50_s": (p50, "s"),
            "call_tail_s": (tail_s, "s"),
            "rows_per_s": (wl.rows_per_call(stage) * len(plain) / sum(plain), "rows/s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    else:
        every = traced_metrics(wl, stage, calls, setups, p50)
        declared = per_layer_declared()
        missing = sorted(set(declared) - set(every))
        if missing:
            raise RuntimeError(f"per-layer metrics not measured on {wl.name}: {missing}")
        detail["per_op"] = {k: v for k, v in every.items() if k not in declared}
        metrics = {k: (every[k][0], u) for k, u in declared.items()}

    for name, (value, unit) in metrics.items():
        print(f"{wl.name} {name} = {value:.6g} {unit}")
    print(f"{wl.name} failed_frac = {failed / len(calls):.6g} ratio ({failed} of {len(calls)} calls)")
    print(f"{wl.name} tail level p{100 * tail_level:.0f} over n={len(plain)} calls")
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": failed == 0 and not warmup_errors,
        "attempted": len(calls),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def per_layer_declared() -> dict[str, str]:
    """The per-layer metrics of the final line, with units, as BENCHMARK.json
    declares them. Each is measured on every workload, and a run that
    lacks one fails. Where a layer is unused the metric is a measured zero
    ratio or byte count, never a time. The per-operator breakdown and the
    metrics of a single workload go to the detail line."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


UNIT = {"_s": "s", "bytes": "bytes", "bytes_written": "bytes", "jobs": "count",
        "stages": "count", "tasks": "count", "pairs": "count", "cells": "count"}


def unit_of(name: str) -> str:
    for suffix, unit in UNIT.items():
        if name.endswith(suffix):
            return unit
    return "ratio"


def traced_metrics(wl, stage: dict, calls: list[dict], setups: list[dict], p50: float) -> dict:
    """Per-layer metrics: medians over the traced calls of the per-op and
    whole-call numbers, medians over all calls of the workload's own
    summaries, plus set-up phases and the workload's direct layer probes."""
    traced = [c for c in calls if c["traced"]]
    rows = []
    for c in traced:
        per_op, tot = layer_metrics(c["spans"], c["s"])
        row = {f"{op}.{k}": v for op, m in per_op.items() for k, v in m.items() if k != "band_join_rows"}
        for op in (op for op in per_op if op.startswith("operators.dedup.")):
            cand = per_op[op]["band_join_rows"]
            row[f"{op}.candidate_pairs"] = cand
            row[f"{op}.pair_yield"] = c["summary"].get(f"{op}.pairs", 0.0) / cand if cand else 0.0
        run_s = tot["executor_run_s"]
        row |= {
            "ops.plan_s": tot["plan_s"], "ops.exec_s": tot["exec_s"],
            "ops.driver_self_s": tot["driver_self_s"],
            "spark.jobs": tot["jobs"], "spark.stages": tot["stages"], "spark.tasks": tot["tasks"],
            "executor.run_s": run_s, "executor.cpu_s": tot["executor_cpu_s"],
            "executor.gc_frac": tot["gc_s"] / run_s if run_s else 0.0,
            "shuffle.write_bytes": tot["shuffle_write_bytes"],
            "shuffle.read_bytes": tot["shuffle_read_bytes"],
            "shuffle.spill_bytes": tot["spill_bytes"],
            "python.run_frac": tot["python_run_s"] / run_s if run_s else 0.0,
            "python.bytes": tot["python_bytes"],
            "broadcast.bytes": sum(s["broadcast_bytes"] for s in c["spans"]),
            "trace.accounted_frac": tot["accounted_frac"],
        }
        rows.append(row)
    out = {k: (statistics.median(r.get(k, 0.0) for r in rows), unit_of(k))
           for k in sorted({k for r in rows for k in r})}
    for k in sorted({k for c in calls for k in c["summary"]}):
        out[k] = (statistics.median(c["summary"][k] for c in calls if k in c["summary"]), unit_of(k))
    out["session.start_s"] = (med(setups, "start_s"), "s")
    out["session.warmup_s"] = (med(setups, "warmup_s"), "s")
    out["trace.overhead_frac"] = ((statistics.median(c["s"] for c in traced) - p50) / p50, "ratio")
    out |= wl.layer_probes(stage)
    return out


def stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("spatial_floor", "spatial_write_10x", "kernels"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, one set-up, one call (two traced)")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="self-test: perturb the expected answer so every check must fail")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
