#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run: pin the environment, make the
inputs from the seed (``gen.py``, in a child process), start the engine
(timed as ``setup_s``), measure the workload for ``--seconds``, check
every operation, stop every process it started, and print

* a ``report`` line: the workload's own metrics by their lifecycle
  names (``docs_per_s``, ``query_p50_ms`` …), the correctness verdict
  and failures by kind, and the recorded environment;
* as the last line, the result object
  ``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
  metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics
  with ``--trace 1``.

``--trace 1`` measures the workload twice in one process, untraced and
then traced, writes the spans to ``.bench_out/`` and reports
``trace_overhead.<metric>`` = traced minus untraced for each end-to-end
metric, and the tracer's own time per operation.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WATCHDOG_S = 170
SETUP_LAYERS = ("session.get_spark_s", "registry.load_all_s", "session.first_job_s")
# the driver JVM's GC and JIT time over the untraced window
JVM_LAYERS = ("jvm.gc_ms", "jvm.jit_ms")
# layers only the workloads left out of BENCHMARK.json (ingest_lifecycle,
# stream_ingest) reach: their metrics go to the report line, not the result
UNGATED_LAYERS = ("service.", "pipeline.", "functions.pdftext.", "sources.", "streaming.")


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------------------
# Processes and memory, read from /proc
# ---------------------------------------------------------------------------

def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of this Python driver and of the JVM."""
    me = os.getpid()
    jvm = [p for p in descendants(me) if _is_java(p)]
    return {
        "memory.python_peak_rss_mb": _status_kb(me, "VmHWM") / 1024.0,
        "memory.jvm_peak_rss_mb": sum(_status_kb(p, "VmHWM") for p in jvm) / 1024.0,
    }


def stop_all(spark) -> None:
    """Stop the session, close the JVM gateway and wait until every
    process this run started has ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") and not _zombie(p) for p in started):
        time.sleep(0.05)
    for p in started:
        if os.path.exists(f"/proc/{p}") and not _zombie(p):
            os.kill(p, signal.SIGKILL)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# ---------------------------------------------------------------------------
# Environment
# ---------------------------------------------------------------------------

def cpu_times() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal (clock ticks)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_shares(t0: list[int], t1: list[int]) -> dict[str, float]:
    """Busy and stolen shares of all CPU time between two samples:
    steal is time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(t0, t1)]
    total = max(1, sum(d))
    return {"busy": (total - d[3] - d[4] - d[7]) / total, "steal": d[7] / total}


def jvm_ms(spark) -> dict[str, float]:
    """The driver JVM's cumulative garbage-collection and JIT-compilation
    time, read over py4j from its management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        "gc_ms": float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())),
        "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
    }


def pin_env(work: str) -> dict:
    """Pin what the engine reads from the environment before Spark
    starts, and return it for the report."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    driver_mb = max(1024, min(2048, total_mb // 4))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM the run starts (launcher and driver) keeps its temp
        # files in the work directory and writes no /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    return {**env, "host_ram_mb": total_mb}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdf_etl_engine_spark", "session.py")):
        _fail(f"engine package pdf_etl_engine_spark not found under {ROOT}")
    import workloads  # benchmark-local

    if a.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {a.workload!r}; have {sorted(workloads.WORKLOADS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_env(work)
    load_start = os.getloadavg()
    phases = {}

    def watchdog(_sig, _frm):
        for p in descendants(os.getpid()):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        print(f"perfbench: watchdog fired after {WATCHDOG_S}s", file=sys.stderr)
        os._exit(3)

    signal.signal(signal.SIGALRM, watchdog)
    signal.alarm(WATCHDOG_S)

    # inputs from the seed, in a child process so neither its time nor
    # its memory lands in the measured process
    inputs = os.path.join(work, "inputs")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
         "--seed", str(a.seed), "--seconds", str(a.seconds), "--out", inputs],
        check=True, stdout=subprocess.DEVNULL,
    )
    with open(os.path.join(inputs, "expected.json")) as fh:
        man = json.load(fh)
    phases["inputs_s"] = time.perf_counter() - T_PROCESS

    import tracing

    tracer = tracing.Tracer()
    tracer.enabled = bool(a.trace)
    spark = None
    try:
        # -- set-up: engine import → session → registry → first job
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            from pdf_etl_engine_spark import registry
            from pdf_etl_engine_spark.session import get_spark

            spark = get_spark(
                app_name=f"perfbench-{a.workload}",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        t1 = time.perf_counter()
        with tracer.span("registry.load_all"):
            registry.load_all()
        t2 = time.perf_counter()
        with tracer.span("session.first_job"):
            spark.range(1000).selectExpr("sum(id)").collect()
        t3 = time.perf_counter()
        setup = {
            "setup_s": t3 - t0,
            "session.get_spark_s": t1 - t0,
            "registry.load_all_s": t2 - t1,
            "session.first_job_s": t3 - t2,
        }
        setup_bookkeeping = tracer.bookkeeping_s
        tracer.enabled = False

        run = workloads.Run(spark, man, work, a.seconds, a.seed, tracer)
        fn = workloads.WORKLOADS[a.workload]
        if a.trace:
            tracer.sc = spark.sparkContext
            tracing.install(tracer)
        jvm_w, cpu_w = jvm_ms(spark), cpu_times()
        tw = time.perf_counter()
        windows = [fn(run, 0)]
        phases["window_s"] = time.perf_counter() - tw
        cpu_window = cpu_shares(cpu_w, cpu_times())
        cpu_window.update({k: v - jvm_w[k] for k, v in jvm_ms(spark).items()})
        e2e = [_e2e(windows[0], setup["setup_s"])]
        memory = peak_rss_mb()
        if a.trace:
            # the same workload again, traced; window 0 stays untraced
            # apart from one-off set-up steps that it alone runs
            tracer.enabled = True
            windows.append(fn(run, 1))
            tracer.enabled = False
            e2e.append(_e2e(windows[1], setup["setup_s"] + setup_bookkeeping))
            tracer.resolve()
            tracer.uninstall()
            memory_traced = peak_rss_mb()
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        import pyspark
    finally:
        ts = time.perf_counter()
        stop_all(spark)
        phases["stop_s"] = time.perf_counter() - ts
    signal.alarm(0)
    phases["total_s"] = time.perf_counter() - T_PROCESS

    attempted = sum(w.attempted for w in windows)
    failed = sum(w.failed for w in windows)
    names = {m["name"]: m for m in spec["end_to_end" if not a.trace else "per_layer"]}
    if a.trace:
        from gen import CURATION

        values = {k: setup[k] for k in SETUP_LAYERS}
        values.update(tracing.per_layer(tracer.spans, CURATION))
        values.update(windows[1].layers)
        values.update(memory_traced)
        values.update({k: cpu_window[k.split(".", 1)[1]] for k in JVM_LAYERS})
        for k in e2e[0]:
            values[f"trace_overhead.{k}"] = e2e[1][k] - e2e[0][k]
        values["trace_overhead.peak_rss_mb"] = sum(memory_traced.values()) - sum(memory.values())
        values["tracing.bookkeeping_ms_per_op"] = (
            (tracer.bookkeeping_s - setup_bookkeeping) * 1000.0 / max(1, tracing.count_ops(tracer.spans))
        )
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl"))
    else:
        values = e2e[0]
    ungated = {k: v for k, v in values.items() if k.startswith(UNGATED_LAYERS)}
    undeclared = set(values) - set(names) - set(ungated)
    if undeclared:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    metrics = {
        n: {"value": float(values.get(n, 0.0)), "unit": m["unit"]} for n, m in names.items()
    }
    w = windows[0]
    report = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "correct": failed == 0,
        "failed_share": failed / max(1, attempted),
        "metrics": {
            **{k: {"value": v, "unit": u} for k, (v, u) in w.report.items()},
            "setup_s": {"value": setup["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": sum(memory.values()), "unit": "MB"},
            "failed_share": {"value": failed / max(1, attempted), "unit": "ratio"},
        },
        "samples": len(w.op_ms),
        "ungated_layers": ungated,
        "phases_s": phases,
        "failures": _merge_failures(windows),
        "env": {
            "cpus": int(env["SPARK_GRAFT_CPUS"]),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "cpu_window": cpu_window,
            "pyspark": pyspark.__version__,
            "java": java,
            "python": platform.python_version(),
            "driver_memory": env["SPARK_GRAFT_DRIVER_MEMORY"],
            "host_ram_mb": env["host_ram_mb"],
        },
    }
    shutil.rmtree(work, ignore_errors=True)
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _merge_failures(windows) -> dict:
    out: dict = {}
    for w in windows:
        for kind, (n, example) in w.failures.items():
            out.setdefault(kind, {"operations": 0, "example": example})["operations"] += n
    return out


def _e2e(w, setup_s: float) -> dict:
    """End-to-end metrics of one measured window."""
    from workloads import op_latency_ms

    return {
        "setup_s": setup_s,
        "ops_per_s": w.units / w.elapsed_s if w.elapsed_s else 0.0,
        "op_latency_ms": op_latency_ms(w),
    }


if __name__ == "__main__":
    sys.exit(main())
