#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload build-head --seed 1 --seconds 5 --trace 0

Runs one workload of ``perfbench/workloads.py`` against the engine in this
checkout, in one process with at most ``min(4, nproc)`` Spark task slots,
and prints every metric by name and unit; the last line of standard output
is the result object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs the same
workload with every layer call spanned and reports the per-layer metrics.
The full record (machine, settings, per-operation samples, spans) goes to
``perfbench/_work/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
SLOTS_MAX = 4
SETUP_REPS = 3

# (name, unit) of the end-to-end metrics, in BENCHMARK.json order. Times
# are CPU seconds of the process tree (Python driver, JVM, Python workers):
# on a shared virtual machine the hypervisor steals whole seconds of a
# few-second operation in some minutes and none in others, which moves
# wall time by half and CPU time by a tenth.
END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("items_per_cpu_s", "1/s"),
    ("op_cpu_s.p50", "s"),
    ("op_cpu_s.tail", "s"),
    ("store_bytes_per_item", "B"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def meminfo() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) * 1024
    return out


def heap_size(mem_total: int) -> str:
    """A quarter of the machine's memory, 1–4 GiB: the engine's 48 GiB
    default pins more heap than small machines have."""
    return f"{max(1, min(4, mem_total // 4 // 2**30))}g"


def prepare_env(run_dir: str, heap: str) -> None:
    """Everything the session inherits, set before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the Arrow UDF of the distributed matching path imports the engine
    # inside Python workers, which only see the JVM's environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    # no pre-touch: faulting the heap up front would cost seconds of every
    # set-up and make the resident size read the heap size, not the use
    os.environ["SPARK_GRAFT_PRETOUCH"] = "0"
    # shuffle and spill files stay in the run dir (Spark prefers the
    # environment variable over spark.local.dir, so set both)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_GRAFT_LOCAL_DIR"]
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no /tmp/hsperfdata_* file: the JVM writes nothing outside the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def process_tree(root_pids: list[int]) -> list[int]:
    """The given processes and all their descendants: the Python driver,
    the JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(root_pids)
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.append(pid)
            todo.extend(children.get(pid, []))
    return out


def tree_peak_rss(root_pids: list[int]) -> int:
    """Sum of the peak resident sizes (VmHWM) of the process tree."""
    total = 0
    for pid in process_tree(root_pids):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            continue
    return total


def tree_cpu_s(root_pids: list[int]) -> float:
    """User plus system CPU seconds of the process tree, with those of its
    exited and reaped children (the JVM launcher, ended Python workers)."""
    ticks = 0
    for pid in process_tree(root_pids):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class SparkCounters:
    """Executor run time of the stages a window launched, and JVM GC time,
    read from the JVM status store and the GC beans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def _stages(self) -> list:
        empty = self.sc._jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages = self.store.stageList(empty, False, False, quantiles, empty)
        return [stages.apply(i) for i in range(stages.size())]

    def _gc_s(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def start(self) -> None:
        self.t0 = time.perf_counter()
        self.gc0 = self._gc_s()
        self.last_stage = max((st.stageId() for st in self._stages()), default=-1)

    def stop(self, slots: int) -> dict:
        wall = time.perf_counter() - self.t0
        run_s = sum(
            st.executorRunTime() for st in self._stages() if st.stageId() > self.last_stage
        ) / 1000.0
        return {"spark.task_busy_frac": run_s / (wall * slots), "spark.gc_s": self._gc_s() - self.gc0}


def measure(wl, tracer, seconds: float, trace: bool, roots: list[int]) -> list:
    """The closed loop: one operation at a time until the operations'
    own time reaches ``seconds`` and the last cycle of the workload's mix
    is complete. In a traced run every other operation is traced, so the
    untraced ones give the tracing overhead; it runs at least one of each.
    Each operation also gets the CPU time of the process tree ``roots``."""
    from perfbench.workloads import Op

    ops: list[Op] = []
    elapsed, i = 0.0, 0
    while (
        elapsed < seconds
        or i % wl.cycle
        or (trace and sum(o.sample for o in ops) < 2)
    ):
        traced = trace and i % 2 == 0
        tracer.trace_id = str(i)
        tracer.active = traced
        cpu0 = tree_cpu_s(roots)
        t0 = time.perf_counter()
        try:
            op = wl.op(i)
        except Exception:
            traceback.print_exc()
            op = Op("error", time.perf_counter() - t0, 0, ok=False, sample=False)
        finally:
            tracer.active = False
        op.traced = traced
        op.cpu_s = tree_cpu_s(roots) - cpu0
        op.info["trace_id"] = str(i)
        ops.append(op)
        elapsed += op.seconds
        i += 1
        if op.kind == "error" and sum(o.kind == "error" for o in ops) >= 3:
            break
    return ops


def end_to_end(wl, ops, setup_s: float, peak_rss: int) -> dict:
    from perfbench import stats

    samples = [o.cpu_s for o in ops if o.sample]
    if not samples:
        raise RuntimeError("no operation completed")
    tail = stats.tail(samples)
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 1e6,
        "items_per_cpu_s": sum(o.items for o in ops) / sum(o.cpu_s for o in ops),
        "op_cpu_s.p50": stats.median(samples),
        "op_cpu_s.tail": tail["value"],
        "store_bytes_per_item": wl.store_bytes_per_item(),
    }, tail


def wall_figures(ops) -> dict:
    """The same operations in wall seconds, for the record only."""
    from perfbench import stats

    return {
        "items_per_s": sum(o.items for o in ops) / sum(o.seconds for o in ops),
        "op_s.p50": stats.median([o.seconds for o in ops if o.sample]),
    }


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (its signal to exit) and wait
    until the JVM process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "knowledgegraphs_spark")):
        print(f"perfbench: no engine next to {HERE} (knowledgegraphs_spark/ is missing)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, stats
    from perfbench.tracing import Tracer, instrument, restore
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    mem = meminfo()
    heap = heap_size(mem["MemTotal"])
    slots = min(SLOTS_MAX, os.cpu_count() or 1)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(WORK, f"{tag}-{os.getpid()}")
    prepare_env(run_dir, heap)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "why": WORKLOADS[args.workload].why,
        "machine": {
            "nproc": os.cpu_count(), "slots": slots, "mem_total": mem["MemTotal"],
            "mem_available": mem["MemAvailable"], "heap": heap, "pretouch": False,
            "python": sys.version.split()[0],
        },
        "loadavg_before": os.getloadavg(),
    }

    t0 = time.perf_counter()
    cpu0 = tree_cpu_s([os.getpid()])
    from knowledgegraphs_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep every stage of a run in the status store the counters read
        "spark.ui.retainedStages": "20000",
        "spark.ui.retainedJobs": "20000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    spark = get_spark("perfbench", master=f"local[{slots}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    roots = [os.getpid(), jvm_pid(spark)]
    session_cpu_s = tree_cpu_s(roots) - cpu0
    session_s = time.perf_counter() - t0
    record["machine"]["spark"] = spark.version
    record["machine"]["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    try:
        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed, tracer)
        setup_reps, setup_cpu = [], []
        for _ in range(SETUP_REPS):
            t, c = time.perf_counter(), tree_cpu_s(roots)
            wl.setup()
            setup_reps.append(time.perf_counter() - t)
            setup_cpu.append(tree_cpu_s(roots) - c)
        setup_s = session_cpu_s + stats.median(setup_cpu)
        wl.warm_up()
        originals = instrument(tracer) if args.trace else []
        counters = SparkCounters(spark)
        counters.start()
        ops = measure(wl, tracer, args.seconds, bool(args.trace), roots)
        spark_counts = counters.stop(slots)
        restore(originals)
        peak_rss = tree_peak_rss(roots)
        failed = sum(not o.ok for o in ops)
        t_finish = time.perf_counter()
        tracer.active = bool(args.trace)  # span the checks' engine requests
        failed += wl.finish(ops)
        tracer.active = False
        record["finish_s"] = time.perf_counter() - t_finish
        failed = min(failed, len(ops))
        e2e, tail = end_to_end(wl, ops, setup_s, peak_rss)
        record.update({
            "setup_reps_s": setup_reps, "setup_reps_cpu_s": setup_cpu,
            "session_start_s": session_s, "session_start_cpu_s": session_cpu_s,
            "tail": tail, "failed_frac": stats.failed_frac(len(ops), failed),
            "ops": [{"kind": o.kind, "seconds": o.seconds, "cpu_s": o.cpu_s, "items": o.items,
                     "ok": o.ok, "traced": o.traced, "info": o.info} for o in ops + wl.check_ops],
            "end_to_end": e2e, "wall": wall_figures(ops),
        })
        if args.trace:
            extras = {
                "session.start_s": session_s,
                "operators.triples.files_per_bucket": 0.0,
                "operators.triples.bytes_per_triple": 0.0,
                "streaming.maintenance.delta_dirs": 0.0,
                "streaming.maintenance.compact_mb": 0.0,
                **spark_counts,
                "plans.incremental.eager_s": stats.median(
                    tracer.untraced.get("plans.incremental.update", [0.0])),
            }
            extras.update(wl.build_share())
            extras.update(wl.layer_extras(ops))
            spans = tracer.dump()
            record["spans"] = spans
            record["per_layer"] = layers.compute(spans, ops + wl.check_ops, extras)
            record["layers"] = layer_totals(spans)
            if args.workload == "build-head":
                spark, record["scaling"] = scaling_leg(spark, wl, slots, ops, conf)
        record["loadavg_after"] = os.getloadavg()
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        record["stop_s"] = time.perf_counter() - t_stop
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = (
        {n: {"value": record["per_layer"][n], "unit": u} for n, u in layers.PER_LAYER}
        if args.trace
        else {n: {"value": record["end_to_end"][n], "unit": u} for n, u in END_TO_END}
    )
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for n, m in metrics.items():
        print(f"{n:45s} {m['value']:.6g} {m['unit']}")
    print(f"tail percentile {record['tail']['percentile']:.1f} over {record['tail']['n']} samples")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics,
    }))
    return 0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def layer_totals(spans: list[dict]) -> dict[str, dict]:
    """Self time, rows out and Spark counters per layer (module) over the
    whole traced run."""
    out: dict[str, dict] = {}
    for sp in spans:
        acc = out.setdefault(sp["name"].rsplit(".", 1)[0], {"self_s": 0.0, "spans": 0, "rows": 0})
        acc["self_s"] += sp["self_s"]
        acc["spans"] += 1
        acc["rows"] += sp["rows"] or 0
        for k, v in sp["counts"].items():
            acc[k] = acc.get(k, 0) + v
    return dict(sorted(out.items()))


def scaling_leg(spark, wl, slots: int, ops: list, conf: dict):
    """``build.scaling_eff``: the untraced builds of this run at ``slots``
    task slots against one build of the same input at one slot, in the
    same (already warm) JVM. Returns the one-slot session and the record."""
    from perfbench import stats
    from knowledgegraphs_spark.session import get_spark

    wide = stats.median([o.seconds for o in ops if o.kind == "build" and not o.traced])
    spark.stop()
    narrow = get_spark("perfbench", master="local[1]", extra_conf=conf)
    narrow.sparkContext.setLogLevel("ERROR")
    wl.spark = narrow
    one = wl._build()
    return narrow, {
        "slots": slots, "build_s_wide": wide, "build_s_one_slot": one,
        "turns": wl.n_turns,
        "scaling_eff": stats.scaling_eff(wl.n_turns / wide, wl.n_turns / one, factor=slots),
    }


if __name__ == "__main__":
    sys.exit(main())
