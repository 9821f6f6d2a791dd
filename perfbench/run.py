#!/usr/bin/env python3
"""Seeded closed-loop benchmark of the cadastral spatial engine.

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout: the engine is imported from the
checkout, never from an installed copy.  One driver process runs Spark at
``local[nproc]``; one client issues one op at a time, cycling through
the workload's four op kinds, until ``--seconds`` have passed.  Every op's
output is checked against an independent oracle.  The last stdout line
is one JSON object; lines before it (prefixed ``#``) give provenance,
input sizes, measured input properties and named throughputs.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` traces every
other op of a kind, reports per-layer metrics read from Spark's status
store, and writes the spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "rosreestr_xml_to_gis_converter_spark"
SETUP_REPS = 3
# ops during which the hypervisor gave more than this share of the host's
# CPU to other guests are left out of the medians (never more than half
# of a kind's ops: the calmer half is always kept)
STEAL_MAX = 0.03


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The host's aggregate cpu line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's cpu time between two ``cpu_times`` readings
    that the hypervisor gave to other guests (a noise source on shared
    hosts: every op slows while it lasts)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def heap_for_host() -> str:
    """A quarter of host RAM, between 1 and 6 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return f"{min(6, max(1, kib // (4 << 20)))}g"


def process_tree() -> list[list[str]]:
    """/proc/<pid>/stat fields (after the command name) of this process
    and all its descendants: the JVM and its Python workers."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stats[int(pid)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, f in stats.items() if int(f[1]) in frontier and p not in tree}
    return [stats[p] for p in tree if p in stats]


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()

    def sample(self) -> int:
        return sum(int(f[21]) for f in process_tree()) * os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()
        self.peak = max(self.peak, self.sample())


def calm_ops(ops: list[dict], kind: str) -> list[dict]:
    """The warm ops of ``kind`` (the cold ones if there is no other) that
    passed their check (all of them if none did), less those that ran
    under more than STEAL_MAX steal, keeping at least the calmer half."""
    mine = [o for o in ops if o["kind"] == kind]
    mine = [o for o in mine if not o["cold"]] or mine
    mine = [o for o in mine if o["ok"]] or mine
    mine.sort(key=lambda o: o.get("steal", 0.0))
    keep = max((len(mine) + 1) // 2, sum(o.get("steal", 0.0) <= STEAL_MAX for o in mine))
    return mine[:keep]


def median_op(ops: list[dict], kind: str) -> dict:
    """Median seconds, items and sub-timings over ``calm_ops``."""
    mine = calm_ops(ops, kind)
    return {
        "secs": statistics.median(o["secs"] for o in mine),
        "items": statistics.median(o["items"] for o in mine),
        "parts": {p: statistics.median(o["parts"][p] for o in mine) for p in mine[0]["parts"]},
    }


def main() -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a source checkout", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    heap = heap_for_host()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    for d in ("local", "tmp", "in", "out", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path[:0] = [ROOT, HERE]

    # a TERM (e.g. a timeout) unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rss = RssSampler()
    rss.start()
    state: dict = {}
    try:
        return run(args, t_proc, nproc, heap, work, rss, state)
    finally:
        try:
            stop_spark(state.get("spark"))
        finally:
            rss.stop()
            shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session (if one was made), then the JVM if one was
    launched, and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        if spark is not None:
            spark.stop()
        gateway.shutdown()
    finally:
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def run(args, t_proc, nproc, heap, work, rss, state: dict) -> int:
    import pyspark

    import tracing as tr
    import workloads
    from rosreestr_xml_to_gis_converter_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # -- set-up ----------------------------------------------------------
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cores=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    state["spark"] = spark
    sc = spark.sparkContext
    spark.range(1).count()
    spark.range(nproc, numPartitions=nproc).mapInPandas(lambda it: it, "id long").count()
    session_s = time.time() - t_proc

    wl = workloads.WORKLOADS[args.workload](spark, args.seed, nproc)
    t0 = time.perf_counter()
    wl.make_inputs(os.path.join(work, "in"))
    inputs_s = time.perf_counter() - t0
    reps, warmup_s = [], 0.0
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        parts = wl.build()
        reps.append({"secs": time.perf_counter() - t0, **parts})
        if r == 0:
            t0 = time.perf_counter()
            for kind, n in wl.warmup.items():
                for p in range(n):
                    sc.setJobGroup(f"warmup-{p}-{kind}", "warm-up")
                    wl.run(kind, os.path.join(work, "out", f"warmup-{p}-{kind}"))
            warmup_s = time.perf_counter() - t0
    rep = min(reps, key=lambda d: abs(d["secs"] - statistics.median(x["secs"] for x in reps)))
    setup = {"session_s": session_s, "inputs_s": inputs_s, "build": rep, "warmup_s": warmup_s}
    setup["setup_s"] = session_s + inputs_s + rep["secs"] + warmup_s

    wl.prepare_oracle()
    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "master": sc.master,
        "driver_heap": heap,
        "spark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seconds": args.seconds,
        "trace": args.trace,
        "sizes": wl.sizes(),
    }
    print("# provenance " + json.dumps(provenance), flush=True)
    print("# input_properties " + json.dumps(wl.properties()), flush=True)

    # -- measured closed loop --------------------------------------------
    tracer = tr.Tracer()
    reader = tr.StatusReader(spark)
    ops: list[dict] = []
    traces: list[tr.OpTrace] = []
    # one pass runs every kind (the short ones several times in a row);
    # passes repeat until --seconds have gone, and the loop stops with the
    # op that crosses that time, once a full pass has run.  A traced run
    # traces every other op of a kind, so a kind that repeats has traced
    # and untraced warm ops in every pass (for the overhead).
    schedule = wl.schedule or wl.kinds
    t_end = time.perf_counter() + args.seconds
    cpu0 = cpu_times()
    i = 0
    while True:
        kind = schedule[i % len(schedule)]
        earlier = sum(o["kind"] == kind for o in ops)
        traced = bool(args.trace) and earlier % 2 == 0
        op_id = f"op-{i}"
        sc.setJobGroup(op_id, f"{args.workload} {kind}")
        # the first op of a run of repeats follows an op of another kind,
        # which slows it much as a cold op is slowed: both are left out of
        # the medians
        prev, nxt = schedule[(i - 1) % len(schedule)], schedule[(i + 1) % len(schedule)]
        switch = prev != kind and nxt == kind
        rec = {"op": op_id, "kind": kind, "traced": traced, "ok": False, "items": 0, "parts": {},
               "cold": switch or (earlier == 0 and not wl.warmup.get(kind))}
        ctx = tracer.op_span(op_id, kind, workloads.PRIMARY_MODULE[kind]) if traced else contextlib.nullcontext()
        c0 = cpu_times()
        t0 = time.perf_counter()
        try:
            with ctx:
                out = wl.run(kind, os.path.join(work, "out", op_id))
            rec["secs"] = time.perf_counter() - t0
            rec["steal"] = steal_share(c0, cpu_times())
            rec.update(items=out.items, parts=out.parts)
            sc.setJobGroup(f"{op_id}-check", "check")
            detail = out.verify()
            rec["ok"] = not detail
            if detail:
                print(f"# check failed {op_id} {kind}: {detail}", file=sys.stderr, flush=True)
        except Exception:
            rec["secs"] = time.perf_counter() - t0
            traceback.print_exc()
        rec["persisted_blocks"], rec["persisted_bytes"] = reader.storage()
        if traced:
            t_read = time.perf_counter()
            traces.append(tr.attribute(tracer, reader, op_id, kind, workloads.PRIMARY_MODULE[kind], rec["secs"]))
            rec["read_s"] = time.perf_counter() - t_read
        ops.append(rec)
        i += 1
        if time.perf_counter() >= t_end and i >= len(schedule):
            break

    print("# host " + json.dumps({"steal_share": steal_share(cpu0, cpu_times())}), flush=True)
    failed = sum(not o["ok"] for o in ops)
    # a traced run takes its timings from the untraced ops (from the
    # traced ones of a kind that has no other)
    timed = [o for o in ops if not o["traced"] or all(p["traced"] for p in ops if p["kind"] == o["kind"])]
    med = {k: median_op(timed, k) for k in wl.kinds}
    named = wl.throughputs(med)
    print("# ops " + json.dumps({
        k: {"n": sum(o["kind"] == k for o in timed), "n_median": len(calm_ops(timed, k)),
            "median_s": med[k]["secs"], "items": med[k]["items"],
            "secs": [round(o["secs"], 4) for o in timed if o["kind"] == k],
            "steal": [round(o.get("steal", 0.0), 3) for o in timed if o["kind"] == k]}
        for k in wl.kinds
    }), flush=True)
    print("# throughputs " + json.dumps(named), flush=True)
    print("# lifecycle " + json.dumps({
        "persisted_blocks_after_each_op": [o["persisted_blocks"] for o in ops],
        "persisted_mb_after_last_op": ops[-1]["persisted_bytes"] / 1e6,
    }), flush=True)
    print("# setup " + json.dumps({**setup, "builds": reps}), flush=True)
    print("# memory " + json.dumps({"peak_rss_mb": max(rss.peak, rss.sample()) / 1e6}), flush=True)

    if args.trace:
        import layers

        metrics = layers.per_layer(
            wl, ops, traces, tracer, nproc, setup, named, work, max(rss.peak, rss.sample())
        )
        self_s: dict[str, float] = {}
        for t in traces:
            for mod, secs in t.module_s.items():
                self_s[mod] = self_s.get(mod, 0.0) + secs / len(traces)
        print("# module_self_s_per_op " + json.dumps(self_s), flush=True)
        path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"provenance": provenance, "metrics": metrics, "module_self_s_per_op": self_s,
                       "ops": ops, "spans": [vars(s) for s in tracer.spans]}, f, indent=1, default=str)
        print(f"# trace written to {os.path.relpath(path, ROOT)}", flush=True)
    else:
        metrics = {"setup_s": {"value": setup["setup_s"], "unit": "s"}}
        for n, k in enumerate(wl.kinds, 1):
            metrics[f"op{n}_items_per_s"] = {"value": med[k]["items"] / med[k]["secs"], "unit": "items/s"}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
