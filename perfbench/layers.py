"""Per-layer metrics of a traced run.

Names are ``<module>.<metric>`` after the package's modules, plus
``op.*`` (every op), ``exchange.*`` (the shuffle/AQE layer the session
configures), ``storage.*`` (cached blocks after each op), ``process.*``
(the driver, JVM and Python workers together) and ``trace.*`` (what the
tracing itself cost).  A module's time is given as a share of
the time it could have blocked, so a module that a workload never calls
reads 0 rather than a time.  The named throughputs of every workload
are listed too; each is 0 on the workload that does not run its op.
"""

from __future__ import annotations

import os
import statistics

import tracing as tr

# (name, unit, which direction is better)
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("setup.inputs_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("grid.cover_setup_share", "ratio", "lower"),
    ("grid.cover_cells_per_parcel", "count", "lower"),
    ("spatial_join.prepare_setup_share", "ratio", "lower"),
    ("spatial_join.jobs_per_op", "count", "lower"),
    ("spatial_join.scan_rows_per_input_row", "ratio", "lower"),
    ("spatial_join.candidates_per_pair", "ratio", "lower"),
    ("spatial_join.boundary_share", "ratio", "lower"),
    ("spatial_join.refine_keep_ratio", "ratio", "higher"),
    ("spatial_join.python_share", "ratio", "lower"),
    ("spatial_join.bytes_to_python", "bytes", "lower"),
    ("knn.jobs_per_op", "count", "lower"),
    ("knn.cpu_util", "ratio", "higher"),
    ("knn.gc_share", "ratio", "lower"),
    ("knn.frontier_share", "ratio", "lower"),
    ("exchange.shuffle_write_bytes", "bytes", "lower"),
    ("exchange.shuffle_read_bytes", "bytes", "lower"),
    ("exchange.spill_bytes", "bytes", "lower"),
    ("exchange.partitions", "count", "lower"),
    ("exchange.skew_splits", "count", "higher"),
    ("exchange.task_skew", "ratio", "lower"),
    ("xml_extract.python_share", "ratio", "lower"),
    ("xml_extract.parse_runs_per_op", "count", "lower"),
    ("xml_extract.error_share", "ratio", "lower"),
    ("pipeline.jobs_per_op", "count", "lower"),
    ("pipeline.driver_probe_share", "ratio", "lower"),
    ("tiling.python_share", "ratio", "lower"),
    ("tiling.tiles_per_s", "tiles/s", "higher"),
    ("checkpoint.write_share", "ratio", "lower"),
    ("checkpoint.jobs_per_op", "count", "lower"),
    ("checkpoint.bytes_per_row", "bytes", "lower"),
    ("sinks.fetch_share", "ratio", "lower"),
    ("sinks.write_share", "ratio", "lower"),
    ("sinks.bytes_per_row", "bytes", "lower"),
    ("imaging_ops.python_share", "ratio", "lower"),
    ("imaging_ops.ok_share", "ratio", "higher"),
    ("dedupe.candidate_pairs_per_doc", "ratio", "lower"),
    ("dedupe.verify_keep_ratio", "ratio", "higher"),
    ("storage.persisted_blocks", "count", "lower"),
    ("storage.persisted_mb", "MB", "lower"),
    ("storage.growth_blocks_per_op", "count", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
    ("op.jobs", "count", "lower"),
    ("op.stages", "count", "lower"),
    ("op.tasks", "count", "lower"),
    ("op.cpu_s", "s", "lower"),
    ("op.cpu_util", "ratio", "higher"),
    ("op.gc_share", "ratio", "lower"),
    ("op.python_s", "s", "lower"),
    ("op.python_start_share", "ratio", "lower"),
    ("op.driver_s", "s", "lower"),
    ("op.failed_ratio", "ratio", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
    ("trace.read_ms", "ms", "lower"),
    ("trace.spans_per_op", "count", "lower"),
    ("join_pairs_per_s", "pairs/s", "higher"),
    ("knn_images_per_s", "images/s", "higher"),
    ("unsalted_join_pairs_per_s", "pairs/s", "higher"),
    ("salted_join_pairs_per_s", "pairs/s", "higher"),
    ("convert_extracts_per_s", "extracts/s", "higher"),
    ("export_rows_per_s", "rows/s", "higher"),
    ("decode_mb_s", "MB/s", "higher"),
    ("validate_images_per_s", "images/s", "higher"),
    ("dedup_docs_per_s", "docs/s", "higher"),
]

_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _node_sum(t: tr.OpTrace, metric: str, pred=lambda n: True) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in t.nodes if pred(n))


def _py_nodes(t: tr.OpTrace, module: str | None = None) -> list[dict]:
    return [
        n for n in t.nodes
        if n["name"] in tr.PY_NODES and (module is None or tr.udf_module(n["desc"]) == module)
    ]


def _python_s(t: tr.OpTrace, module: str | None = None) -> float:
    return sum(n["metrics"].get("time to run Python workers", 0.0) for n in _py_nodes(t, module))


def _run_s(t: tr.OpTrace) -> float:
    return sum(s["run_s"] for s in t.stages)


def _share_of_run(traces, module) -> float:
    return _ratio(sum(_python_s(t, module) for t in traces), sum(_run_s(t) for t in traces))


def _jobs_of(t: tr.OpTrace, module: str) -> int:
    return sum(m == module for m in t.job_module.values())


def _touching(traces, module) -> list[tr.OpTrace]:
    return [t for t in traces if module in t.module_s or _py_nodes(t, module)]


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if not f.startswith((".", "_")))
    return total


def per_layer(wl, ops, traces, tracer, nproc, setup, named, work, peak_rss) -> dict:
    """Every PER_LAYER metric for one traced run of workload ``wl``;
    ``setup`` holds the parts of ``setup_s``."""
    units = {n: u for n, u, _ in PER_LAYER}
    m: dict[str, float] = {name: 0.0 for name in units}
    m["session.start_s"] = setup["session_s"]
    m["setup.inputs_s"] = setup["inputs_s"]
    m["setup.warmup_s"] = setup["warmup_s"]
    m["grid.cover_setup_share"] = _ratio(setup["build"].get("cover_s", 0.0), setup["setup_s"])
    m["spatial_join.prepare_setup_share"] = _ratio(setup["build"].get("prepare_s", 0.0), setup["setup_s"])
    if hasattr(wl, "cover"):
        m["grid.cover_cells_per_parcel"] = wl.cover.count() / wl.n_parcels

    # spatial_join on the broadcast path: the union's two branches join
    # the full and the boundary cover cells, so their join rows add up to
    # the candidates; the refine sees the boundary ones.  Bytes sent to
    # Python are those of the shuffled joins, where geometry rides the rows.
    joins = [t for t in traces if t.kind == "join"]
    shuffled = [t for t in traces if t.kind in ("unsalted", "salted")]
    if joins:
        m["spatial_join.jobs_per_op"] = _mean(_jobs_of(t, "spatial_join") for t in joins)
    if shuffled:
        m["spatial_join.bytes_to_python"] = _mean(
            _node_sum(t, "data sent to Python workers", lambda n: n in _py_nodes(t, "spatial_join")) for t in shuffled
        )
    m["spatial_join.python_share"] = _share_of_run(traces, "spatial_join")
    if joins:
        pairs = sum(o["parts"].get("pairs", 0) for o in ops if o["op"] in {t.op for t in joins})
        scan = sum(_node_sum(t, "number of output rows", lambda n: n["name"].startswith("Scan")) for t in joins)
        cand = sum(_node_sum(t, "number of output rows", lambda n: n["name"] in _JOINS) for t in joins)
        refine_out = sum(_node_sum(t, "number of output rows", lambda n: n in _py_nodes(t, "spatial_join")) for t in joins)
        boundary = cand - (pairs - refine_out)
        m["spatial_join.scan_rows_per_input_row"] = _ratio(scan, wl.n_images * len(joins))
        m["spatial_join.candidates_per_pair"] = _ratio(cand, pairs)
        m["spatial_join.boundary_share"] = _ratio(boundary, cand)
        m["spatial_join.refine_keep_ratio"] = _ratio(refine_out, boundary)

    knn = [t for t in traces if t.kind == "knn"]
    if knn:
        m["knn.jobs_per_op"] = _mean(_jobs_of(t, "knn") for t in knn)
        m["knn.cpu_util"] = _ratio(sum(s["cpu_s"] for t in knn for s in t.stages), sum(t.wall for t in knn) * nproc)
        m["knn.gc_share"] = _ratio(sum(s["gc_s"] for t in knn for s in t.stages), sum(_run_s(t) for t in knn))

    # exchange: AQE reads of shuffle output, and the slowest stage's
    # max-over-median task time, per op of the shuffled joins (of every op
    # on a workload without them)
    ex = shuffled or traces
    if ex:
        m["exchange.shuffle_write_bytes"] = _mean(sum(s["shuffle_write"] for s in t.stages) for t in ex)
        m["exchange.shuffle_read_bytes"] = _mean(sum(s["shuffle_read"] for s in t.stages) for t in ex)
        m["exchange.spill_bytes"] = _mean(sum(s["spill"] for s in t.stages) for t in ex)
        m["exchange.partitions"] = _mean(
            _node_sum(t, "number of partitions", lambda n: n["name"] == "AQEShuffleRead") for t in ex
        )
        m["exchange.skew_splits"] = _mean(
            _node_sum(t, "number of skewed partition splits", lambda n: n["name"] == "AQEShuffleRead") for t in ex
        )
        m["exchange.task_skew"] = statistics.median(
            max(t.stages, key=lambda s: s["run_s"])["skew"] if t.stages else 1.0 for t in ex
        )

    m["xml_extract.python_share"] = _share_of_run(traces, "xml_extract")
    xml = _touching(traces, "xml_extract")
    if xml:
        m["xml_extract.parse_runs_per_op"] = _mean(
            sum(n["metrics"].get("number of output rows", 0) > 0 for n in _py_nodes(t, "xml_extract")) for t in xml
        )
    if hasattr(wl, "n_bad"):
        m["xml_extract.error_share"] = wl.n_bad / wl.n_extracts

    conv = [t for t in traces if t.kind == "convert"]
    if conv:
        m["pipeline.jobs_per_op"] = _mean(len(t.jobs) for t in conv)
        # the jobs convert_extracts runs itself, outside any operator call,
        # that are not table writes: its count() probes.  Their call site
        # is an AQE thread, not pipeline.py, so they are found this way.
        probes = sum(
            tr.union_seconds([(j.start, j.end) for j in t.jobs if t.job_module[j.id] == "pipeline" and j.method != "parquet"])
            for t in conv
        )
        m["pipeline.driver_probe_share"] = _ratio(probes, sum(t.wall for t in conv))

    m["tiling.python_share"] = _share_of_run(traces, "tiling")
    tiles = sum(_node_sum(t, "number of output rows", lambda n: n in _py_nodes(t, "tiling")) for t in traces)
    m["tiling.tiles_per_s"] = _ratio(tiles, sum(_python_s(t, "tiling") for t in traces))

    if conv:
        m["checkpoint.write_share"] = _ratio(sum(t.module_s.get("checkpoint", 0.0) for t in conv), sum(t.wall for t in conv))
        m["checkpoint.jobs_per_op"] = _mean(_jobs_of(t, "checkpoint") for t in conv)
        size = rows = 0
        for t in conv:
            for table in ("join", "tiles"):
                data = os.path.join(work, "out", t.op, table, "data")
                size += _dir_bytes(data)
            rows += sum(_node_sum(t, "number of output rows", lambda n: n in _py_nodes(t, mod)) for mod in ("spatial_join", "tiling"))
        m["checkpoint.bytes_per_row"] = _ratio(size, rows)
    exp = [t for t in traces if t.kind == "export"]
    if exp:
        wall = sum(t.wall for t in exp)
        fetch = sum(
            tr.union_seconds([(j.start, j.end) for j in t.jobs if t.job_module[j.id] == "sinks"]) for t in exp
        )
        m["sinks.fetch_share"] = _ratio(fetch, wall)
        m["sinks.write_share"] = _ratio(sum(t.module_s.get("sinks", 0.0) for t in exp) - fetch, wall)
        size = sum(_dir_bytes(os.path.join(work, "out", t.op, "export")) for t in exp)
        rows = sum(o["items"] for o in ops if o["op"] in {t.op for t in exp})
        m["sinks.bytes_per_row"] = _ratio(size, rows)

    m["imaging_ops.python_share"] = _share_of_run(traces, "imaging_ops")
    imaging = [o for o in ops if o["kind"] == "imaging"]
    if imaging:
        m["imaging_ops.ok_share"] = _mean(o["parts"].get("ok_share", 0.0) for o in imaging)
    dd = [t for t in traces if t.kind == "dedup"]
    if dd:
        docs = wl.n_docs + len(wl.want_twins)
        joined = [[n["metrics"].get("number of output rows", 0.0) for n in t.nodes if n["name"] in _JOINS] for t in dd]
        m["dedupe.candidate_pairs_per_doc"] = _mean(max(j, default=0.0) / docs for j in joined)
        m["dedupe.verify_keep_ratio"] = _mean(_ratio(len(wl.want_twins), min(j, default=0.0)) for j in joined)

    m["storage.persisted_blocks"] = ops[-1]["persisted_blocks"]
    m["storage.persisted_mb"] = ops[-1]["persisted_bytes"] / 1e6
    m["storage.growth_blocks_per_op"] = _ratio(ops[-1]["persisted_blocks"] - ops[0]["persisted_blocks"], len(ops) - 1)
    m["process.peak_rss_mb"] = peak_rss / 1e6

    if traces:
        wall = sum(t.wall for t in traces)
        m["op.jobs"] = _mean(len(t.jobs) for t in traces)
        m["op.stages"] = _mean(len(t.stages) for t in traces)
        m["op.tasks"] = _mean(sum(s["tasks"] for s in t.stages) for t in traces)
        m["op.cpu_s"] = _mean(sum(s["cpu_s"] for s in t.stages) for t in traces)
        m["op.cpu_util"] = _ratio(sum(s["cpu_s"] for t in traces for s in t.stages), wall * nproc)
        m["op.gc_share"] = _ratio(sum(s["gc_s"] for t in traces for s in t.stages), sum(_run_s(t) for t in traces))
        m["op.python_s"] = _mean(_python_s(t) for t in traces)
        m["op.python_start_share"] = _ratio(
            sum(n["metrics"].get("time to start Python workers", 0.0) for t in traces for n in _py_nodes(t)),
            sum(_python_s(t) for t in traces),
        )
        m["op.driver_s"] = _mean(t.wall - tr.union_seconds([(j.start, j.end) for j in t.jobs]) for t in traces)
    m["op.failed_ratio"] = _ratio(sum(not o["ok"] for o in ops), len(ops))

    over = []
    for kind in wl.kinds:
        on = [o["secs"] for o in ops if o["kind"] == kind and o["traced"] and not o["cold"]]
        off = [o["secs"] for o in ops if o["kind"] == kind and not o["traced"] and not o["cold"]]
        if on and off:
            over.append(statistics.median(on) - statistics.median(off))
    m["trace.overhead_ms"] = _mean(over) * 1e3
    m["trace.read_ms"] = _mean(o["read_s"] for o in ops if o["traced"]) * 1e3
    m["trace.spans_per_op"] = _ratio(len(tracer.spans), len(traces))
    m["knn.frontier_share"] = getattr(wl, "frontier_share", 0.0)
    m.update(named)
    return {name: {"value": float(m[name]), "unit": units[name]} for name in units}
