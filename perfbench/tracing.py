"""Spans around the package's public functions, and Spark's own record
of what each op ran, read from the JVM status store over py4j.

Nothing here changes the program: spans come from wrapping module
attributes for the duration of a traced op, and the job/stage/plan-node
numbers come from ``AppStatusStore`` and ``SQLAppStatusStore``, which
are kept with the UI disabled.  Each op runs under its own job group, so
every job it triggers (AQE stage jobs included) can be found again.
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from rosreestr_xml_to_gis_converter_spark import checkpoint, pipeline, sinks
from rosreestr_xml_to_gis_converter_spark.operators import dedupe, imaging_ops, knn
from rosreestr_xml_to_gis_converter_spark.operators import spatial_join as sj

PACKAGE = "rosreestr_xml_to_gis_converter_spark"

# (owner, attribute, module label): the public calls a traced op records.
# pipeline imports some operators by name, so those names are wrapped in
# the pipeline namespace too.
TRACED_CALLS = [
    (sj, "spatial_join", "spatial_join"),
    (sj, "prepare_cover", "spatial_join"),
    (sj, "build_parcel_cover", "grid"),
    (knn, "knn_grid", "knn"),
    (pipeline, "convert_extracts", "pipeline"),
    (pipeline, "export_outputs", "pipeline"),
    (pipeline, "build_parcel_layer", "pipeline"),
    (pipeline, "reference_output_rows", "pipeline"),
    (pipeline, "parse_extracts", "xml_extract"),
    (pipeline, "build_parcel_cover", "grid"),
    (pipeline, "spatial_join", "spatial_join"),
    (pipeline, "tile_masks", "tiling"),
    (checkpoint.CheckpointedWriter, "write", "checkpoint"),
    (checkpoint.CheckpointedWriter, "read", "checkpoint"),
    (sinks, "write_shapefile", "sinks"),
    (sinks, "write_xlsx", "sinks"),
    (imaging_ops, "validate_images", "imaging_ops"),
    (imaging_ops, "image_features", "imaging_ops"),
    (dedupe, "minhash_lsh_pairs", "dedupe"),
]

# package file -> module label, for jobs whose call site is in the package
_FILE_MODULE = {
    "operators/spatial_join.py": "spatial_join",
    "operators/knn.py": "knn",
    "operators/tiling.py": "tiling",
    "operators/imaging_ops.py": "imaging_ops",
    "operators/dedupe.py": "dedupe",
    "sources/xml_extract.py": "xml_extract",
    "index/grid.py": "grid",
    "pipeline.py": "pipeline",
    "checkpoint.py": "checkpoint",
    "sinks/shapefile.py": "sinks",
    "sinks/xlsx.py": "sinks",
}

# Python UDF plan nodes -> module, by an output column only that UDF emits
_UDF_COLUMNS = [
    ("mask_md5", "tiling"),
    ("source_schema", "xml_extract"),
    ("psnr", "imaging_ops"),
    ("ahash", "imaging_ops"),
    ("full", "grid"),
    ("image_id", "spatial_join"),
]
PY_NODES = ("MapInArrow", "MapInPandas", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython")


@dataclass
class Span:
    name: str
    module: str
    start: float
    end: float
    parent: int | None
    op: str
    kind: str = "call"


@dataclass
class Tracer:
    """Records spans in memory while installed; written out at the end."""

    spans: list[Span] = field(default_factory=list)
    op: str = ""
    _stack: list[int] = field(default_factory=list)

    def _wrap(self, fn, name: str, module: str):
        tracer = self

        def traced(*args, **kwargs):
            idx = len(tracer.spans)
            parent = tracer._stack[-1] if tracer._stack else None
            tracer.spans.append(Span(name, module, time.time(), 0.0, parent, tracer.op))
            tracer._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._stack.pop()
                tracer.spans[idx].end = time.time()

        return traced

    @contextlib.contextmanager
    def op_span(self, op: str, kind: str, module: str):
        """Root span of one op, with the package calls wrapped inside it."""
        self.op = op
        saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _ in TRACED_CALLS]
        for owner, attr, label in TRACED_CALLS:
            setattr(owner, attr, self._wrap(getattr(owner, attr), f"{label}.{attr}", label))
        idx = len(self.spans)
        self.spans.append(Span(f"op.{kind}", module, time.time(), 0.0, None, op, "op"))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)


def _seq(x):
    it = x.iterator()
    while it.hasNext():
        yield it.next()


def _opt(x):
    return x.get() if x.isDefined() else None


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A plan metric as the status store formats it ('2,734',
    '7.2 KiB', or 'total (min, med, max ...)\\n5.5 s (...)') -> a number
    in bytes, seconds or rows."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Job:
    id: int
    callsite: str
    start: float
    end: float
    stages: list[int]

    @property
    def method(self) -> str:
        return self.callsite.split(" at ", 1)[0]

    def package_module(self) -> str | None:
        where = self.callsite.split(" at ", 1)[-1]
        if f"{PACKAGE}/" not in where:
            return None
        rel = where.split(f"{PACKAGE}/", 1)[1].rsplit(":", 1)[0]
        return _FILE_MODULE.get(rel, rel)


class StatusReader:
    """Jobs, stages, plan-node metrics and storage of one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def jobs(self, group: str) -> list[Job]:
        out = []
        for j in _seq(self.store.jobsList(None)):
            if _opt(j.jobGroup()) != group:
                continue
            start, end = _opt(j.submissionTime()), _opt(j.completionTime())
            out.append(Job(
                j.jobId(), j.name(),
                start.getTime() / 1000.0 if start else 0.0,
                end.getTime() / 1000.0 if end else 0.0,
                list(_seq(j.stageIds())),
            ))
        return sorted(out, key=lambda j: j.start)

    def stage(self, sid: int) -> dict | None:
        try:
            s = self.store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage of a job that never got submitted
            return None
        if s.status().toString() != "COMPLETE":
            return None
        d = {
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "skew": 1.0,
        }
        summary = _opt(self.store.taskSummary(sid, s.attemptId(), self._quantiles))
        if summary is not None:
            med, top = list(_seq(summary.executorRunTime()))
            d["skew"] = top / med if med > 0 else 1.0
        return d

    def plan_nodes(self, job_ids: set[int]) -> list[dict]:
        """Plan-graph nodes of every SQL execution that ran one of
        ``job_ids``, with their metrics parsed to numbers."""
        nodes = []
        for e in _seq(self.sql.executionsList()):
            ej = {int(k) for k in _seq(e.jobs().keys())}
            if not ej & job_ids:
                continue
            values = self.sql.executionMetrics(e.executionId())
            for n in _seq(self.sql.planGraph(e.executionId()).allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = _opt(values.get(m.accumulatorId()))
                    if v is not None:
                        metrics[m.name()] = parse_metric(v)
                nodes.append({"name": n.name(), "desc": n.desc(), "metrics": metrics})
        return nodes

    def storage(self) -> tuple[int, int]:
        """(persisted blocks, persisted bytes) over all cached RDDs."""
        blocks = size = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            blocks += info.numCachedPartitions()
            size += info.memSize() + info.diskSize()
        return blocks, size


def udf_module(desc: str) -> str:
    out = desc.split(")#", 1)[-1] if ")#" in desc else desc
    for col, module in _UDF_COLUMNS:
        if re.search(rf"\b{col}#", out):
            return module
    return "other"


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class OpTrace:
    """Everything the status store knows about one traced op."""

    op: str
    kind: str
    module: str
    wall: float
    jobs: list[Job]
    stages: list[dict]
    nodes: list[dict]
    job_module: dict[int, str]
    module_s: dict[str, float]


def attribute(tracer: Tracer, reader: StatusReader, op: str, kind: str, module: str, wall: float) -> OpTrace:
    """Read the op's jobs back and hang them under the spans: a job whose
    call site is a package file belongs to that module (``toLocalIterator``
    fetches belong to the sink draining them); otherwise to the innermost
    span open when it was submitted, else to the op's own module."""
    jobs = reader.jobs(op)
    calls = [(i, s) for i, s in enumerate(tracer.spans) if s.op == op and s.kind == "call"]
    root = next(i for i, s in enumerate(tracer.spans) if s.op == op and s.kind == "op")
    job_module = {}
    for j in jobs:
        open_at = [(i, s) for i, s in calls if s.start <= j.start <= s.end]
        parent, inner = max(open_at, key=lambda p: p[1].start) if open_at else (root, None)
        if j.method == "toLocalIterator":
            mod = "sinks"
        else:
            mod = j.package_module() or (inner.module if inner else module)
        job_module[j.id] = mod
        tracer.spans.append(Span(f"job.{j.id}:{j.callsite}", mod, j.start, j.end, parent, op, "job"))
    # a module's time: the union of its jobs, plus its call spans' self
    # time (the part no child span or job covers: driver-side work)
    module_s: dict[str, float] = {}
    by_mod: dict[str, list[tuple[float, float]]] = {}
    for j in jobs:
        by_mod.setdefault(job_module[j.id], []).append((j.start, j.end))
    for mod, iv in by_mod.items():
        module_s[mod] = union_seconds(iv)
    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.op == op and s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    for i, s in calls:
        covered = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(i, [])]
        self_s = (s.end - s.start) - union_seconds([c for c in covered if c[0] < c[1]])
        module_s[s.module] = module_s.get(s.module, 0.0) + max(0.0, self_s)
    sids = sorted({sid for j in jobs for sid in j.stages})
    stages = [d for sid in sids if (d := reader.stage(sid)) is not None]
    nodes = reader.plan_nodes({j.id for j in jobs})
    return OpTrace(op, kind, module, wall, jobs, stages, nodes, job_module, module_s)
