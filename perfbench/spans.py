"""Op runner, spans and per-layer counters.

Every timed op runs through :class:`Runner.op`. Inside it, the workload
calls the engine only through ``ctx.call(layer, fn, ...)`` (a public
function, timed as ``build``) and ``ctx.collect(layer, df)`` (the forcing
action). With tracing off these are plain calls plus one clock read.

With tracing on, each op runs under its own job group and the runner
keeps spans ``(name, layer, start, end, parent, op_id)`` in memory. Jobs
are attributed by job id: Spark numbers jobs in submission order, so the
jobs a span started are exactly the ids handed out between its start and
end. That covers jobs launched from helper threads that do not inherit
the caller's job group (``index.build.write_index``) and from streaming
execution threads, which run under their own group. After each op the
runner drains the listener bus and reads the status store for those jobs
and their stages; for collect-forced ops it reads the Catalyst phase
times of the ``QueryExecution`` that ran.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

# Module layers: public-function owners whose calls the workloads time.
MODULE_LAYERS = (
    "sources.json_ingest",
    "documents.merge",
    "documents.delete",
    "documents.reassemble",
    "index.build",
    "index.search",
    "index.rollup",
    "streaming",
    "plans.sql",
    "operators.relational",
    "operators.dedup",
    "operators.sketches",
    "operators.similarity",
    "operators.text_analysis",
    "operators.graph",
    "operators.pipeline",
    "operators.behavioral",
    "sources.maintenance",
)
MS_ONLY_LAYERS = ("session", "tables")
LAYER_COUNTERS = (
    ("ms", "ms"),
    ("build_ms", "ms"),
    ("jobs", "count"),
    ("task_ms", "ms"),
    ("shuffle_write_bytes", "bytes"),
)
ENGINE_COUNTERS = (
    ("driver.outside_jobs_ms", "ms"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"),
    ("scheduler.failed_tasks", "count"),
    ("executor.task_ms", "ms"),
    ("executor.cpu_ms", "ms"),
    ("executor.gc_ms", "ms"),
    ("shuffle.read_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"),
    ("shuffle.spill_bytes", "bytes"),
    ("stores.builds", "count"),
    ("stores.build_ms", "ms"),
    ("stores.bytes", "bytes"),
    ("streaming.ckpt_dirs", "count"),
    ("streaming.ckpt_bytes", "bytes"),
    ("io.bytes_written", "bytes"),
    ("io.files_written", "count"),
    ("memory.peak_rss_mb", "MB"),
    ("tracing.overhead_pct", "%"),
)


# Scopes of the stores.* counters (bdi_store_* directories in the run's
# private TMPDIR):
# - stores.builds: directories created during the timed loop; 0 when every
#   store is built in setup and reused.
# - stores.build_ms: wall time of the ops, setup and loop, during which a
#   directory appeared. It is the whole op's time, serve work included,
#   not the build alone.
# - stores.bytes: size of every directory the run left, setup and loop.
#
# Which end-to-end metric (on which workload) each per-layer metric should
# move, written down before any optimisation is measured. First matching
# prefix wins.
TARGETS = (
    ("executor.gc_ms", (("latency_p95_ms", "analytics"), ("latency_p95_ms", "search_serve"))),
    ("memory.", (("setup_s", "analytics"), ("latency_p95_ms", "analytics"))),
    ("executor.", (("ops_per_s", "analytics"), ("latency_p95_ms", "analytics"))),
    ("shuffle.", (("ops_per_s", "analytics"), ("latency_p95_ms", "analytics"))),
    ("stores.builds", (("latency_p95_ms", "search_serve"),)),
    ("stores.", (("setup_s", "search_serve"), ("setup_s", "analytics"))),
    ("session.", (("setup_s", "doc_write"), ("setup_s", "search_serve"), ("setup_s", "analytics"))),
    ("catalyst.", (("latency_p50_ms", "search_serve"), ("latency_p50_ms", "analytics"))),
    ("scheduler.", (("latency_p50_ms", "search_serve"), ("latency_p50_ms", "analytics"))),
    ("driver.", (("latency_p50_ms", "search_serve"), ("latency_p50_ms", "analytics"))),
    ("tables.", (("latency_p50_ms", "analytics"),)),
    ("tracing.", ()),  # the tracer's own cost; moves nothing
    ("sources.json_ingest.", (("docs_per_s", "doc_write"), ("store_bytes_per_input_byte", "doc_write"))),
    ("documents.reassemble.", (("latency_p50_ms", "search_serve"), ("docs_per_s", "doc_write"))),
    ("documents.", (("docs_per_s", "doc_write"), ("store_bytes_per_input_byte", "doc_write"))),
    ("index.build.", (("docs_per_s", "doc_write"), ("setup_s", "search_serve"))),
    ("streaming.", (("docs_per_s", "doc_write"), ("store_bytes_per_input_byte", "doc_write"))),
    ("io.", (("docs_per_s", "doc_write"), ("store_bytes_per_input_byte", "doc_write"))),
    ("index.", (("latency_p50_ms", "search_serve"), ("latency_p95_ms", "search_serve"))),
    ("", (("ops_per_s", "analytics"), ("latency_p95_ms", "analytics"))),  # operators, plans, maintenance
)


def target(name: str) -> tuple[tuple[str, str], ...]:
    """(end-to-end metric, workload) pairs a per-layer metric should move."""
    if name.endswith(".build_ms"):  # driver-side plan construction: the floor
        return (("latency_p50_ms", "search_serve"), ("latency_p50_ms", "analytics"))
    return next(t for prefix, t in TARGETS if name.startswith(prefix))


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in print order."""
    out = [(f"{layer}.ms", "ms") for layer in MS_ONLY_LAYERS]
    for layer in MODULE_LAYERS:
        out += [(f"{layer}.{c}", u) for c, u in LAYER_COUNTERS]
    return out + list(ENGINE_COUNTERS)


def module_layer(fn) -> str:
    """The layer of a public function: its module, package prefix dropped."""
    return fn.__module__.removeprefix("bigdataindexing_spark.")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int = 0
    kind: str = "op"  # op | call | force
    trace_s: float = 0.0  # the tracer's own time around this op
    job_lo: int = 0
    job_hi: int = 0
    phases: dict = field(default_factory=dict)


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under a directory."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return files, size


def store_dirs(tmp: str, prefix: str = "bdi_store_") -> set[str]:
    try:
        return {n for n in os.listdir(tmp) if n.startswith(prefix)}
    except FileNotFoundError:
        return set()


class OpContext:
    def __init__(self, runner: "Runner", op_span: Span, op_index: int):
        self.runner = runner
        self.op = op_span
        self.index = op_index

    def call(self, layer: str, fn, *args, **kwargs):
        """Call one engine public function (plan construction plus any
        eager actions it runs), timed as ``build``."""
        return self.runner._span(self, "call", layer, fn.__name__, fn, args, kwargs)

    def collect(self, layer: str, df) -> list:
        """The forcing action: ``collect()`` on the op's DataFrame."""
        return self.runner._span(self, "force", layer, "collect", None, (df,), {})


class Runner:
    """Runs ops closed-loop, one at a time, and keeps their latencies;
    with ``trace`` on also keeps spans and per-job Spark metrics."""

    def __init__(self, spark, trace: bool, tmp_dir: str):
        self.spark = spark
        self.trace = trace
        self.tmp_dir = tmp_dir
        self.latencies: dict[int, tuple[str, float]] = {}  # timed op id -> (name, s)
        self.spans: list[Span] = []
        self.jobs: dict[int, dict] = {}
        self.store_build_s = 0.0
        self._n = 0
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()

    # -- job ids and status store -------------------------------------
    def next_job_id(self) -> int:
        return self._jsc.dagScheduler().nextJobId()

    def _read_jobs(self, lo: int, hi: int) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        for jid in range(lo, hi):
            jd = store.job(jid)
            sub = jd.submissionTime()
            end = jd.completionTime()
            stages = []
            sids = jd.stageIds()
            for i in range(sids.size()):
                sd = store.lastStageAttempt(sids.apply(i))
                if str(sd.status()) == "SKIPPED":
                    continue
                stages.append({
                    "tasks": sd.numCompleteTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "task_ms": sd.executorRunTime(),
                    "cpu_ms": sd.executorCpuTime() / 1e6,
                    "gc_ms": sd.jvmGcTime(),
                    "shuffle_read": sd.shuffleReadBytes(),
                    "shuffle_write": sd.shuffleWriteBytes(),
                    "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "output_bytes": sd.outputBytes(),
                })
            self.jobs[jid] = {
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": end.get().getTime() / 1000 if end.isDefined() else None,
                "group": jd.jobGroup().get() if jd.jobGroup().isDefined() else None,
                "stages": stages,
            }

    # -- spans ----------------------------------------------------------
    def _span(self, ctx: OpContext, kind, layer, name, fn, args, kwargs):
        if not self.trace:
            return args[0].collect() if kind == "force" else fn(*args, **kwargs)
        # the job-id reads and the phase read are the tracer's own cost:
        # outside the span, inside the op's trace_s
        t0 = time.perf_counter()
        job_lo = self.next_job_id()
        ctx.op.trace_s += time.perf_counter() - t0
        sp = Span(name=name, layer=layer, start=time.time(), parent=ctx.index,
                  op_id=ctx.op.op_id, kind=kind, job_lo=job_lo)
        if kind == "force":
            out = args[0].collect()
        else:
            out = fn(*args, **kwargs)
        sp.end = time.time()
        t0 = time.perf_counter()
        sp.job_hi = self.next_job_id()
        if kind == "force":
            sp.phases = _phases(args[0])
        ctx.op.trace_s += time.perf_counter() - t0
        self.spans.append(sp)
        return out

    def op(self, layer: str, name: str, fn, timed: bool = True):
        """Run ``fn(ctx)`` as one op; returns its result. Exceptions
        propagate to the caller, which counts them as failed ops."""
        self._n += 1
        op_id = self._n
        span = Span(name=name, layer=layer, start=0.0, op_id=op_id)
        if self.trace:
            t0 = time.perf_counter()
            self._sc.setJobGroup(f"op-{op_id}", name)
            before = store_dirs(self.tmp_dir)
            span.job_lo = self.next_job_id()
            self.spans.append(span)
            ctx = OpContext(self, span, len(self.spans) - 1)
            span.trace_s += time.perf_counter() - t0
        else:
            ctx = OpContext(self, span, 0)
        start = time.perf_counter()
        span.start = time.time()
        try:
            return fn(ctx)
        finally:
            wall = time.perf_counter() - start
            span.end = time.time()
            print(f"  op {name}: {wall * 1000:.0f} ms{'' if timed else ' (setup)'}", file=sys.stderr)
            if timed:
                self.latencies[op_id] = (name, wall)
            if self.trace:
                t0 = time.perf_counter()
                span.job_hi = self.next_job_id()
                self._read_jobs(span.job_lo, span.job_hi)
                if store_dirs(self.tmp_dir) - before:
                    self.store_build_s += wall
                self._sc.setJobGroup(None, None)
                span.trace_s += time.perf_counter() - t0

    def write_spans(self, path: str) -> None:
        """Write every span, one JSON object per line."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "layer": s.layer, "kind": s.kind,
                    "start": s.start, "end": s.end, "parent": s.parent, "op_id": s.op_id,
                    "jobs": list(range(s.job_lo, s.job_hi)),
                }) + "\n")

    # -- per-layer report -----------------------------------------------
    def layer_metrics(self, loop_ops: set[int], session_s: float, loop_s: float,
                      extra: dict) -> dict[str, float]:
        """Per-layer counters over the ops in ``loop_ops`` (the timed
        loop). ``extra`` carries the store/io/streaming counts measured
        from the file system."""
        m: dict[str, float] = defaultdict(float)
        m["session.ms"] = session_s * 1000
        ops = {s.op_id: s for s in self.spans if s.kind == "op" and s.op_id in loop_ops}
        children = defaultdict(list)
        for s in self.spans:
            if s.kind != "op" and s.op_id in ops:
                children[s.op_id].append(s)

        def owner(jid: int, op: Span) -> str:
            for c in children[op.op_id]:
                if c.job_lo <= jid < c.job_hi:
                    return c.layer
            return op.layer

        for op in ops.values():
            covered = 0.0
            for c in children[op.op_id]:
                d = (c.end - c.start) * 1000
                m[f"{c.layer}.ms"] += d
                covered += d
                if c.kind == "call" and c.layer not in MS_ONLY_LAYERS:
                    m[f"{c.layer}.build_ms"] += d
                for k in ("analysis", "optimization", "planning"):
                    m[f"catalyst.{k}_ms"] += c.phases.get(k, 0.0)
            m[f"{op.layer}.ms"] += (op.end - op.start) * 1000 - covered
            intervals = []
            for jid in range(op.job_lo, op.job_hi):
                job = self.jobs[jid]
                layer = owner(jid, op)
                m["scheduler.jobs"] += 1
                m[f"{layer}.jobs"] += 1  # an ms-only layer here fails the name check
                for st in job["stages"]:
                    m["scheduler.stages"] += 1
                    m["scheduler.tasks"] += st["tasks"]
                    m["scheduler.failed_tasks"] += st["failed_tasks"]
                    m["executor.task_ms"] += st["task_ms"]
                    m["executor.cpu_ms"] += st["cpu_ms"]
                    m["executor.gc_ms"] += st["gc_ms"]
                    m["shuffle.read_bytes"] += st["shuffle_read"]
                    m["shuffle.write_bytes"] += st["shuffle_write"]
                    m["shuffle.spill_bytes"] += st["spill"]
                    m["io.bytes_written"] += st["output_bytes"]
                    if layer not in MS_ONLY_LAYERS:
                        m[f"{layer}.task_ms"] += st["task_ms"]
                        m[f"{layer}.shuffle_write_bytes"] += st["shuffle_write"]
                if job["start"] is not None:
                    intervals.append((max(job["start"], op.start),
                                      min(job["end"] or op.end, op.end)))
            m["driver.outside_jobs_ms"] += ((op.end - op.start) - _union(intervals)) * 1000
        m.update(extra)
        m["stores.build_ms"] = self.store_build_s * 1000
        m["tracing.overhead_pct"] = 100 * sum(op.trace_s for op in ops.values()) / max(loop_s, 1e-9)
        names = [n for n, _ in per_layer_names()]
        unknown = set(m) - set(names)
        if unknown:
            raise AssertionError(f"unlisted per-layer metrics: {sorted(unknown)}")
        return {n: float(m.get(n, 0.0)) for n in names}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of the QueryExecution ``collect`` ran:
    ``Dataset.collect`` executes the DataFrame's own QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        if p.isDefined():
            out[k] = float(p.get().durationMs())
    return out
