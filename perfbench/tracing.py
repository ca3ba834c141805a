"""Traced run: spans around the program's layer functions, Spark jobs
attributed to layers, per-layer metrics from the status REST API.

Tracing lives in the benchmark process only.  ``Tracer.install`` wraps
each public layer function and rebinds every ``meresco_rdf_spark``
module attribute that holds the original, so callers inside the program
(``run_checkpointed`` resolves ``detect_mentions`` from its own module
globals) call the wrapper.  ``Tracer.uninstall`` restores them.

Every span has a name, layer, start, end, parent and request id, and runs
its Spark jobs under its own job group (``<tag>:<span id>``).  Attribution:
a job belongs to the span open when it is submitted; with no layer span
open it belongs to the layer whose call last returned (group
``<tag>:<span id>:tail``), because lazy DataFrames run in the caller's next
action.  The fused emit plan therefore runs, and reports, under
``materialize``.  The same rule assigns driver wall time: the gap after a
top-level layer span counts towards that layer's ``self_s``.
"""

from __future__ import annotations

import functools
import json
import sys
import time
import urllib.request
from dataclasses import dataclass, field

PKG = "meresco_rdf_spark"

# layer -> (module, public names).  Layers are named after modules.
LAYERS = {
    "session": ("session", ("get_spark",)),
    "extract": ("kg.extract", ("detect_mentions",)),
    "emit": ("kg.extract", ("mention_triples", "pipeline_triples",
                            "label_triples_from_counts")),
    "canonicalize": ("kg.canonicalize", ("canonical_surface_map",
                                         "rewrite_triples",
                                         "sameas_triples")),
    "materialize": ("kg.materialize", ("write_triple_table",
                                       "write_adjacency_table")),
    "checkpoint": ("kg.checkpoint", ("check_bucket_scheme",
                                     "input_fingerprints", "pending_buckets",
                                     "drop_stale_buckets", "record_done")),
    "rdfxml_sink": ("sinks.rdfxml_sink", ("write_rdfxml_shards",
                                          "validate_bnode_locality")),
    "graph_ops": ("operators.graph_ops", ("scan", "find_labels",
                                          "match_patterns")),
    "serializer": ("rdfxml.serializer", ("serialize_triples",)),
}

# what each layer should move, and on which workload (kept next to the
# layer list so the two cannot drift apart; printed with the traced run)
MOVES = {
    "session": "setup_s on both workloads",
    "extract": "build_s, triples_per_s on both, more on kg_many_entities",
    "emit": "build_s on both (the fused emit plan reports under materialize)",
    "canonicalize": "build_s on kg_many_entities; about 0 on kg_build",
    "materialize": "build_s on both; lookup_* on both (table layout)",
    "checkpoint": "build_s on kg_build; not used by kg_many_entities",
    "rdfxml_sink": "export_s on both",
    "graph_ops": "lookup_* on both",
    "serializer": "export_s (executor side) on both; lookup_* only once "
                  "descriptions stop being the fastest third",
}

PER_LAYER = ("calls", "self_s", "exec_run_s", "exec_cpu_s", "idle_core_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "rows_out",
             "failed_tasks")

# longest wait for the status store to catch up with the listener bus
STATUS_SETTLE_S = 30.0

# job groups for work that belongs to no layer span
SETUP_GROUP = "pb-setup"
CHECK_GROUP = "pb-check"


@dataclass
class Span:
    id: int
    name: str
    layer: str | None          # None for a request (op) root span
    parent: int | None
    request: int | None
    start: float
    end: float | None = None
    children_s: float = 0.0
    tail_s: float = 0.0        # caller time after return, see module doc


@dataclass
class Tracer:
    tag: str = "pb"            # job group prefix, one per tracer
    enabled: bool = False
    sc: object = None          # SparkContext, set once the session exists
    spans: list = field(default_factory=list)
    stack: list = field(default_factory=list)
    _patched: list = field(default_factory=list)
    _last_top: Span | None = None  # last top-level layer span of this op
    _next_request: int = 0

    # -- patching -------------------------------------------------------
    def install(self) -> None:
        import importlib

        for layer, (mod_name, names) in LAYERS.items():
            mod = importlib.import_module("%s.%s" % (PKG, mod_name))
            for name in names:
                orig = getattr(mod, name)
                wrapped = self._wrap(layer, "%s.%s" % (mod_name, name), orig)
                for m in list(sys.modules.values()):
                    if not getattr(m, "__name__", "").startswith(PKG):
                        continue
                    for attr, value in list(vars(m).items()):
                        if value is orig:
                            setattr(m, attr, wrapped)
                            self._patched.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    # -- spans ----------------------------------------------------------
    def _group(self, group: str) -> None:
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(group, group, False)

    def span(self, name: str, layer: str | None):
        return _SpanCtx(self, name, layer)

    def request(self, name: str):
        """Root span of one operation; layer spans inside it share its
        request id."""
        return _SpanCtx(self, name, None)

    def _enter(self, name: str, layer: str | None) -> Span:
        now = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        if layer is None:
            request = self._next_request
            self._next_request += 1
            self._last_top = None
        else:
            request = parent.request if parent else None
            if parent is None or parent.layer is None:
                self._close_tail(now)
        span = Span(len(self.spans), name, layer,
                    parent.id if parent else None, request, now)
        self.spans.append(span)
        self.stack.append(span)
        self._group("%s:%d" % (self.tag, span.id))
        return span

    def _exit(self, span: Span) -> None:
        now = span.end = time.perf_counter()
        self.stack.pop()
        parent = self.stack[-1] if self.stack else None
        if parent is not None:
            parent.children_s += now - span.start
        if span.layer is None:
            self._close_tail(now)
            self._group(SETUP_GROUP)
        elif parent is None or parent.layer is None:
            self._last_top = span
            self._group("%s:%d:tail" % (self.tag, span.id))
        else:
            self._group("%s:%d" % (self.tag, parent.id))

    def _close_tail(self, now: float) -> None:
        if self._last_top is not None:
            self._last_top.tail_s += now - self._last_top.end
            self._last_top = None

    def set_group(self, group: str) -> None:
        """Job group for benchmark work outside any span."""
        self._group(group)

    # -- per-layer metrics -------------------------------------------------
    def layer_of_group(self, group: str | None) -> str | None:
        tag, _, rest = (group or "").partition(":")
        if tag != self.tag or not rest:
            return None
        span = self.spans[int(rest.split(":")[0])]
        return span.layer or "unattributed"

    def metrics(self, cores: int, n_requests: int) -> dict:
        """Per-layer metrics, ``graph_ops.input_mb_per_request`` and
        ``trace.unattributed_exec_share``."""
        out = {}
        graph_ops_input_mb = 0.0
        layer_stats = {layer: dict.fromkeys(PER_LAYER, 0.0)
                       for layer in LAYERS}
        for s in self.spans:
            if s.layer is not None and s.end is not None:
                st = layer_stats[s.layer]
                st["calls"] += 1
                st["self_s"] += (s.end - s.start) - s.children_s + s.tail_s
        jobs, stages = fetch_status(self.sc)
        owner = {}  # stage id -> layer of the first job that ran it
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            layer = self.layer_of_group(job.get("jobGroup"))
            for sid in job.get("stageIds", ()):
                owner.setdefault(sid, layer)
        unattributed = total = 0.0
        for stage in stages:
            layer = owner.get(stage["stageId"])
            if layer is None:
                continue
            run_s = stage.get("executorRunTime", 0) / 1e3
            total += run_s
            if layer == "unattributed":
                unattributed += run_s
                continue
            st = layer_stats[layer]
            st["exec_run_s"] += run_s
            st["exec_cpu_s"] += stage.get("executorCpuTime", 0) / 1e9
            st["shuffle_read_mb"] += stage.get("shuffleReadBytes", 0) / 1e6
            st["shuffle_write_mb"] += stage.get("shuffleWriteBytes", 0) / 1e6
            st["spill_mb"] += stage.get("diskBytesSpilled", 0) / 1e6
            st["rows_out"] += (stage.get("outputRecords", 0)
                               + stage.get("shuffleWriteRecords", 0))
            st["failed_tasks"] += stage.get("numFailedTasks", 0)
            if layer == "graph_ops":
                graph_ops_input_mb += stage.get("inputBytes", 0) / 1e6
        for layer, st in layer_stats.items():
            st["idle_core_s"] = st["self_s"] * cores - st["exec_run_s"]
            for key in PER_LAYER:
                out["%s.%s" % (layer, key)] = st[key]
        out["graph_ops.input_mb_per_request"] = (
            graph_ops_input_mb / max(n_requests, 1))
        out["trace.unattributed_exec_share"] = (
            unattributed / total if total else 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f)


class _SpanCtx:
    """A span; a no-op while tracing is off, and inside a ``session``
    span (the warm-up's layer calls count as session work)."""

    def __init__(self, tracer: Tracer, name: str, layer: str | None):
        self.tracer, self.name, self.layer = tracer, name, layer
        self.span = None

    def __enter__(self):
        t = self.tracer
        if t.enabled and not (t.stack and t.stack[-1].layer == "session"):
            self.span = t._enter(self.name, self.layer)
        return self.span

    def __exit__(self, *exc):
        if self.span is not None:
            self.tracer._exit(self.span)
        return False


def fetch_status(sc) -> tuple[list, list]:
    """All jobs and stage attempts from the status REST API (the way
    ``tools/stage_metrics.py`` reads it), once the listener bus has
    caught up: no job running and the job count unchanged for 0.5 s."""
    base = "%s/api/v1/applications/%s" % (sc.uiWebUrl, sc.applicationId)

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as resp:
            return json.load(resp)

    deadline = time.monotonic() + STATUS_SETTLE_S
    seen = -1
    while True:
        jobs = get("/jobs")
        settled = len(jobs) == seen and all(
            j["status"] != "RUNNING" for j in jobs)
        if settled or time.monotonic() > deadline:
            break
        seen = len(jobs)
        time.sleep(0.5)
    stages = [s for s in get("/stages")
              if s["status"] in ("COMPLETE", "FAILED")]
    return jobs, stages
