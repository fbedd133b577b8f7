"""Span tracing around the library's public functions, plus Spark job
attribution from the local event log.

A span records its name, start, end, parent and op id. Spans are kept
in memory, summarised and written out when the run ends. While a span is open
its id is the Spark job group of the client thread, so every Spark job
lands on the innermost open span; job, stage and task metrics are then
read back from Spark's uncompressed JSON event log.

Instrumentation wraps module attributes from the outside (the library
itself is not edited): each target function is replaced, in its own
module and wherever another ``toshokan_spark`` module imported it by
name, with a wrapper that opens a span around the call. An operator's
span therefore covers its plan-building time and any eager jobs it
runs; lazy work lands in the span of the action that consumes it.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute, span name). Names sharing a span name count as one
# layer call; "Class.method" attributes wrap the class attribute.
TARGETS = [
    ("toshokan_spark.catalog", "FsCatalog.get_index", "catalog.read"),
    ("toshokan_spark.catalog", "FsCatalog.segments", "catalog.read"),
    ("toshokan_spark.catalog", "FsCatalog.snapshot", "catalog.read"),
    ("toshokan_spark.catalog", "FsCatalog.deletes", "catalog.read"),
    ("toshokan_spark.catalog", "FsCatalog.commit_segment", "catalog.commit"),
    ("toshokan_spark.catalog", "FsCatalog.swap_segments", "catalog.swap"),
    ("toshokan_spark.search", "search", "search.search"),
    ("toshokan_spark.search", "search_df", "search.search_df"),
    ("toshokan_spark.search", "scored_search_df", "search.scored_search_df"),
    ("toshokan_spark.search", "read_segments", "search.read_segments"),
    ("toshokan_spark.search", "_pruned_segments", "search.prune"),
    ("toshokan_spark.search", "prettify_doc", "search.prettify_doc"),
    ("toshokan_spark.search", "facet_counts", "search.facet_counts"),
    ("toshokan_spark.search", "date_histogram", "search.date_histogram"),
    ("toshokan_spark.plans.ast", "parse_query", "query.parse"),
    ("toshokan_spark.query_sql", "render_node_sql", "query.compile"),
    ("toshokan_spark.query_sql", "compile_query_fast", "query.compile"),
    ("toshokan_spark.query", "QueryCompiler.compile", "query.column_compile"),
    ("toshokan_spark.functions.bm25", "merged_stats_provider", "bm25.stats"),
    ("toshokan_spark.ingest", "ingest_projection", "ingest.projection"),
    ("toshokan_spark.indexer", "index_batch", "indexer.index_batch"),
    ("toshokan_spark.indexer", "build_segment", "indexer.build_segment"),
    ("toshokan_spark.indexer", "write_segment_stats", "indexer.stats"),
    ("toshokan_spark.indexer", "compute_field_histograms", "indexer.histograms"),
    ("toshokan_spark.functions.bloom", "build_token_bloom", "indexer.blooms"),
    ("toshokan_spark.maintenance", "merge_segments", "maintenance.merge"),
    ("toshokan_spark.pipeline", "curate", "pipeline.curate"),
    ("toshokan_spark.operators.text", "normalize_text", "text.normalize_text"),
    ("toshokan_spark.operators.text", "gopher_rules", "text.gopher_rules"),
    ("toshokan_spark.operators.text", "train_hashed_classifier", "text.train_hashed_classifier"),
    ("toshokan_spark.operators.text", "hashed_linear_score", "text.hashed_linear_score"),
    ("toshokan_spark.operators.text", "ccnet_select", "text.ccnet_select"),
    ("toshokan_spark.operators.dedup", "deduplicate_exact", "dedup.deduplicate_exact"),
    ("toshokan_spark.operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("toshokan_spark.operators.dedup", "duplicate_clusters", "dedup.duplicate_clusters"),
    ("toshokan_spark.operators.sampling", "leakage_safe_split", "sampling.leakage_safe_split"),
    ("toshokan_spark.operators.sampling", "pack_training_sequences",
     "sampling.pack_training_sequences"),
    ("toshokan_spark.operators.util", "finalize_cached", "util.finalize_cached"),
]


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op", "attrs")

    def __init__(self, sid, name, start, parent, op):
        self.sid, self.name, self.start, self.parent, self.op = sid, name, start, parent, op
        self.end = None
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one client thread. Disabled tracers cost one attribute
    check per wrapped call and tag no Spark jobs."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.enabled = False
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = None
        self.counters: dict = defaultdict(float)
        # (counter, DataFrame) pairs counted after the op, outside its spans
        self.deferred: list = []
        self._next_sid = 0
        self._patched: list = []

    def reset(self) -> None:
        """Drop the spans and counters recorded so far. Span ids keep
        counting, so jobs tagged with a dropped span match no span."""
        assert not self.stack, "reset inside an open span"
        self.spans = []
        self.counters.clear()

    def count_deferred(self) -> None:
        """Run the counts hooks deferred to the end of the op; their jobs
        carry no job group, so no span or op is charged for them."""
        pending, self.deferred = self.deferred, []
        for name, df in pending:
            self.counters[name] += df.count()

    # -- spans -------------------------------------------------------------
    def _tag(self, span) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc._jsc.setJobGroup(str(span.sid), span.name, False)

    def open(self, name: str) -> "Span | None":
        if not self.enabled:
            return None
        parent = self.stack[-1].sid if self.stack else None
        s = Span(self._next_sid, name, time.time(), parent, self.op)
        self._next_sid += 1
        self.spans.append(s)
        self.stack.append(s)
        self._tag(s)
        return s

    def close(self, s: "Span | None") -> None:
        if s is None:
            return
        s.end = time.time()
        self.stack.pop()
        self._tag(self.stack[-1] if self.stack else None)

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    @contextmanager
    def operation(self, op_id: int, kind: str):
        """One foreground op: a root span that owns every span and job
        opened inside it."""
        self.op = op_id
        s = self.open("op." + kind)
        try:
            yield s
        finally:
            self.close(s)
            self.op = None

    # -- instrumentation ---------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self
        hook = _HOOKS.get(name)

        def wrapper(*args, **kwargs):
            s = tracer.open(name)
            if s is None:
                return fn(*args, **kwargs)
            try:
                if hook is not None:
                    return hook(tracer, s, fn, args, kwargs)
                return fn(*args, **kwargs)
            finally:
                tracer.close(s)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        wrapper.__doc__ = getattr(fn, "__doc__", None)
        return wrapper

    def install(self, targets=TARGETS) -> None:
        """Wrap every target. Aliases (``from m import f`` in another
        toshokan_spark module) are rebound to the same wrapper."""
        for modname, attr, name in targets:
            mod = importlib.import_module(modname)
            owner = mod
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
            wrapped = self._wrap(orig, name)
            self._patched.append((owner, leaf, orig))
            setattr(owner, leaf, wrapped)
            if isinstance(owner, type):
                continue
            for m in list(sys.modules.values()):
                if m is None or m is mod or not getattr(m, "__name__", "").startswith(
                    "toshokan_spark"
                ):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._patched.append((m, k, orig))
                        setattr(m, k, wrapped)

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._patched):
            setattr(owner, leaf, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "attrs": s.attrs,
                }) + "\n")


# -- call hooks: record counts at the layer boundary ----------------------

def _hook_read_segments(tracer, s, fn, args, kwargs):
    paths = args[1] if len(args) > 1 else kwargs["paths"]
    s.attrs["segments"] = len(paths)
    return fn(*args, **kwargs)


def _hook_prune(tracer, s, fn, args, kwargs):
    out = fn(*args, **kwargs)
    s.attrs["manifested"] = len(args[1])
    s.attrs["kept"] = len(out[2])
    return out


def _hook_finalize(tracer, s, fn, args, kwargs):
    # inside minhash_lsh_pairs the first cached frame is the candidate
    # pair set: count it and the verified result for the verified ratio,
    # after the op, so the counts add no job to any span
    out = fn(*args, **kwargs)
    parent = tracer.stack[-2].name if len(tracer.stack) > 1 else None
    if parent == "dedup.minhash_lsh_pairs" and len(args) > 1:
        tracer.deferred += [("dedup.candidates", args[1]), ("dedup.verified", out)]
    return out


_HOOKS = {
    "search.read_segments": _hook_read_segments,
    "search.prune": _hook_prune,
    "util.finalize_cached": _hook_finalize,
}


# -- Spark event log --------------------------------------------------------

class Job:
    __slots__ = ("jid", "group", "start", "end", "stages", "tasks", "cpu_s", "gc_s",
                 "records_read", "bytes_read", "shuffle_write", "spill", "bytes_written")

    def __init__(self, jid, group, start, stages):
        self.jid, self.group, self.start, self.stages = jid, group, start, stages
        self.end = start
        self.tasks = 0
        self.cpu_s = self.gc_s = 0.0
        self.records_read = self.bytes_read = self.shuffle_write = 0
        self.spill = self.bytes_written = 0


def read_event_log(path: str) -> list[Job]:
    """Jobs with their summed task metrics, from one uncompressed
    Spark event log file. Times are epoch seconds."""
    jobs: dict = {}
    stage_job: dict = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0, ev.get("Stage IDs", []))
                jobs[j.jid] = j
                for st in j.stages:
                    stage_job.setdefault(st, j.jid)
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if j is None or not m:
                    continue
                j.tasks += 1
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.gc_s += m.get("JVM GC Time", 0) / 1e3
                inp = m.get("Input Metrics") or {}
                j.records_read += inp.get("Records Read", 0)
                j.bytes_read += inp.get("Bytes Read", 0)
                j.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                j.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return list(jobs.values())


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]
