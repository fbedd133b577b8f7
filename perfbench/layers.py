"""Per-layer metrics from the spans of a traced phase and the Spark
jobs attributed to them.

Times are per call of the layer's function unless the name says
otherwise; Spark totals are per foreground op. A layer the workload
does not exercise reports 0.
"""

from __future__ import annotations

from collections import defaultdict

SEARCH_OPS = {"filter", "window", "needle", "scored", "panel", "fresh_search", "search"}

CURATE_OPERATORS = [
    "text.normalize_text", "dedup.deduplicate_exact", "dedup.minhash_lsh_pairs",
    "dedup.duplicate_clusters", "text.gopher_rules", "text.train_hashed_classifier",
    "text.hashed_linear_score", "text.ccnet_select", "sampling.leakage_safe_split",
    "sampling.pack_training_sequences", "util.finalize_cached",
]

#: every per-layer metric with its unit, in report order
UNITS = {
    "catalog.read_s": "s", "catalog.manifest_bytes": "B", "catalog.commit_s": "s",
    "search.plan_s": "s", "search.read_segments_s": "s",
    "search.read_segments_s_per_segment": "s", "search.prune_s": "s",
    "search.segments_kept_ratio": "ratio",
    "query.parse_s": "s", "query.compile_s": "s", "query.column_fallbacks": "count",
    "search.collect_s": "s", "bm25.stats_s": "s",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count", "spark.job_s": "s",
    "spark.driver_gap_s": "s", "spark.rows_read_per_hit": "ratio",
    "spark.bytes_read_per_op": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.gc_s": "s", "spark.executor_cpu_s": "s",
    "ingest.projection_s": "s",
    "indexer.write_s": "s", "indexer.stats_s": "s", "indexer.histograms_s": "s",
    "indexer.blooms_s": "s", "indexer.jobs_per_commit": "count",
    "storage.bytes_written_per_input_byte": "ratio", "storage.files_per_segment": "count",
    "maintenance.merge_s": "s", "maintenance.bytes_rewritten": "B",
    "maintenance.segments_merged": "count",
    **{name + "_s": "s" for name in CURATE_OPERATORS},
    "dedup.verified_ratio": "ratio", "pipeline.self_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _union_len(intervals) -> float:
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def _slope(points) -> float:
    """Least-squares slope of y over x."""
    if len({x for x, _ in points}) < 2:
        return 0.0
    mx = _mean(x for x, _ in points)
    my = _mean(y for _, y in points)
    sxx = sum((x - mx) ** 2 for x, _ in points)
    return sum((x - mx) * (y - my) for x, y in points) / sxx


class SpanIndex:
    def __init__(self, spans):
        self.spans = [s for s in spans if s.op is not None and s.end is not None]
        self.by_id = {s.sid: s for s in spans}
        self.children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                self.children[s.parent].append(s)

    def ancestors(self, s):
        while s.parent is not None:
            s = self.by_id[s.parent]
            yield s

    def named(self, *names, outermost=True, under=None):
        out = []
        for s in self.spans:
            if s.name not in names:
                continue
            anc = [a.name for a in self.ancestors(s)]
            if outermost and any(a in names for a in anc):
                continue
            if under is not None and not any(a in under for a in anc):
                continue
            out.append(s)
        return out

    def self_time(self, s) -> float:
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in self.children[s.sid]]
        return s.dur - _union_len((lo, hi) for lo, hi in kids if hi > lo)

    def in_subtree(self, span_id, roots: set) -> bool:
        s = self.by_id.get(span_id)
        if s is None:
            return False
        return s.sid in roots or any(a.sid in roots for a in self.ancestors(s))


def layer_metrics(spans, jobs, counters, extras) -> dict:
    ix = SpanIndex(spans)
    ops = [s for s in ix.spans if s.name.startswith("op.")]
    n_ops = len(ops)
    search_ops = [s for s in ops if s.name[3:] in SEARCH_OPS]
    m: dict = {}

    def mean_dur(*names, **kw):
        return _mean(s.dur for s in ix.named(*names, **kw))

    # catalog
    m["catalog.read_s"] = _ratio(sum(s.dur for s in ix.named("catalog.read")), n_ops)
    m["catalog.manifest_bytes"] = extras["manifest_bytes"]
    m["catalog.commit_s"] = mean_dur("catalog.commit")

    # search planning
    planners = ("search.search_df", "search.scored_search_df")
    m["search.plan_s"] = mean_dur(*planners)
    reads = ix.named("search.read_segments", under=planners)
    m["search.read_segments_s"] = _mean(s.dur for s in reads)
    m["search.read_segments_s_per_segment"] = _slope(
        [(s.attrs.get("segments", 0), s.dur) for s in reads])
    m["search.prune_s"] = mean_dur("search.prune")
    prunes = ix.named("search.prune")
    m["search.segments_kept_ratio"] = _ratio(
        sum(s.attrs.get("kept", 0) for s in prunes),
        sum(s.attrs.get("manifested", 0) for s in prunes))

    # query parse / compile
    m["query.parse_s"] = mean_dur("query.parse")
    m["query.compile_s"] = mean_dur("query.compile")
    m["query.column_fallbacks"] = _ratio(
        len(ix.named("query.column_compile")), len(search_ops))

    # search output: collect + shaping
    collect = sum(ix.self_time(s) for s in ix.named("search.search"))
    collect += sum(s.dur for s in ix.named("search.collect", "search.prettify_doc"))
    m["search.collect_s"] = _ratio(collect, len(search_ops))
    m["bm25.stats_s"] = mean_dur("bm25.stats")

    # Spark execution, per op
    op_jobs = defaultdict(list)
    for j in jobs:
        s = ix.by_id.get(int(j.group)) if j.group and j.group.isdigit() else None
        if s is not None and s.op is not None:
            op_jobs[s.op].append(j)
    all_jobs = [j for js in op_jobs.values() for j in js]
    m["spark.jobs_per_op"] = _ratio(len(all_jobs), n_ops)
    m["spark.tasks_per_op"] = _ratio(sum(j.tasks for j in all_jobs), n_ops)
    m["spark.job_s"] = _mean(j.end - j.start for j in all_jobs)
    m["spark.driver_gap_s"] = _mean(
        op.dur - _union_len(
            (max(j.start, op.start), min(j.end, op.end))
            for j in op_jobs.get(op.op, []) if min(j.end, op.end) > max(j.start, op.start))
        for op in ops)
    m["spark.rows_read_per_hit"] = _ratio(
        sum(j.records_read for j in all_jobs), extras["hits"])
    m["spark.bytes_read_per_op"] = _ratio(sum(j.bytes_read for j in all_jobs), n_ops)
    m["spark.shuffle_write_bytes"] = _ratio(sum(j.shuffle_write for j in all_jobs), n_ops)
    m["spark.spill_bytes"] = _ratio(sum(j.spill for j in all_jobs), n_ops)
    m["spark.gc_s"] = _ratio(sum(j.gc_s for j in all_jobs), n_ops)
    m["spark.executor_cpu_s"] = _ratio(sum(j.cpu_s for j in all_jobs), n_ops)

    def jobs_under(roots):
        ids = {s.sid for s in roots}
        return [j for j in all_jobs if ix.in_subtree(int(j.group), ids)]

    # write path
    m["ingest.projection_s"] = mean_dur("ingest.projection")
    builds = ix.named("indexer.build_segment", under=("indexer.index_batch",))
    m["indexer.write_s"] = _mean(ix.self_time(s) for s in builds)
    for metric, name in (("indexer.stats_s", "indexer.stats"),
                         ("indexer.histograms_s", "indexer.histograms"),
                         ("indexer.blooms_s", "indexer.blooms")):
        m[metric] = _ratio(
            sum(s.dur for s in ix.named(name, under=("indexer.index_batch",))), len(builds))
    commits = ix.named("indexer.index_batch")
    m["indexer.jobs_per_commit"] = _ratio(len(jobs_under(commits)), len(commits))
    m["storage.bytes_written_per_input_byte"] = _ratio(
        sum(j.bytes_written for j in all_jobs), extras["input_bytes"])
    m["storage.files_per_segment"] = extras["files_per_segment"]

    merges = ix.named("maintenance.merge")
    m["maintenance.merge_s"] = _mean(s.dur for s in merges)
    m["maintenance.bytes_rewritten"] = _ratio(
        sum(j.bytes_written for j in jobs_under(merges)), len(merges))
    m["maintenance.segments_merged"] = _mean(extras["segments_merged"])

    # curation operators, per curate call
    calls = ix.named("pipeline.curate")
    for name in CURATE_OPERATORS:
        m[name + "_s"] = _ratio(
            sum(s.dur for s in ix.named(name, under=("pipeline.curate",))), len(calls))
    m["dedup.verified_ratio"] = _ratio(counters.get("dedup.verified", 0),
                                       counters.get("dedup.candidates", 0))
    m["pipeline.self_s"] = _mean(ix.self_time(s) for s in calls)
    m["trace.overhead_ratio"] = extras["overhead_ratio"]
    return m
