"""The three workloads. Each drives the library only through its public
API, with inputs generated from the seed (gen.py), and checks every
answer (checks.py).

A workload object goes through: ``prepare`` (generate and write inputs;
not timed), ``build`` (one index build — timed, repeated for setup_s),
``warmup_ops()`` (checked, not timed), then ``ops()``; a traced run also
uses ``probe_ops()``. Each iterates ``(kind, call, check)`` (``ops()``
also yields ``None`` at each cycle end, where the measurement may stop):
``call()`` is the timed foreground operation, ``check(out)`` the untimed
comparison of its output with the generator's answers, returning an
:class:`Outcome`. Expected answers are computed before the op is
yielded, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np

import checks
import gen

# input sizes (documents)
INGEST_BASE_DOCS = 6_000   # ingest_search: initial single segment
INGEST_BATCH_DOCS = 500
INGEST_BATCHES = 24
MERGE_AT = 4               # segments when a cycle's tiered merge runs
CURATE_BASE_DOCS = 400     # curate: ~550 docs with dups and junk


@dataclass
class Outcome:
    items: int = 0          # work units completed (docs committed or curated)
    hits: int = 0           # rows returned to the caller
    expected: int = 0       # rows the generator says should be returned
    problems: list = field(default_factory=list)


def _write(path: str, text: str) -> int:
    with open(path, "w") as f:
        f.write(text)
    return len(text.encode())


def dir_bytes(path: str) -> "tuple[int, int]":
    """(total bytes, data file count) under *path*; Spark's ``.crc``
    and ``_SUCCESS`` markers are not data files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            if n.endswith(".parquet"):
                files += 1
    return total, files


class Workload:
    name = ""
    index = ""
    fields: list = []
    time_field = None
    #: tracing off/on per round of the tracing-overhead probe; None: off,
    #: and the round only warms up
    PROBE_ORDER: tuple = ()

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.catalog = None
        self.config = None
        self.input_bytes = 0

    # -- index plumbing ----------------------------------------------------
    def fresh_catalog(self, k: int):
        from toshokan_spark.catalog import FsCatalog
        from toshokan_spark.config import IndexConfig
        from toshokan_spark.maintenance import create_index

        root = os.path.join(self.work, f"index-{k}")
        shutil.rmtree(root, ignore_errors=True)
        schema = {"fields": self.fields}
        if self.time_field:
            schema["time_field"] = self.time_field
        config = IndexConfig.from_dict(
            {"name": self.index, "path": os.path.join(root, "data"), "schema": schema}
        )
        catalog = FsCatalog(os.path.join(root, "catalog"))
        create_index(catalog, config)
        self.catalog, self.config = catalog, config

    def commit(self, path: str, target_files=None):
        from toshokan_spark.indexer import index_batch

        return index_batch(self.spark, self.catalog, self.index, jsonl_path=path,
                           target_files=target_files)

    def indexed_docs(self) -> int:
        return sum(s.num_rows for s in self.catalog.segments(self.index))

    def stored_bytes(self) -> int:
        return dir_bytes(self.config.path)[0]

    def manifest_bytes(self) -> int:
        mdir = os.path.join(self.catalog.root, "manifests", self.index)
        latest = max(f for f in os.listdir(mdir) if f.endswith(".json"))
        return os.path.getsize(os.path.join(mdir, latest))

    def files_per_segment(self) -> float:
        return dir_bytes(self.config.path)[1] / max(1, len(self.catalog.segments(self.index)))

    # -- search ops: a timed library call and an untimed check -------------
    def query_op(self, q: gen.Query, tracer):
        """``(call, check)`` for one query: ``call()`` runs the search
        through the public API and collects the output; ``check(out)``
        compares it with the generator's answers."""
        from pyspark.sql import functions as F

        from toshokan_spark import search as S

        k = gen.SCORED_K if q.kind == "scored" else gen.TOPK

        def call():
            if q.kind in ("filter", "needle", "window"):
                sort_by = [F.col("ts").desc()] if q.kind == "window" else None
                return S.search(self.spark, self.catalog, self.index, q.text,
                                limit=k, sort_by=sort_by), None, None
            if q.kind == "scored":
                df = S.scored_search_df(self.spark, self.catalog, self.index, q.text,
                                        "message", limit=k)
                with tracer.span("search.collect"):
                    return [r.asDict() for r in df.collect()], None, None
            hits = S.search_df(self.spark, self.catalog, self.index, q.text, limit=None)
            with tracer.span("search.collect"):
                return (
                    [r.asDict() for r in hits.limit(k).collect()],
                    {r["service"]: r["n_hits"]
                     for r in S.facet_counts(hits, "service").collect()},
                    {r["bucket_epoch"]: r["n_hits"]
                     for r in S.date_histogram(hits, "ts", gen.PANEL_INTERVAL_S).collect()},
                )

        def check(out) -> Outcome:
            raw, facets, buckets = out
            docs = [checks.parse_hit(h) for h in raw]
            if q.kind == "window":
                bad = checks.check_window(q, docs, k)
            elif q.kind == "scored":
                bad = checks.check_scored(q, docs, k)
            elif q.kind == "panel":
                bad = checks.check_panel(q, docs, k, facets, buckets)
            else:
                bad = checks.check_hits(q, docs, k)
            return Outcome(hits=len(docs), expected=min(k, q.expected), problems=bad)

        return call, check


class IngestSearch(Workload):
    """Streaming-cadence commits into a log index, each followed by a
    fresh search of the newest window and one query of each kind of the
    log search mix over the whole index; a size-tiered merge when the
    segment count reaches MERGE_AT, once per cycle."""

    name = "ingest_search"
    index = "logs"
    fields = gen.LOG_INDEX_FIELDS
    time_field = "ts"
    # off, on, on, off: a drift over the probe weighs on both sides alike
    PROBE_ORDER = (False, True, True, False)

    def prepare(self) -> None:
        n = INGEST_BASE_DOCS + INGEST_BATCHES * INGEST_BATCH_DOCS
        c = gen.log_corpus(self.seed, n)
        # streaming order: time moves forward batch by batch
        o = np.argsort(c.ts, kind="stable")
        self.corpus = gen.LogCorpus(c.ts[o], c.level[o], c.service[o], c.trace_id[o],
                                    c.host[o], c.status[o], c.latency_ms[o],
                                    [c.message[i] for i in o])
        self.base = os.path.join(self.work, "base.jsonl")
        self.base_bytes = _write(self.base, self.corpus.jsonl(0, INGEST_BASE_DOCS))
        self.batches = []
        for b in range(INGEST_BATCHES):
            lo = INGEST_BASE_DOCS + b * INGEST_BATCH_DOCS
            path = os.path.join(self.work, f"batch-{b:03d}.jsonl")
            self.batches.append((path, lo, lo + INGEST_BATCH_DOCS,
                                 _write(path, self.corpus.jsonl(lo, lo + INGEST_BATCH_DOCS))))

    def build(self, k: int) -> None:
        # the compacted history: one segment, one file per core and day
        self.fresh_catalog(k)
        self.commit(self.base, target_files=len(os.sched_getaffinity(0)))
        self.committed = INGEST_BASE_DOCS
        self.input_bytes = self.base_bytes
        self.next_batch = 0
        self.rng = np.random.default_rng([self.seed, 2])
        self.merged: list = []   # segments merged per merge call
        self.asked = dict.fromkeys(gen.KINDS, 0)   # mix queries per kind so far
        self.probe = None
        hi = int(self.corpus.ts[INGEST_BASE_DOCS - 1])
        self.window = (hi - 3599, hi)   # newest hour until the first commit

    def view(self) -> gen.LogCorpus:
        """The docs committed so far (sharing the full corpus' postings)."""
        n, c = self.committed, self.corpus
        return gen.LogCorpus(c.ts[:n], c.level[:n], c.service[:n], c.trace_id[:n],
                             c.host[:n], c.status[:n], c.latency_ms[:n], c.message[:n],
                             postings=c.build_postings())

    def commit_op(self):
        path, lo, hi, nbytes = self.batches[self.next_batch]
        self.next_batch += 1

        def check(_) -> Outcome:
            self.committed, self.input_bytes = hi, self.input_bytes + nbytes
            self.window = (int(self.corpus.ts[lo]), int(self.corpus.ts[hi - 1]))
            return Outcome(items=hi - lo, problems=checks.check_doc_count(
                self.indexed_docs(), self.committed))

        return lambda: self.commit(path), check

    def merge_op(self):
        from toshokan_spark.maintenance import merge_segments

        before = self.segment_count()

        def check(_) -> Outcome:
            after = self.segment_count()
            self.merged.append(before - after + 1)
            bad = checks.check_doc_count(self.indexed_docs(), self.committed)
            if after != MERGE_AT - 2:
                bad.append(f"merge left {after} of {before} segments")
            return Outcome(problems=bad)

        # size-tiered: every segment but the largest (the base)
        return (lambda: merge_segments(self.spark, self.catalog, self.index,
                                       max_segments=MERGE_AT - 1)), check

    def fresh_op(self, tracer):
        """The newest committed window, newest first."""
        return self.query_op(gen.answer("window", (("time",) + self.window,), self.view()),
                             tracer)

    def mix_op(self, kind: str, tracer):
        view = self.view()
        spec = gen.query_spec(kind, self.rng, view, self.asked[kind])
        self.asked[kind] += 1
        return self.query_op(gen.answer(kind, spec, view), tracer)

    def segment_count(self) -> int:
        return len(self.catalog.segments(self.index))

    def warmup_ops(self, tracer):
        # the merged tail every cycle starts from, then one search of each
        # shape (the set-up builds warmed the commit path)
        yield ("commit",) + self.commit_op()
        yield ("fresh_search",) + self.fresh_op(tracer)
        for kind in gen.KINDS:
            yield (kind,) + self.mix_op(kind, tracer)

    def ops(self, tracer):
        """Cycles that end where they start, at MERGE_AT - 2 segments (the
        base and the merged tail): commits up to MERGE_AT segments, each
        followed by a fresh search and one query of each mix kind, then a
        size-tiered merge back. Every cycle passes the same segment counts
        with the same op kinds, so a run that fits another cycle repeats
        states rather than reaching new ones."""
        while self.next_batch + MERGE_AT - 2 <= len(self.batches):
            for _ in range(MERGE_AT - 2):
                yield ("commit",) + self.commit_op()
                yield ("fresh_search",) + self.fresh_op(tracer)
                for kind in gen.KINDS:
                    yield (kind,) + self.mix_op(kind, tracer)
            yield ("merge",) + self.merge_op()
            yield None   # cycle end

    def probe_ops(self, tracer):
        """A fresh search and one query of each mix kind, drawn once: the
        same read-only ops on every call, for the tracing-overhead probe."""
        if self.probe is None:
            rng = np.random.default_rng([self.seed, 3])
            view = self.view()
            self.probe = [("fresh_search",
                           gen.answer("window", (("time",) + self.window,), view))]
            self.probe += [(k, gen.answer(k, gen.query_spec(k, rng, view), view))
                           for k in gen.KINDS]
        for kind, q in self.probe:
            yield (kind,) + self.query_op(q, tracer)


class Curate(Workload):
    """The curation pipeline over a corpus with planted duplicates."""

    name = "curate"
    index = "corpus"
    fields = gen.CURATE_FIELDS
    # a call takes 12-20 s, so one each way, after one more warm-up call:
    # the first calls of a JVM still speed up (20, 14, 12, 12 s on a
    # 4-core VM)
    PROBE_ORDER = (None, False, True)

    def prepare(self) -> None:
        self.corpus = gen.curation_corpus(self.seed, CURATE_BASE_DOCS)
        self.path = os.path.join(self.work, "corpus.jsonl")
        self.input_bytes = _write(self.path, self.corpus.jsonl())
        self.recall = (0, 0)

    def build(self, k: int) -> None:
        self.fresh_catalog(k)
        self.commit(self.path)

    def warmup_ops(self, tracer):
        # a warm-up call would double the run; the set-up builds warmed the JVM
        return iter(())

    def curate_op(self):
        from pyspark.sql import functions as F

        from toshokan_spark.pipeline import curate

        def call():
            res = curate(self.spark, self.catalog, self.index, dedup_method="minhash",
                         seq_len=512, seed=self.seed)
            # sink every output
            n_docs = res.documents.count()
            splits = [(r.doc_id, r.cluster_id, r.split)
                      for r in res.splits.select("doc_id", "cluster_id", "split").collect()]
            packed = res.packed.select(F.count(F.lit(1))).first()[0]
            return res.counts["exact_kept"], n_docs, splits, packed

        def check(out) -> Outcome:
            exact_kept, n_docs, splits, packed = out
            bad = checks.check_curate(exact_kept, self.corpus.exact_kept, splits, packed)
            found, planted = checks.near_dup_recall(splits, self.corpus.near_pairs)
            self.recall = (self.recall[0] + found, self.recall[1] + planted)
            return Outcome(items=len(self.corpus.docs), hits=n_docs, expected=n_docs,
                           problems=bad)

        return call, check

    def ops(self, tracer):
        while True:
            yield ("curate",) + self.curate_op()
            yield None   # cycle end

    def probe_ops(self, tracer):
        yield ("curate",) + self.curate_op()


WORKLOADS = {w.name: w for w in (IngestSearch, Curate)}
