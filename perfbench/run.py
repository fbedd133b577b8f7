#!/usr/bin/env python3
"""Benchmark of toshokan_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_search --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts a local Spark session (``local[<cores>]``, one client
thread), builds the workload's index several times (set-up), warms up,
then runs the workload's operations closed-loop for ``--seconds`` and
checks every answer. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the per-workload detail (the metrics under their workload-
specific names, sample counts, the tail percentile).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same untraced phase, a tracing-overhead probe, then a traced phase of
the same length, and reports the per-layer metrics (see layers.py); it
writes the traced phase's spans as JSON lines to
``.perfbench_spans/<workload>-seed<seed>.jsonl`` in the repository root.
All scratch files live under ``.perfbench_work/`` there and are removed
at exit. The exit code is non-zero when any answer is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPANS_DIR = os.path.join(ROOT, ".perfbench_spans")

#: index builds per run; setup_s takes their median
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_geomean_s": "s",
    "work_per_s": "1/s",
    "answer_recall": "ratio",
    "stored_bytes_per_input_byte": "ratio",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, event_log: "str | None"):
    from pyspark.sql import SparkSession

    n = cores()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", "-Xms1g")
    )
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit: the gateway JVM exits when its stdin closes."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


class OpRecord:
    __slots__ = ("kind", "seconds", "outcome")

    def __init__(self, kind, seconds, outcome):
        self.kind, self.seconds, self.outcome = kind, seconds, outcome


def measure(ops, seconds: float, tracer, first_op: int) -> list:
    """Closed loop, one client: run ops back to back until *seconds*
    have passed or *ops* is exhausted. The deadline is checked only at
    the cycle ends *ops* marks with ``None``, so every run holds whole
    cycles and the same mix of op kinds."""
    from workloads import Outcome

    out: list = []
    end = time.perf_counter() + seconds
    for item in ops:
        if item is None:
            if time.perf_counter() >= end:
                break
            continue
        kind, call, check = item
        res, err = None, None
        with tracer.operation(first_op + len(out), kind):
            t = time.perf_counter()
            try:
                res = call()
            except Exception as e:  # a failed op is counted, not fatal
                traceback.print_exc()
                err = e
            dt = time.perf_counter() - t
        tracer.count_deferred()
        o = check(res) if err is None else Outcome(problems=[f"{kind} raised {err!r}"])
        for p in o.problems:
            print(f"perfbench: wrong answer in {kind}: {p}", file=sys.stderr)
        out.append(OpRecord(kind, dt, o))
    return out


def _p50(recs, kinds=None) -> "float | None":
    import stats

    xs = [r.seconds for r in recs if kinds is None or r.kind in kinds]
    return stats.median(xs) if xs else None


#: the ops whose latency is the workload's foreground latency
FOREGROUND = {
    "ingest_search": {"fresh_search", "filter", "window", "needle", "scored", "panel"},
    "curate": {"curate"},
}
#: the ops whose time work_per_s divides the work items by: the write
#: path, maintenance included, or the curate calls
WORK = {"ingest_search": {"commit", "merge"}, "curate": {"curate"}}


def end_to_end(wl, recs: list, setup_s: float, rss: float) -> "tuple[dict, dict]":
    """(contract metrics, detail metrics under workload-specific names)."""
    import stats

    lat = [r.seconds for r in recs if r.kind in FOREGROUND[wl.name]]
    tail, pct = stats.tail(lat)
    # kinds differ several-fold in latency: the median of the pooled
    # samples falls in the gap between two kinds and jumps with the seed;
    # per-kind medians do not
    kind_p50 = [p for p in (_p50(recs, {k}) for k in FOREGROUND[wl.name]) if p is not None]
    work_s = sum(r.seconds for r in recs if r.kind in WORK[wl.name])
    if wl.name == "curate":
        found, planted = wl.recall
        recall = found / max(1, planted)
    else:
        searches = [r.outcome for r in recs if r.outcome.expected]
        recall = sum(o.hits for o in searches) / max(1, sum(o.expected for o in searches))
    stored = wl.stored_bytes() / wl.input_bytes
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "op_p50_geomean_s": stats.geomean(kind_p50),
        "work_per_s": sum(r.outcome.items for r in recs) / work_s if work_s else 0.0,
        "answer_recall": recall,
        "stored_bytes_per_input_byte": stored,
    }
    failed = sum(1 for r in recs if r.outcome.problems)
    detail = {"setup_s": setup_s, "error_rate": failed / len(recs), "peak_rss_mb": rss,
              "op_samples": len(lat), "op_p50_s": stats.median(lat), "op_tail_s": tail,
              "op_tail_percentile": pct}
    if wl.name == "ingest_search":
        commits = [r.seconds for r in recs if r.kind == "commit"]
        unscored = [r.seconds for r in recs if r.kind in ("filter", "window", "needle")]
        t, p = stats.tail(commits)
        detail.update(
            ingest_docs_per_s=sum(r.outcome.items for r in recs) / sum(commits),
            commit_p50_s=stats.median(commits), commit_tail_s=t,
            commit_tail_percentile=p, commit_samples=len(commits),
            fresh_search_p50_s=_p50(recs, {"fresh_search"}),
            search_p50_s=stats.median(unscored) if unscored else None,
            scored_p50_s=_p50(recs, {"scored"}), panel_p50_s=_p50(recs, {"panel"}),
            merge_s=sum(r.seconds for r in recs if r.kind == "merge"),
            stored_bytes_per_input_byte=stored,
        )
    else:
        detail.update(curate_docs_per_s=metrics["work_per_s"], near_dup_recall=recall)
    return metrics, detail


def overhead_ratio(plain: list, traced: list) -> float:
    """Traced over untraced median latency, averaged over the op kinds
    of both, minus one. *plain* and *traced* are the probe's rounds: the
    same read-only ops on the same index, with tracing off and on."""
    kinds = {r.kind for r in plain} & {r.kind for r in traced}
    ratios = [_p50(traced, {k}) / _p50(plain, {k}) for k in kinds]
    return sum(ratios) / len(ratios) - 1.0 if ratios else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> "tuple[dict, dict]":
    import stats
    from spans import Tracer, find_event_log, read_event_log
    from workloads import WORKLOADS

    wl = WORKLOADS[workload](None, work, seed)
    wl.prepare()   # input generation: not part of set-up time

    event_log = os.path.join(work, "eventlog") if trace else None
    if event_log:
        os.makedirs(event_log)
    t = time.perf_counter()
    spark = start_spark(work, event_log)
    session_s = time.perf_counter() - t
    try:
        wl.spark = spark
        builds = []
        for k in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.build(k)
            builds.append(time.perf_counter() - t)
        setup_s = session_s + stats.median(builds)

        tracer = Tracer(spark.sparkContext)
        warm = measure(wl.warmup_ops(tracer), float("inf"), tracer, 0)
        ops = wl.ops(tracer)
        recs = measure(ops, seconds, tracer, 0)
        metrics, detail = end_to_end(wl, recs, setup_s, peak_rss_mb(spark))
        detail["setup_builds_s"] = builds
        detail["ops"] = [(r.kind, r.seconds) for r in recs]
        detail["session_s"] = session_s
        probe = {None: [], False: [], True: []}
        traced: list = []
        if trace:
            tracer.install()
            for on in wl.PROBE_ORDER:
                tracer.enabled = bool(on)
                probe[on] += measure(wl.probe_ops(tracer), float("inf"), tracer, 0)
            tracer.reset()   # the probe's spans are not part of the layer metrics
            bytes0, merged0 = wl.input_bytes, len(getattr(wl, "merged", []))
            tracer.enabled = True
            traced = measure(ops, seconds, tracer, len(recs))
            tracer.enabled = False
            tracer.uninstall()
            extras = {
                "manifest_bytes": wl.manifest_bytes(),
                "files_per_segment": wl.files_per_segment(),
                "hits": sum(r.outcome.hits for r in traced),
                "input_bytes": wl.input_bytes - bytes0,
                "segments_merged": getattr(wl, "merged", [])[merged0:],
                "overhead_ratio": overhead_ratio(probe[False], probe[True]),
            }
            detail["probe"] = {str(on): [(r.kind, r.seconds) for r in rs]
                               for on, rs in probe.items()}
    finally:
        stop_spark(spark)

    all_recs = warm + recs + probe[None] + probe[False] + probe[True] + traced
    failed = sum(1 for r in all_recs if r.outcome.problems)
    if trace:
        from layers import UNITS, layer_metrics

        jobs = read_event_log(find_event_log(event_log))
        values = layer_metrics(tracer.spans, jobs, tracer.counters, extras)
        units = UNITS
        detail["read_segments_by_count"] = _reads_by_count(tracer.spans)
        os.makedirs(SPANS_DIR, exist_ok=True)
        detail["spans_file"] = os.path.join(SPANS_DIR, f"{workload}-seed{seed}.jsonl")
        tracer.dump(detail["spans_file"])
    else:
        values, units = metrics, END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(all_recs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    detail = {"workload": workload, "seed": seed, "cores": cores(), "detail": detail}
    return result, detail


def _reads_by_count(spans) -> dict:
    """Mean read_segments time per manifested-segment count, over the
    traced search calls: shows planning cost rising with fragmentation."""
    names = {s.sid: s.name for s in spans}
    acc: dict = {}
    for s in spans:
        if s.name == "search.read_segments" and s.end is not None and names.get(
                s.parent) in ("search.search_df", "search.scored_search_df"):
            acc.setdefault(s.attrs.get("segments", 0), []).append(s.dur)
    return {str(k): sum(v) / len(v) for k, v in sorted(acc.items())}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_search", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "toshokan_spark", "__init__.py")):
        print(f"perfbench: no toshokan_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    local_dirs = os.path.join(work, "spark-local")
    os.makedirs(local_dirs)
    # Python UDF workers import the package: put the repo on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM of the run, the spark-submit launcher's too, keeps its
    # files in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [HERE, ROOT]
    try:
        result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
