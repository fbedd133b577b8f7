"""A segment's per-token metadata — the BM25 ``_stats`` sidecar and the
token blooms — is described in one aggregation at commit, and summed
from the inputs' sidecars at a delete-free merge. These tests pin both
against independent formulas over the same data: the per-field stats
aggregation the sidecar used to be built with, and a bloom whose bit
positions are taken mod its own size."""

import base64
import json
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from toshokan_spark.config import FieldConfig, IndexConfig
from toshokan_spark.functions.tokenizers import tokenize
from toshokan_spark.indexer import index_batch, stats_path
from toshokan_spark.maintenance import create_index, merge_segments
from toshokan_spark.search import read_segments
from toshokan_spark.storage import join_path

TEXT_FIELDS = [
    ("body", "default"),
    ("words", "whitespace"),
    ("level", "raw"),
    ("title", "en_stem"),
]


def per_field_stats(df, fields):
    """The sidecar formula before the one-pass aggregation: per field,
    tokenize the text, a summary aggregate and a per-term groupBy,
    unioned across fields. The oracle for every sidecar here."""
    frames = []
    for name, tok in fields:
        toks = tokenize(F.col(name), tok)
        proj = df.select(
            F.array_distinct(toks).alias("__t"), F.size(toks).alias("__dl")
        )
        summary = proj.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("__dl").alias("sum_dl")
        ).select(
            F.lit(name).alias("field"),
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("long").alias("df"),
            F.col("n_docs"),
            F.col("sum_dl"),
        )
        per_term = (
            proj.select(F.explode("__t").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .select(
                F.lit(name).alias("field"),
                F.col("term"),
                F.col("df"),
                F.lit(None).cast("long").alias("n_docs"),
                F.lit(None).cast("long").alias("sum_dl"),
            )
        )
        frames.append(summary.unionAll(per_term))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out


def bloom_formula(df, name, tok):
    """The token bloom built directly in its own geometry: count the
    distinct tokens, size the bitset, then set each token's positions
    mod that size. The oracle for every observed bloom here."""
    from toshokan_spark.functions import bloom as B
    from toshokan_spark.ingest import tokens_col
    from toshokan_spark.operators.dedup import poly_hash

    shadow = tokens_col(name)
    src = F.col(shadow) if shadow in df.columns else tokenize(F.col(name), tok)
    toks = df.select(F.explode(src).alias("t")).where("t IS NOT NULL").distinct()
    n = toks.count()
    if n == 0 or n > B.MAX_VOCAB:
        return None
    m = min(B.MAX_BITS, max(B.MIN_BITS, B._next_pow2(n * B.BITS_PER_TOKEN)))
    h1 = poly_hash(F.col("t"), *B._H1[:2], B._H1[2], B._H1[3])
    h2 = poly_hash(F.col("t"), *B._H2[:2], B._H2[2], B._H2[3])
    pos = toks.select(F.explode(F.array(
        *[((h1 + i * h2) % m).cast("int") for i in range(B.K_HASHES)]
    )).alias("p")).agg(F.collect_set("p").alias("ps")).first()["ps"]
    bits = bytearray(m // 8)
    for p in pos:
        bits[p >> 3] |= 1 << (p & 7)
    return {"m": m, "k": B.K_HASHES, "b64": base64.b64encode(bytes(bits)).decode()}


def _key(r):
    return (r["field"], r["term"] is not None, r["term"] or "")


def _rows(df):
    return sorted((r.asDict() for r in df.collect()), key=_key)


def _config(tmp_path, name, fields=TEXT_FIELDS, time_field="ts"):
    return IndexConfig(
        name=name,
        path=str(tmp_path / "data" / name),
        time_field=time_field,
        fields=[FieldConfig(name="ts", type="datetime")]
        + [FieldConfig(name=n, type="text", tokenizer=t) for n, t in fields],
    )


def _commit(spark, catalog, tmp_path, index, rows, tag):
    p = tmp_path / f"{index}-{tag}.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    return index_batch(spark, catalog, index, jsonl_path=str(p))


def _data(spark, config, segs):
    paths = [join_path(config.path, s.file_name) for s in segs]
    return read_segments(spark, paths, partitioned=config.time_field is not None)


def _sidecar(spark, config, seg):
    return spark.read.parquet(stats_path(config, seg.file_name))


DOCS = [
    {"ts": "2024-01-01T10:00:00Z", "body": "Spark spark is FAST", "words": "a b  a",
     "level": "INFO", "title": "running dogs run"},
    {"ts": "2024-01-01T11:00:00Z", "body": "", "words": "", "level": "",
     "title": ""},
    {"ts": "2024-01-02T09:00:00Z", "body": None, "words": None, "level": None,
     "title": None},
    {"ts": "2024-01-02T10:00:00Z"},
    {"ts": "2024-01-03T10:00:00Z", "body": "the engine: shuffles, sorts; spark!",
     "words": "x\ty z", "level": "WARN", "title": "sleeping generously"},
    {"ts": "2024-01-03T12:00:00Z", "body": "émigré naïve 東京 spark", "words": "b c",
     "level": "INFO", "title": "runs faster"},
]


def test_commit_sidecar_and_blooms_match_per_field_formula(spark, catalog, tmp_path):
    """Row for row, schema and file layout: the one-pass sidecar equals
    the per-field formula over the committed data for default,
    whitespace, raw and en_stem fields with null, missing and empty
    text; each tokenized field's bloom — array fields' included —
    equals the bloom formula and ``build_token_bloom`` over the same
    data."""
    from toshokan_spark.functions.bloom import build_token_bloom

    config = _config(tmp_path, "desc")
    config = replace(config, fields=config.fields + [
        FieldConfig(name="tags", type="text", array=True),
    ])
    create_index(catalog, config)
    docs = [dict(d, tags=["Red fox", "red"]) for d in DOCS[:2]] + DOCS[2:]
    seg = _commit(spark, catalog, tmp_path, "desc", docs, "a")
    data = _data(spark, config, [seg])

    got = _sidecar(spark, config, seg)
    want = per_field_stats(data, TEXT_FIELDS)
    assert _rows(got) == _rows(want)
    # schema as stored: the oracle through the same parquet round trip
    oracle_path = str(tmp_path / "oracle_stats")
    want.coalesce(1).write.parquet(oracle_path)
    assert got.schema == spark.read.parquet(oracle_path).schema

    # one file, sorted by (field, term) with each field's summary first
    files = [f for f in (tmp_path / "data" / "desc" / "_stats" / seg.file_name).iterdir()
             if f.name.endswith(".parquet")]
    assert len(files) == 1
    stored = [(r["field"], r["term"]) for r in spark.read.parquet(str(files[0])).collect()]
    assert stored == sorted(stored, key=lambda t: (t[0], t[1] is not None, t[1] or ""))

    assert set(seg.token_blooms) == {"body", "words", "title", "tags"}
    for name, tok in TEXT_FIELDS + [("tags", "default")]:
        if tok != "raw":
            want_bloom = bloom_formula(data, name, tok)
            assert seg.token_blooms[name] == want_bloom, name
            assert build_token_bloom(data, name, tok) == want_bloom, name


def test_commit_bloom_vocabulary_cap(spark, catalog, tmp_path, monkeypatch):
    """Over ``MAX_VOCAB`` distinct tokens a field records no bloom, at
    commit as in ``build_token_bloom``."""
    from toshokan_spark.functions import bloom

    monkeypatch.setattr(bloom, "MAX_VOCAB", 4)
    config = _config(tmp_path, "cap", fields=[("body", "default"), ("words", "whitespace")])
    create_index(catalog, config)
    seg = _commit(spark, catalog, tmp_path, "cap", [
        {"ts": "2024-01-01T10:00:00Z", "body": "one two three four five", "words": "a b"},
    ], "a")
    data = _data(spark, config, [seg])
    assert bloom.build_token_bloom(data, "body", "default") is None
    assert "body" not in seg.token_blooms
    assert seg.token_blooms["words"] == bloom_formula(data, "words", "whitespace")
    assert seg.token_blooms["words"] == bloom.build_token_bloom(data, "words", "whitespace")


def _merged_matches_recompute(spark, config, merged):
    data = _data(spark, config, [merged])
    fields = [(f.name, f.tokenizer) for f in config.fields
              if f.type == "text" and f.name in data.columns]
    assert _rows(_sidecar(spark, config, merged)) == _rows(per_field_stats(data, fields))


def test_merge_sums_sidecars_without_tokenizing(spark, catalog, tmp_path, monkeypatch):
    """A delete-free merge's sidecar is the sum of its inputs': equal to
    a recompute from the merged data, and built without one."""
    from toshokan_spark.functions import bm25

    def recompute(*a, **k):
        raise AssertionError("merge recomputed the stats from the merged data")

    config = _config(tmp_path, "msum")
    create_index(catalog, config)
    for i in range(3):
        _commit(spark, catalog, tmp_path, "msum", DOCS[2 * i:2 * i + 2], i)
    with monkeypatch.context() as mp:
        mp.setattr(bm25, "segment_field_stats", recompute)
        merged = merge_segments(spark, catalog, "msum")
    _merged_matches_recompute(spark, config, merged)
    assert set(merged.token_blooms) == {"body", "words", "title"}


def test_merge_with_pending_delete_recomputes(spark, catalog, tmp_path):
    """A merge that materializes a tombstone recomputes the survivors'
    stats and blooms."""
    from toshokan_spark.functions.bloom import bloom_might_contain

    config = _config(tmp_path, "mdel")
    create_index(catalog, config)
    _commit(spark, catalog, tmp_path, "mdel", DOCS[:3], "a")
    _commit(spark, catalog, tmp_path, "mdel", DOCS[3:], "b")
    catalog.add_delete("mdel", "level:WARN")
    merged = merge_segments(spark, catalog, "mdel")
    assert merged.num_rows == len(DOCS) - 1
    _merged_matches_recompute(spark, config, merged)
    # "shuffles" lived only in the deleted doc
    assert not bloom_might_contain(merged.token_blooms["body"], "shuffles")


def test_merge_after_alter_recomputes_the_added_field(spark, catalog, tmp_path):
    """A text field added by ``alter`` is missing from the sidecars of
    segments written before it, so its summed ``n_docs`` falls short of
    the merged row count: the merge recomputes from the data."""
    config = _config(tmp_path, "malt", fields=[("body", "default")])
    create_index(catalog, config)
    _commit(spark, catalog, tmp_path, "malt", [
        {"ts": "2024-01-01T10:00:00Z", "body": "alpha beta"},
    ], "a")
    altered = replace(config, fields=config.fields + [FieldConfig(name="note", type="text")])
    catalog.update_index(altered)
    _commit(spark, catalog, tmp_path, "malt", [
        {"ts": "2024-01-02T10:00:00Z", "body": "beta gamma", "note": "new words"},
    ], "b")
    merged = merge_segments(spark, catalog, "malt")
    _merged_matches_recompute(spark, altered, merged)
    note = _sidecar(spark, altered, merged).where("field = 'note' AND term IS NULL").first()
    assert note.n_docs == 2
    assert set(merged.token_blooms) == {"body", "note"}


def test_merge_keeps_bloom_across_geometries(spark, catalog, tmp_path, capsys):
    """Merging segments whose blooms differ in size (a large vocabulary
    and a small one) keeps a bloom on the merged segment, so a term
    query for an absent token still prunes it."""
    from toshokan_spark import cli

    config = IndexConfig(
        name="geo",
        path=str(tmp_path / "data" / "geo"),
        fields=[FieldConfig(name="message", type="text")],
    )
    create_index(catalog, config)
    _commit(spark, catalog, tmp_path, "geo", [
        {"message": " ".join(f"w{i}x{j}" for j in range(10))} for i in range(30)
    ], "big")
    _commit(spark, catalog, tmp_path, "geo", [{"message": "tiny note"}], "small")
    m = {s.token_blooms["message"]["m"] for s in catalog.segments("geo")}
    assert len(m) == 2, m

    merged = merge_segments(spark, catalog, "geo")
    assert merged.token_blooms and "message" in merged.token_blooms
    rc = cli.main(["--catalog", catalog.root, "explain", "geo", "message:nosuchtoken"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "PRUNE[bloom:message]" in out, out


@pytest.mark.parametrize("catalog", ["local"], indirect=True)
def test_commit_job_count_gate(spark, catalog, tmp_path):
    """Host-independent gate on the write path: a small commit into a
    time-partitioned index with raw and tokenized fields runs at most 4
    Spark jobs (the data write and the sidecar's aggregation), counted
    by job group."""
    config = _config(tmp_path, "gate")
    create_index(catalog, config)
    _commit(spark, catalog, tmp_path, "gate", DOCS, "warm")
    sc = spark.sparkContext
    sc.setJobGroup("commit-gate", "one small commit")
    try:
        _commit(spark, catalog, tmp_path, "gate", DOCS, "gated")
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("commit-gate")
    assert 0 < len(jobs) <= 4, f"a commit ran {len(jobs)} Spark jobs"
