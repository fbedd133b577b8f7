"""Unit tests for the pipeline operators (dedup / similarity / text /
multimodal) and BM25 scoring over tiny hand-checkable corpora. The
sf0.01 DuckDB oracle sweep (tools/check_oracle.py) is the volume
check; these pin the semantics with exact expected values."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from toshokan_spark.functions.bm25 import bm25_scores, bm25_topk
from toshokan_spark.operators import dedup, multimodal, similarity
from toshokan_spark.operators import text as textops


@pytest.fixture()
def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
        Row(doc_id=3, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=4, text="completely different content about spark engines"),
        Row(doc_id=5, text="completely different content about spark engines and tables"),
    ]
    return spark.createDataFrame(rows)


def test_exact_duplicates(docs):
    out = dedup.exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0].keeper_id == 1 and out[0].n_copies == 2


def test_deduplicate_exact_keeps_min_id(docs):
    kept = sorted(r.doc_id for r in dedup.deduplicate_exact(docs).collect())
    assert kept == [1, 2, 4, 5]


def test_ngram_jaccard_pairs(docs):
    out = {(r.a_id, r.b_id): r.jaccard for r in
           dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    # docs 1/3 identical (J=1); 1-2 and 2-3 share 6 of 8 distinct
    # 3-shingles (J=0.75); 4-5 share 4 of 6 (J≈0.667)
    assert out[(1, 3)] == 1.0
    assert out[(1, 2)] == 0.75 and out[(2, 3)] == 0.75
    assert abs(out[(4, 5)] - round(4 / 6, 6)) < 1e-9
    assert set(out) == {(1, 2), (1, 3), (2, 3), (4, 5)}


def test_minhash_lsh_finds_near_dups(docs):
    out = {(r.a_id, r.b_id): r.jaccard for r in
           dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    # identical docs always collide in every band; verified jaccard is
    # exact, so values match the exact operator's
    assert out[(1, 3)] == 1.0
    assert (1, 2) in out and out[(1, 2)] == 0.75


def test_ngram_jaccard_shingle_freq_cap_bounds_boilerplate(spark):
    """A shared boilerplate header must not quadratically blow up the
    co-shingle join: with the frequency cap at its default the header
    shingles (present in every doc) are dropped, and docs whose ONLY
    overlap is boilerplate produce no pair."""
    header = "subscribe to our newsletter for updates today"
    rows = [Row(doc_id=i, text=f"{header} unique body number {i} talks about topic {i}")
            for i in range(1, 21)]
    df = spark.createDataFrame(rows)
    # cap of 5 << 20 docs: every header-only shingle is dropped
    out = dedup.ngram_jaccard_pairs(df, k=3, threshold=0.2, max_shingle_freq=5).collect()
    assert out == []
    # without the cap the boilerplate alone joins all C(20,2) pairs
    uncapped = dedup.ngram_jaccard_pairs(
        df, k=3, threshold=0.2, max_shingle_freq=None).count()
    assert uncapped == 190


def test_minhash_band_freq_cap_bounds_degenerate_buckets(spark):
    """Identical docs share every band key; with max_band_freq below
    the clone-cluster size those buckets are dropped entirely, so no
    candidate pairs survive — proving the bucket bound is enforced."""
    rows = [Row(doc_id=i, text="exactly the same document text repeated verbatim here")
            for i in range(1, 11)]
    df = spark.createDataFrame(rows)
    capped = dedup.minhash_lsh_pairs(df, threshold=0.5, max_band_freq=5).count()
    assert capped == 0
    uncapped = dedup.minhash_lsh_pairs(df, threshold=0.5, max_band_freq=None).count()
    assert uncapped == 45  # C(10,2)


def test_simhash_wide_docs_path_matches_narrow(docs):
    narrow = {(r.a_id, r.b_id): r.hamming for r in
              dedup.simhash_near_pairs(docs, max_hamming=64).collect()}
    wide = {(r.a_id, r.b_id): r.hamming for r in
            dedup.simhash_near_pairs(docs, max_hamming=64, wide_docs=True).collect()}
    assert narrow == wide and narrow


def test_simhash_identical_docs_distance_zero(docs):
    out = {(r.a_id, r.b_id): r.hamming for r in
           dedup.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert out[(1, 3)] == 0


def test_embedding_dup_pairs(spark):
    rows = [
        Row(vec_id=1, label="a", embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, label="a", embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=3, label="a", embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=4, label="b", embedding=[1.0, 0.0, 0.0]),  # other block
    ]
    df = spark.createDataFrame(rows)
    out = {(r.a_id, r.b_id): r.cosine for r in
           dedup.embedding_dup_pairs(df, threshold=0.9).collect()}
    assert set(out) == {(1, 2)}
    assert abs(out[(1, 2)] - round(0.9 / math.sqrt(0.82), 6)) < 1e-9


def test_knn_bruteforce_exact_ranking(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.8, 0.6]),
        Row(vec_id=2, embedding=[0.0, 1.0]),
        Row(vec_id=3, embedding=[-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    out = similarity.knn_bruteforce(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    assert [r.neighbor_id for r in out] == [1, 2, 3]
    assert [r.rank for r in out] == [1, 2, 3]
    assert out[0].score == 0.8


def test_knn_ivf_full_probe_equals_bruteforce(spark):
    import random

    rnd = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rnd.uniform(-1, 1) for _ in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    q = df.filter(F.col("vec_id") < 2)
    exact = similarity.knn_bruteforce(df, q, k=5).collect()
    ivf = similarity.knn_ivf(df, q, k=5, num_centroids=4, n_probe=4).collect()
    key = lambda rs: sorted((r.query_id, r.rank, r.neighbor_id, r.score) for r in rs)
    assert key(ivf) == key(exact)


def test_knn_ivf_approximate_partial_probe(spark):
    # two tight, well-separated clusters: probing 1 of 2 centroids
    # still retrieves the same-cluster neighbors
    rows = [Row(vec_id=i, embedding=[10.0 + i * 0.01, 0.0]) for i in range(5)]
    rows += [Row(vec_id=100 + i, embedding=[0.0, 10.0 + i * 0.01]) for i in range(5)]
    df = spark.createDataFrame(rows)
    q = df.filter(F.col("vec_id") == 0)
    out = similarity.knn_ivf(df, q, k=3, num_centroids=2, n_probe=1, iters=2).collect()
    assert sorted(r.neighbor_id for r in out) == [1, 2, 3]


def test_vectorized_cosine_matches_fold(spark):
    """The Arrow/BLAS cosine path must agree with the sequential fold
    to ~1 ulp: same pair/neighbor sets, scores within 1e-9."""
    rows = [
        Row(vec_id=i, label="x", embedding=[float((i * 13) % 7) + 0.25, float(i % 5), 1.5])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows)
    fold = {(r.a_id, r.b_id): r.cosine
            for r in dedup.embedding_dup_pairs(df, threshold=0.5).collect()}
    vec = {(r.a_id, r.b_id): r.cosine
           for r in dedup.embedding_dup_pairs(df, threshold=0.5, vectorized=True).collect()}
    assert set(fold) == set(vec) and fold
    assert all(abs(fold[k] - vec[k]) < 1e-9 for k in fold)

    q = df.filter(F.col("vec_id") < 2)
    bf = similarity.knn_bruteforce(df, q, k=4).collect()
    bv = similarity.knn_bruteforce(df, q, k=4, vectorized=True).collect()
    key = lambda rs: sorted((r.query_id, r.rank, r.neighbor_id) for r in rs)
    assert key(bf) == key(bv)


def test_knn_ivf_persisted_assignment_equals_inline(spark, tmp_path):
    """Training/query split: a persisted assign_ivf index column gives
    the same answers as on-the-fly assignment — the query path reads
    the parquet instead of re-scanning/assigning the corpus."""
    rows = [
        Row(vec_id=i, embedding=[float((i * 7) % 5), float((i * 3) % 4), 1.0])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    q = df.filter(F.col("vec_id") < 2)
    cents = similarity.seed_ivf_centroids(df, num_centroids=4)
    inline = similarity.knn_ivf(
        df, q, k=4, num_centroids=4, n_probe=2, centroids=cents
    ).collect()
    # persist the index (centroid assignment as a column), reload, query
    idx_path = str(tmp_path / "ivf_index")
    similarity.assign_ivf(df, cents).write.parquet(idx_path)
    reloaded = spark.read.parquet(idx_path)
    persisted = similarity.knn_ivf(
        df, q, k=4, num_centroids=4, n_probe=2, centroids=cents, assigned=reloaded
    ).collect()
    key = lambda rs: sorted((r.query_id, r.rank, r.neighbor_id, r.score) for r in rs)
    assert key(inline) == key(persisted) and inline


def test_knn_lsh_self_bucket_recall(spark):
    # identical vectors share every hyperplane sign -> always same
    # bucket, so the near-duplicate is always retrieved
    rows = [Row(vec_id=i, embedding=[1.0, 2.0, 3.0]) for i in range(4)]
    df = spark.createDataFrame(rows)
    out = similarity.knn_lsh(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    assert sorted(r.neighbor_id for r in out) == [1, 2, 3]
    assert all(r.score == 1.0 for r in out)


def test_token_stats_values(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a bb  a ccc")])
    r = textops.token_stats(df).collect()[0]
    assert (r.n_tokens, r.n_distinct_tokens, r.n_chars, r.n_bytes) == (4, 3, 11, 11)
    assert r.n_bpe_est == 3  # ceil(11/4)


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the dog is in"),
            Row(doc_id=2, text="el perro y la casa de los"),
            Row(doc_id=3, text="zzz qqq www"),
        ]
    )
    out = {r.doc_id: r.lang_pred for r in textops.lang_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "und"}


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Hello   World"),
            Row(doc_id=2, text="hello world"),
            Row(doc_id=3, text="hello worlds"),
        ]
    )
    out = {r.doc_id: r.fingerprint for r in textops.fingerprint(df).collect()}
    assert out[1] == out[2] != out[3]


def test_multimodal_roundtrip(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="abc")])
    blobbed = multimodal.attach_blob(df)
    r = blobbed.collect()[0]
    assert bytes(r.blob) == b"abc" and r.blob_bytes == 3
    meta = multimodal.decode_image_meta(blobbed, codec="stub").collect()[0].image_meta
    assert 64 <= meta.width <= 255 and meta.channels in (1, 3)
    frames = multimodal.sample_frames(blobbed, every_n_bytes=2, max_frames=4).collect()
    assert [bytes(f.frame) for f in frames] == [b"ab", b"c"]


def test_multimodal_codec_selection(spark):
    """codec='stub' works everywhere; 'real' raises a clear
    NotImplementedError when PIL is absent; 'auto' matches REAL_CODECS."""
    df = spark.createDataFrame([Row(doc_id=1, text="xyz")])
    blobbed = multimodal.attach_blob(df)
    stub = multimodal.decode_image_meta(blobbed, codec="stub").collect()[0].image_meta
    auto = multimodal.decode_image_meta(blobbed, codec="auto").collect()[0].image_meta
    if multimodal.REAL_CODECS:
        # text bytes are not a decodable image -> real path yields NULL
        assert auto is None
    else:
        assert auto == stub
        with pytest.raises(NotImplementedError, match="PIL"):
            multimodal.decode_image_meta(blobbed, codec="real")
        with pytest.raises(NotImplementedError, match="PIL"):
            multimodal.resize_images(blobbed, codec="real")
    with pytest.raises(ValueError, match="codec"):
        multimodal.decode_image_meta(blobbed, codec="bogus")


@pytest.mark.skipif(
    not multimodal.REAL_CODECS, reason="PIL not importable in this environment"
)
def test_multimodal_real_codec_roundtrip(spark):
    """Real-branch proof where PIL exists: a genuine PNG decodes to
    its true dimensions and resizes within the target box; corrupt
    bytes yield NULL instead of failing the batch."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (320, 200), color=(255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame(
        [Row(doc_id=1, blob=bytearray(png)),
         Row(doc_id=2, blob=bytearray(b"not an image"))]
    )
    metas = {
        r.doc_id: r.image_meta
        for r in multimodal.decode_image_meta(df, codec="real").collect()
    }
    assert (metas[1].width, metas[1].height, metas[1].channels) == (320, 200, 3)
    assert metas[1].format == "PNG"
    assert metas[2] is None

    resized = {
        r.doc_id: r.blob
        for r in multimodal.resize_images(df, target=(64, 64), codec="real").collect()
    }
    out = Image.open(io.BytesIO(bytes(resized[1])))
    assert max(out.size) <= 64 and out.size[0] / out.size[1] == 320 / 200
    assert resized[2] is None


def test_asof_join_semantics(spark):
    from toshokan_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [Row(id=1, k="a", t=10), Row(id=2, k="a", t=20), Row(id=3, k="b", t=5),
         Row(id=4, k="c", t=50)]
    )
    right = spark.createDataFrame(
        [Row(k="a", rt=8, v="a8"), Row(k="a", rt=20, v="a20"),
         Row(k="a", rt=25, v="a25"), Row(k="b", rt=9, v="b9")]
    )
    out = {
        r.id: (r.asof_rt, r.asof_v)
        for r in asof_join(
            left, right, on=["k"], left_ts="t", right_ts="rt", payload=["rt", "v"]
        ).collect()
    }
    assert out[1] == (8, "a8")       # strictly-before match
    assert out[2] == (20, "a20")     # equal timestamp is inclusive
    assert out[3] == (None, None)    # right row is later -> no match
    assert out[4] == (None, None)    # key with no right rows at all


def test_bm25_scores_and_topk(docs):
    scored = {r.id: r.bm25 for r in bm25_scores(docs, "spark engines").collect()}
    # only docs 4 and 5 contain the terms; doc 4 is shorter -> higher
    assert set(scored) == {4, 5}
    assert scored[4] > scored[5] > 0
    top = bm25_topk(docs, "spark engines", k=1).collect()
    assert [r.id for r in top] == [4]


def test_scored_search_end_to_end(spark, catalog, tmp_path):
    import json

    from toshokan_spark.config import FieldConfig, IndexConfig
    from toshokan_spark.indexer import index_batch
    from toshokan_spark.maintenance import create_index
    from toshokan_spark.search import scored_search_df

    config = IndexConfig(
        name="scored",
        path=str(tmp_path / "data" / "scored"),
        fields=[
            FieldConfig(name="doc_id", type="number", number_type="i64"),
            FieldConfig(name="body", type="text"),
        ],
    )
    create_index(catalog, config)
    rows = [
        {"doc_id": 1, "body": "spark spark spark is fast"},
        {"doc_id": 2, "body": "spark is a distributed engine"},
        {"doc_id": 3, "body": "nothing relevant here"},
    ]
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    index_batch(spark, catalog, "scored", jsonl_path=str(p))

    out = scored_search_df(spark, catalog, "scored", "body:spark", "body", limit=5).collect()
    assert [r.doc_id for r in out] == [1, 2]
    assert out[0]._score > out[1]._score


def test_scored_search_merges_commit_time_stats(spark, catalog, tmp_path):
    """Scored search must read the per-segment stats parquets instead
    of re-aggregating the corpus per query: the plan gets exactly one
    data FileScan (matching) plus one _stats FileScan, and the scores
    are bit-identical to the full-corpus-agg fallback (integer stats
    sum exactly across segments)."""
    import json

    from toshokan_spark.config import FieldConfig, IndexConfig
    from toshokan_spark.indexer import index_batch, stats_path
    from toshokan_spark.maintenance import create_index, merge_segments
    from toshokan_spark.search import scored_search_df

    config = IndexConfig(
        name="scored_stats",
        path=str(tmp_path / "data" / "scored_stats"),
        fields=[
            FieldConfig(name="doc_id", type="number", number_type="i64"),
            FieldConfig(name="body", type="text"),
        ],
    )
    create_index(catalog, config)
    batches = [
        [
            {"doc_id": 1, "body": "spark spark spark is fast"},
            {"doc_id": 2, "body": "spark is a distributed engine"},
        ],
        [
            {"doc_id": 3, "body": "nothing relevant in this one"},
            {"doc_id": 4, "body": "the spark engine shuffles data"},
        ],
    ]
    for i, rows in enumerate(batches):
        p = tmp_path / f"docs{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        index_batch(spark, catalog, "scored_stats", jsonl_path=str(p))

    st = catalog.data_storage(config)
    segs = catalog.segments("scored_stats")
    assert len(segs) == 2
    assert all(st.exists(stats_path(config, s.file_name)) for s in segs)

    spark.conf.set("spark.sql.debug.maxToStringFields", "500")

    def run():
        df = scored_search_df(
            spark, catalog, "scored_stats", "body:spark engine", "body", limit=10
        )
        plan = df._jdf.queryExecution().sparkPlan().toString()
        # the stats scan is identifiable by its fixed read schema
        n_scans = plan.count("FileScan")
        n_stats = plan.count("struct<field:string,term:string")
        # ties on equal scores have no deterministic order; compare
        # as a (score desc, id) sorted list
        rows = sorted(((r.doc_id, r._score) for r in df.collect()),
                      key=lambda t: (-t[1], t[0]))
        return rows, n_scans, n_stats

    with_stats, n_scans, n_stats = run()
    assert n_stats == 1, "scored search did not read the stats parquets"
    assert n_scans == 2, "expected exactly one data scan + one stats scan"

    # the per-segment sidecars summed by (field, term): what the merged
    # segment's sidecar must hold however it is built
    summed: dict = {}
    for s in segs:
        for r in spark.read.parquet(stats_path(config, s.file_name)).collect():
            acc = summed.setdefault((r.field, r.term), [None, None, None])
            for i, v in enumerate((r.df, r.n_docs, r.sum_dl)):
                if v is not None:
                    acc[i] = (acc[i] or 0) + v

    # fallback (stats removed) must produce bit-identical scores
    for s in segs:
        st.delete_tree(stats_path(config, s.file_name))
    fallback, _, fb_stats = run()
    assert fb_stats == 0
    assert fallback == with_stats

    # with its inputs' sidecars gone, compaction recomputes stats from
    # the merged data: equal to the inputs' sum, and scoring still
    # matches
    merge_segments(spark, catalog, "scored_stats")
    (merged_seg,) = catalog.segments("scored_stats")
    assert st.exists(stats_path(config, merged_seg.file_name))
    recomputed = {
        (r.field, r.term): [r.df, r.n_docs, r.sum_dl]
        for r in spark.read.parquet(stats_path(config, merged_seg.file_name)).collect()
    }
    assert recomputed == summed
    merged, _, m_stats = run()
    assert m_stats == 1
    assert merged == with_stats


# ---------------------------------------------------------------------------
# training-data selection operators (sampling.py) + cluster resolution
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("local_threshold", [0, 1_000_000])
def test_duplicate_clusters_connected_components(spark, local_threshold):
    """Identical labels from both execution paths: the distributed
    star loop (local_threshold=0 forces it) and the driver-side
    union-find fast path the default threshold selects for small
    edge sets."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (4, 9), (9, 12), (12, 13)],
        ["a_id", "b_id"],
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(
            pairs, local_threshold=local_threshold
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 4: 4, 9: 4, 12: 4, 13: 4}


def test_operators_release_cache_entries(spark):
    """Operators that persist() intermediates must release them before
    returning: DataFrame caches are held by the session CacheManager,
    which never garbage-collects — in a long-lived pipeline service
    each leaked entry pins its partitions for the session lifetime.
    (localCheckpoint blocks are plan-referenced and ContextCleaner'd
    when results are dropped, so only CacheManager entries count.)"""
    from toshokan_spark.operators import similarity

    def cached_plans_empty():
        return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta {i % 7} epsilon zeta")
         for i in range(40)]
    )
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * j) % 5) for j in range(4)])
         for i in range(30)]
    )
    assert cached_plans_empty(), "leaked cache before the test ran"

    dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    assert cached_plans_empty(), "ngram_jaccard_pairs leaked its cache"

    dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4).collect()
    assert cached_plans_empty(), "minhash_lsh_pairs leaked its cache"

    dedup.simhash_near_pairs(docs).collect()
    assert cached_plans_empty(), "simhash_near_pairs leaked its cache"

    similarity.train_ivf_centroids(emb, num_centroids=4, iters=1)
    assert cached_plans_empty(), "train_ivf_centroids leaked its cache"


def test_duplicate_clusters_raises_on_non_convergence(spark):
    """A budget too small for the component diameter must REFUSE
    (split cluster ids are silently wrong). Star alternations cover
    ~2^rounds of diameter, so one round cannot finish a 40-node
    chain — and the verification alternation runs OUTSIDE the budget,
    so a 2-node component (fixed point after one productive round)
    converges even with max_iterations=1."""
    deep = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["a_id", "b_id"]
    )
    with pytest.raises(ValueError, match="converge"):
        dedup.duplicate_clusters(deep, max_iterations=1, local_threshold=0)
    tiny = spark.createDataFrame([(1, 2)], ["a_id", "b_id"])
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(
            tiny, max_iterations=1, local_threshold=0
        ).collect()
    }
    assert got == {1: 1, 2: 1}


def test_duplicate_clusters_deep_chain_converges_by_default(spark):
    """O(log diameter) rounds: a 40-node chain (diameter 39 — the
    old min-label propagation refused anything past its per-hop
    budget) converges well inside the DEFAULT budget, labeling the
    whole component with its minimum id."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["a_id", "b_id"]
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(chain, local_threshold=0).collect()
    }
    assert got == {i: 1 for i in range(1, 41)}


def test_sample_by_hash_deterministic_and_nested(spark):
    from toshokan_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    s30 = {r.doc_id for r in sampling.sample_by_hash(df, 0.3, "doc_id").collect()}
    s30b = {r.doc_id for r in sampling.sample_by_hash(df, 0.3, "doc_id").collect()}
    s60 = {r.doc_id for r in sampling.sample_by_hash(df, 0.6, "doc_id").collect()}
    assert s30 == s30b            # reproducible
    assert s30 <= s60             # rate increase only adds rows
    assert 0.2 < len(s30) / 500 < 0.4
    # different seed -> different (but still deterministic) subset
    s30s = {r.doc_id for r in sampling.sample_by_hash(df, 0.3, "doc_id", seed=7).collect()}
    assert s30s != s30
    assert sampling.sample_by_hash(df, 0.0, "doc_id").count() == 0
    assert sampling.sample_by_hash(df, 1.0, "doc_id").count() == 500


def test_token_budget_pack(spark):
    from toshokan_spark.operators import sampling

    rows = [
        Row(source="a", doc_id=1, n_tokens=40),
        Row(source="a", doc_id=2, n_tokens=50),
        Row(source="a", doc_id=3, n_tokens=20),   # 40+50+20 > 100 -> cut
        Row(source="b", doc_id=4, n_tokens=99),
        Row(source="b", doc_id=5, n_tokens=2),    # 101 > 100 -> cut
    ]
    out = sampling.token_budget_pack(spark.createDataFrame(rows), budget_tokens=100)
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [1, 2, 4]


def test_source_mixture_weights(spark):
    from toshokan_spark.operators import sampling

    rows = [Row(source="a", n_tokens=900), Row(source="a", n_tokens=100),
            Row(source="b", n_tokens=100)]
    out = {r.source: r for r in
           sampling.source_mixture(spark.createDataFrame(rows), alpha=0.5).collect()}
    assert out["a"].n_docs == 2 and out["a"].n_tokens == 1000
    # sqrt(1000) : sqrt(100) ~ 0.759747 : 0.240253
    assert abs(out["a"].weight + out["b"].weight - 1.0) < 1e-6
    assert abs(out["a"].weight - 0.759747) < 1e-6


def test_source_mixture_order_independent(spark):
    """The normalizer sums scaled weights as decimal(38,18), so the
    weights are bit-identical regardless of partition count / fold
    order (a plain double sum folds in partition order and can drift
    an ulp, flipping round(weight, 6) at a tie)."""
    from toshokan_spark.operators import sampling

    rows = [Row(source=f"s{i % 37}", n_tokens=(i * 7919) % 5000 + 1)
            for i in range(2000)]
    base = spark.createDataFrame(rows)
    outs = []
    for nparts in (1, 7, 32):
        out = sampling.source_mixture(base.repartition(nparts), alpha=0.5)
        outs.append(sorted((r.source, r.n_docs, r.n_tokens, repr(r.weight))
                           for r in out.collect()))
    assert outs[0] == outs[1] == outs[2]


def test_pii_scrub(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1,
             text="mail bob@example.com or 10.1.2.3 or 555-123-4567 twice bob@example.com")]
    )
    r = textops.pii_scrub(df).collect()[0]
    assert r.n_email == 2 and r.n_ipv4 == 1 and r.n_phone == 1
    assert "bob@example.com" not in r.clean_text
    assert r.clean_text == "mail <EMAIL> or <IP> or <PHONE> twice <EMAIL>"


def test_sample_by_hash_partition_invariant(spark):
    """A row's fate depends only on its key: the sampled set must be
    identical whatever the physical partitioning."""
    from toshokan_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(300)], ["doc_id"])
    one = {r.doc_id for r in
           sampling.sample_by_hash(df.repartition(1), 0.4, "doc_id").collect()}
    many = {r.doc_id for r in
            sampling.sample_by_hash(df.repartition(16), 0.4, "doc_id").collect()}
    assert one == many


def test_poly_udf_signatures_match_sql_spec(spark):
    """The Arrow-batched poly-family signature UDFs must be
    bit-identical to the pure-SQL-expression formulation
    (hash_family='poly_expr') they replaced for speed — the SQL
    version IS the executable spec DuckDB oracles mirror. Covers
    empty text, single word, multi-space, BMP unicode, long docs."""
    texts = [
        "", "one", "a b c d e", "  spaced   out  text here ",
        "héllo wörld ünïcode tokens again", "x " * 200, "a b c " * 50,
    ]
    df = spark.createDataFrame(
        [Row(id=i, text=t) for i, t in enumerate(texts)]
    )
    sh = df.select("id", dedup.shingles_col(F.col("text"), 3).alias("sh"))
    fast = {r.id: list(r.sig) for r in
            dedup.minhash_signatures(sh, 128, id_col="id",
                                     hash_family="poly").collect()}
    spec = {r.id: list(r.sig) for r in
            dedup.minhash_signatures(sh, 128, id_col="id",
                                     hash_family="poly_expr").collect()}
    assert fast == spec

    sf = {r.id: r.s for r in df.select(
        "id", dedup.simhash_signature(
            F.col("text"), hash_family="poly").alias("s")).collect()}
    ss = {r.id: r.s for r in df.select(
        "id", dedup.simhash_signature(
            F.col("text"), hash_family="poly_expr").alias("s")).collect()}
    assert sf == ss


def test_gopher_rules_metrics_and_pass_flag(spark):
    good = " ".join(f"alpha{i} beta{i} gamma{i} delta{i}" for i in range(5))  # 20 distinct words
    repeat_bg = "spam ham " * 20  # one bigram dominates
    symbolic = "### ... ### ... " * 5 + "a b c d e f g h i j"
    dup_lines = "\n".join(["same line of text"] * 8 + ["unique closer line"])
    df = spark.createDataFrame(
        [Row(doc_id=1, text=good), Row(doc_id=2, text=repeat_bg),
         Row(doc_id=3, text=symbolic), Row(doc_id=4, text=dup_lines),
         Row(doc_id=5, text="short")]
    )
    got = {r.doc_id: r for r in textops.gopher_rules(df).collect()}
    assert got[1].passes  # varied 20-word text clears every rule
    assert got[1].n_words == 20 and got[1].frac_alpha_words == 1.0
    # degenerate repetition: 'ham spam' fills ~half the bigrams
    assert got[2].top_bigram_frac > 0.2 and not got[2].passes
    # markup debris: hashes + ellipses per word over the 0.1 line
    assert got[3].symbol_word_ratio > 0.1 and not got[3].passes
    # 8 of 9 non-blank lines repeat
    assert got[4].dup_line_frac > 0.3 and not got[4].passes
    # below the word-count floor
    assert got[5].n_words == 1 and not got[5].passes


def test_incremental_jaccard_matches_best_corpus_match(spark):
    corpus = spark.createDataFrame([
        Row(doc_id=10, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=11, text="alpha beta gamma delta epsilon eta"),
        Row(doc_id=12, text="totally different corpus content here"),
    ])
    new = spark.createDataFrame([
        # near-dup of both 10 and 11; 10 wins on higher overlap
        Row(doc_id=100, text="alpha beta gamma delta epsilon zeta theta"),
        # matches nothing
        Row(doc_id=101, text="unrelated fresh novel document text"),
    ])
    out = {r.new_id: (r.corpus_id, r.jaccard)
           for r in dedup.incremental_jaccard_matches(new, corpus, threshold=0.3).collect()}
    assert set(out) == {100}
    assert out[100][0] == 10 and out[100][1] > 0.5
    # new x new pairs must never appear: two identical new docs still
    # only report corpus matches
    twin = new.union(spark.createDataFrame(
        [Row(doc_id=102, text="alpha beta gamma delta epsilon zeta theta")]))
    out2 = {r.new_id for r in
            dedup.incremental_jaccard_matches(twin, corpus, threshold=0.3).collect()}
    assert out2 == {100, 102}


def test_incremental_jaccard_tie_breaks_lowest_corpus_id(spark):
    corpus = spark.createDataFrame([
        Row(doc_id=21, text="one two three four five"),
        Row(doc_id=20, text="one two three four five"),  # identical twins
    ])
    new = spark.createDataFrame([Row(doc_id=1, text="one two three four five")])
    (r,) = dedup.incremental_jaccard_matches(new, corpus, threshold=0.5).collect()
    assert (r.new_id, r.corpus_id, r.jaccard) == (1, 20, 1.0)


def test_incremental_minhash_matches_vs_precomputed_sigs(spark):
    """Band-joining a batch against precomputed corpus signatures
    finds the same matches the exact incremental operator reports
    (identical docs collide in every band; verification is exact)."""
    corpus = spark.createDataFrame([
        Row(doc_id=10, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=11, text="alpha beta gamma delta epsilon eta"),
        Row(doc_id=12, text="totally different corpus content here"),
    ])
    new = spark.createDataFrame([
        Row(doc_id=100, text="alpha beta gamma delta epsilon zeta theta"),
        Row(doc_id=101, text="unrelated fresh novel document text"),
    ])
    sigs = dedup.corpus_minhash_signatures(corpus)
    got = {r.new_id: (r.corpus_id, r.jaccard)
           for r in dedup.incremental_minhash_matches(new, sigs, threshold=0.3).collect()}
    exact = {r.new_id: (r.corpus_id, r.jaccard)
             for r in dedup.incremental_jaccard_matches(new, corpus, threshold=0.3).collect()}
    assert got == exact and set(got) == {100}
    # poly family agrees with the production xxhash family
    psigs = dedup.corpus_minhash_signatures(corpus, hash_family="poly")
    pgot = {r.new_id: (r.corpus_id, r.jaccard)
            for r in dedup.incremental_minhash_matches(
                new, psigs, threshold=0.3, hash_family="poly").collect()}
    assert pgot == got


def test_source_token_profile_exact_percentiles(spark):
    from toshokan_spark.operators import sampling

    df = spark.createDataFrame(
        [Row(source="a", n_tokens=t) for t in (10, 20, 30, 40)]
        + [Row(source="b", n_tokens=t) for t in (5, 100)]
    )
    got = {r.source: r for r in sampling.source_token_profile(df).collect()}
    # linear interpolation: p50 of [10,20,30,40] = 25.0
    assert got["a"].p50_tokens == 25.0
    assert got["a"].n_docs == 4 and got["a"].total_tokens == 100
    assert got["a"].max_tokens == 40
    # p95 of [10,20,30,40]: pos=0.95*3=2.85 -> 30 + 0.85*10 = 38.5
    assert abs(got["a"].p95_tokens - 38.5) < 1e-12
    assert got["b"].p50_tokens == 52.5 and got["b"].max_tokens == 100


def test_char_shingle_dedup_for_unsegmented_text(spark):
    """Word shingles collapse to one giant token on unsegmented (CJK)
    text; char shingles recover near-dup detection there, and the
    word/char paths agree on segmented text."""
    cjk = spark.createDataFrame([
        Row(doc_id=1, text="深層学習モデルの訓練データを重複排除する"),
        Row(doc_id=2, text="深層学習モデルの訓練データを重複排除します"),
        Row(doc_id=3, text="全く別の内容の文書ですここに共通点はない"),
    ])
    # word unit: no whitespace -> each doc is ONE shingle, no pairs
    words = dedup.ngram_jaccard_pairs(cjk, k=3, threshold=0.3).collect()
    assert words == []
    chars = {(r.a_id, r.b_id): r.jaccard for r in
             dedup.ngram_jaccard_pairs(
                 cjk, k=5, threshold=0.3, shingle_unit="char").collect()}
    assert set(chars) == {(1, 2)} and chars[(1, 2)] > 0.5

    # char-unit incremental matching works the same way
    new = spark.createDataFrame(
        [Row(doc_id=100, text="深層学習モデルの訓練データを重複排除するのだ")])
    out = dedup.incremental_jaccard_matches(
        new, cjk, k=5, threshold=0.3, shingle_unit="char").collect()
    assert [(r.new_id, r.corpus_id) for r in out] == [(100, 1)]


def test_simhash_char_tokens_for_unsegmented_text(spark):
    """Word-token SimHash sees ONE token per CJK doc (the signature
    is that token's raw hash — near and unrelated docs land at
    indistinguishable distances); char-gram tokens restore graded
    similarity. Signature-level assertions are deterministic; the
    chunk-blocked pair join is exercised via identical docs (h=0 is
    inside the pigeonhole guarantee)."""
    from toshokan_spark.operators.dedup import (
        _simhash_from_tokens,
        normalized_text,
    )

    near_a = "深層学習モデルの訓練データを重複排除する処理の説明"
    near_b = near_a + "だ"  # one appended char
    far = "株式市場の動向と金利の変化に関する全く別の記事"
    cjk = spark.createDataFrame(
        [Row(doc_id=1, text=near_a), Row(doc_id=2, text=near_b),
         Row(doc_id=3, text=far)]
    )
    staged = cjk.select("doc_id", normalized_text(F.col("text")).alias("__t"))
    n = F.length("__t")
    win = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.substr(F.col("__t"), i, F.lit(3)),
        ),
    ).otherwise(F.array(F.col("__t")))
    sigs = {
        r.doc_id: r.s
        for r in staged.select("doc_id", win.alias("__tk"))
        .select("doc_id", _simhash_from_tokens(F.col("__tk")).alias("s"))
        .collect()
    }

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # near pair clearly separable from the unrelated doc
    assert ham(sigs[1], sigs[2]) < 12 < ham(sigs[1], sigs[3])

    # end-to-end char path through the pair join: identical docs sit
    # at hamming 0 (guaranteed capture), both hash families
    twin = spark.createDataFrame(
        [Row(doc_id=1, text=near_a), Row(doc_id=2, text=near_a),
         Row(doc_id=3, text=far)]
    )
    for fam in ("xxhash", "poly"):
        got = {(r.a_id, r.b_id): r.hamming for r in
               dedup.simhash_near_pairs(
                   twin, max_hamming=3, token_unit="char",
                   hash_family=fam).collect()}
        assert got == {(1, 2): 0}, fam


def test_decontaminate_flags_and_drops_overlapping_docs(spark):
    """Docs sharing an n-gram with the benchmark are reported with the
    right hit count and removed by decontaminate; clean docs pass."""
    from pyspark.sql import Row

    from toshokan_spark.operators import decontaminate as dc

    bench = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
    ])
    docs = spark.createDataFrame([
        # shares the 4-grams "quick brown fox jumps" etc.
        Row(doc_id=10, text="a quick brown fox jumps over fences daily"),
        Row(doc_id=11, text="completely unrelated training content here now"),
        # short doc, whole-text fallback, no benchmark collision
        Row(doc_id=12, text="tiny doc"),
    ])
    rep = {r.doc_id: (r.n_hits, r.sample_gram)
           for r in dc.contamination_report(docs, bench, n=4).collect()}
    # doc 10's distinct 4-grams intersecting the benchmark's:
    # "quick brown fox jumps", "brown fox jumps over" -> 2 hits
    assert rep == {10: (2, "brown fox jumps over")}

    kept = sorted(r.doc_id for r in dc.decontaminate(docs, bench, n=4).collect())
    assert kept == [11, 12]


def test_decontaminate_benchmark_side_is_broadcast(spark):
    """The benchmark gram set must reach the corpus explode as a
    broadcast — the corpus-side n-gram fan-out never shuffles."""
    from pyspark.sql import Row

    from toshokan_spark.operators import decontaminate as dc

    bench = spark.createDataFrame([Row(doc_id=1, text="alpha beta gamma delta")])
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta doc {i}") for i in range(20)]
    )
    rep = dc.contamination_report(docs, bench, n=4)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_semantic_dedup_drops_near_identical_cluster_mates(spark):
    """Within-cluster cosine-duplicates above threshold lose all but
    the min id; cross-cluster similarity never triggers a drop."""
    from pyspark.sql import Row

    from toshokan_spark.operators import similarity as sim

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),   # centroid seed 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),   # centroid seed 1
        Row(vec_id=10, embedding=[0.99, 0.01, 0.0, 0.0]),  # dup of 1's cluster
        Row(vec_id=11, embedding=[0.98, 0.02, 0.0, 0.0]),  # chain: dup of 10
        Row(vec_id=20, embedding=[0.0, 0.97, 0.03, 0.0]),  # dup in cluster 1
        Row(vec_id=30, embedding=[0.1, 0.9, 0.4, 0.0]),    # same cluster, far
    ]
    emb = spark.createDataFrame(rows)
    cents = sim.seed_ivf_centroids(emb, num_centroids=2)
    kept = {r.vec_id: r.cid for r in
            sim.semantic_dedup(emb, cents, threshold=0.95).collect()}
    # 10 and 11 collapse onto 1; 20 collapses onto 2; 30 survives
    assert set(kept) == {1, 2, 30}


def test_chunk_documents_boundaries_and_overlap(spark):
    """Chunk starts stride by max-overlap; final short chunk kept;
    docs at/under max yield one chunk; overlap tokens repeat."""
    from pyspark.sql import Row

    from toshokan_spark.operators import sampling

    words40 = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame([
        Row(doc_id=1, text=words40),          # 40 tokens
        Row(doc_id=2, text="a b c"),          # under max -> one chunk
    ])
    out = sorted(
        ((r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_text)
         for r in sampling.chunk_documents(
             docs, max_tokens=16, overlap=4
         ).collect())
    )
    # doc 1: starts 1, 13, 25 (stride 12, up to 40-4=36) -> 16,16,16
    assert [(d, i, n) for d, i, n, _ in out] == [
        (1, 0, 16), (1, 1, 16), (1, 2, 16), (2, 0, 3),
    ]
    c0, c1 = out[0][3].split(), out[1][3].split()
    assert c0 == [f"w{i}" for i in range(16)]
    assert c1[:4] == c0[-4:]  # the 4-token overlap


def test_quantize_embeddings_int8_roundtrip(spark):
    """q_i in [-127,127], extreme component hits exactly ±127, zero
    vector quantizes to zeros with scale 0, dequant error <= scale/2."""
    from pyspark.sql import Row

    from toshokan_spark.operators import similarity as sim

    emb = spark.createDataFrame([
        Row(vec_id=1, embedding=[0.5, -1.0, 0.25, 0.0]),
        Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0]),
    ])
    out = {r.vec_id: r for r in sim.quantize_embeddings(emb).collect()}
    r1 = out[1]
    assert r1.qvec[1] == -127 and max(abs(q) for q in r1.qvec) == 127
    scale = 1.0 / 127.0
    for orig, q in zip([0.5, -1.0, 0.25, 0.0], r1.qvec):
        assert abs(orig - q * scale) <= scale / 2 + 1e-12
    assert out[2].scale == 0.0 and out[2].qvec == [0, 0, 0, 0]


def test_apply_mixture_realizes_target_weights(spark):
    """Per-source rates: binding source kept whole (rate 1); the
    over-represented source downsampled toward its weight; kept sets
    are deterministic subsets of the input."""
    from pyspark.sql import Row

    from toshokan_spark.operators import sampling

    # source a: 9x the tokens of source b -> temperature 0.5 pushes
    # weight toward b, so a is the downsampled one. 6-digit ids: the
    # polynomial sampling hash buckets 1-2 char keys unevenly, so tiny
    # consecutive ids would make the realized fraction meaningless.
    rows = [Row(doc_id=100000 + i, source="a", n_tokens=90) for i in range(300)]
    rows += [Row(doc_id=900000 + i, source="b", n_tokens=10) for i in range(300)]
    df = spark.createDataFrame(rows)
    weights = sampling.source_mixture(df, tokens_col="n_tokens", alpha=0.5)
    kept = sampling.apply_mixture(df, weights, key_col="doc_id").collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, []).append(r.doc_id)
    # b binds (smallest tokens/weight) -> kept whole
    assert len(by_src["b"]) == 300
    # a's target rate = w_a*B/t_a = (3/4 * 3000/(1/4)) / 27000 = 1/3
    assert 70 <= len(by_src["a"]) <= 130  # hash sampling near 100
    # deterministic: same call, same set
    kept2 = sampling.apply_mixture(df, weights, key_col="doc_id").collect()
    assert sorted(r.doc_id for r in kept2) == sorted(r.doc_id for r in kept)


def test_decontaminate_catches_short_benchmark_inside_long_doc(spark):
    """A benchmark item shorter than n, quoted verbatim inside a long
    training doc, must be flagged (the containment path: corpus grams
    at the short-benchmark length)."""
    from pyspark.sql import Row

    from toshokan_spark.operators import decontaminate as dc

    bench = spark.createDataFrame([
        Row(doc_id=1, text="what is the capital of france"),  # 6 words < n
    ])
    docs = spark.createDataFrame([
        Row(doc_id=10, text="quiz time everyone please answer what is the "
                            "capital of france before the bell rings"),
        Row(doc_id=11, text="a completely unrelated training document with "
                            "plenty of words to spare here"),
    ])
    rep = {r.doc_id: r.n_hits
           for r in dc.contamination_report(docs, bench, n=8).collect()}
    assert rep == {10: 1}
    kept = sorted(r.doc_id for r in dc.decontaminate(docs, bench, n=8).collect())
    assert kept == [11]


def test_unigram_logprob_hand_checked(spark):
    """MLE unigram scores over a tiny corpus, hand-computed: common
    tokens score near zero, a rare-token doc scores very negative."""
    import math

    from pyspark.sql import Row

    docs = spark.createDataFrame([
        Row(doc_id=1, text="a a a a"),         # 4x 'a'
        Row(doc_id=2, text="a a b"),           # 2x 'a', 1x 'b'
        Row(doc_id=3, text="zzz"),             # 1x rare token
    ])
    # totals: a=6, b=1, zzz=1, t=8
    out = {r.doc_id: (r.n_tokens, r.avg_logprob)
           for r in textops.unigram_logprob(docs).collect()}
    assert out[1] == (4, round(math.log(6 / 8), 6))
    assert out[2] == (3, round((2 * math.log(6 / 8) + math.log(1 / 8)) / 3, 6))
    assert out[3] == (1, round(math.log(1 / 8), 6))
    # the rare-token doc is the most negative (the pruning signal)
    assert out[3][1] < out[2][1] < out[1][1]


def test_window_join_interval_semantics(spark):
    """window_join pairs left rows with right rows strictly after and
    within the window, per key — boundary-inclusive at +W, exclusive
    at 0, never across keys, and never emits a pair twice even though
    the left side is exploded to two bucket keys."""
    from datetime import datetime

    from pyspark.sql import Row

    from toshokan_spark.operators import asof

    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def at(s):
        return datetime(2024, 1, 1, 0, 0, s) if s < 60 else datetime(
            2024, 1, 1, 0, s // 60, s % 60
        )

    left = spark.createDataFrame([
        Row(event_id=1, user_id=1, ts=t0),
        Row(event_id=2, user_id=2, ts=t0),
    ])
    right = spark.createDataFrame([
        Row(user_id=1, ts=at(0), value=1.0),    # same instant: excluded
        Row(user_id=1, ts=at(5), value=2.0),    # in window
        Row(user_id=1, ts=at(10), value=3.0),   # exactly +W: included
        Row(user_id=1, ts=at(11), value=4.0),   # past window
        Row(user_id=2, ts=at(5), value=5.0),    # other key
    ])
    out = asof.window_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="ts",
        window_seconds=10,
    ).collect()
    got = sorted((r.event_id, r.r_value) for r in out)
    assert got == [(1, 2.0), (1, 3.0), (2, 5.0)]


def test_dup_ngram_fraction_flags_shared_grams(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b c d e f"),    # grams abc..def shared with 2
        Row(doc_id=2, text="a b c d e g"),    # abc, bcd shared; cde g not
        Row(doc_id=3, text="x y z w v u"),    # nothing shared
    ])
    out = {r.doc_id: (r.n_grams, r.n_dup_grams, r.dup_frac)
           for r in textops.dup_ngram_fraction(docs, k=3, min_docs=2).collect()}
    # doc1 grams: abc bcd cde def; doc2: abc bcd cde(g differs at 'cdeg'? no:
    # doc2 3-grams = abc bcd cde(d e g -> 'c d e','d e g') => shared: abc bcd cde
    assert out[1] == (4, 3, 0.75)
    assert out[2] == (4, 3, 0.75)
    assert out[3] == (4, 0, 0.0)
    # the general (join) branch at min_docs=3: no gram is in 3 docs
    out3 = {r.doc_id: r.n_dup_grams
            for r in textops.dup_ngram_fraction(docs, k=3, min_docs=3).collect()}
    assert out3 == {1: 0, 2: 0, 3: 0}


def test_build_vocab_rank_and_coverage(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame([
        Row(doc_id=1, text="a a a b b c"),
        Row(doc_id=2, text="a b d"),
    ])
    # totals: a=4, b=3, c=1, d=1 (t=9); ties c/d rank by token text
    out = [(r.token, r.n, r.rank, r.cum_coverage)
           for r in textops.build_vocab(docs, top_k=3)
           .orderBy("rank").collect()]
    assert out == [
        ("a", 4, 1, round(4 / 9, 6)),
        ("b", 3, 2, round(7 / 9, 6)),
        ("c", 1, 3, round(8 / 9, 6)),
    ]


def test_select_canonical_keeps_best_quality_member(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=i) for i in (1, 2, 3, 9)]
    )
    clusters = spark.createDataFrame([
        Row(doc_id=1, cluster_id=1),
        Row(doc_id=2, cluster_id=1),
        Row(doc_id=3, cluster_id=1),
    ])
    scores = spark.createDataFrame([
        Row(doc_id=1, quality=0.5),
        Row(doc_id=2, quality=0.9),
        Row(doc_id=3, quality=0.9),
        Row(doc_id=9, quality=0.1),
    ])
    out = {r.doc_id: (r.cluster_id, r.keep)
           for r in dedup.select_canonical(docs, clusters, scores).collect()}
    # doc2 wins the cluster (tie with 3 broken by lower id);
    # 9 is a singleton and keeps itself
    assert out == {1: (1, False), 2: (1, True), 3: (1, False), 9: (9, True)}
    # a doc MISSING from scores still appears with its cluster id
    # (left join, nulls-last window) — it can never win a contested
    # cluster, but keeps itself when alone
    scores2 = spark.createDataFrame([
        Row(doc_id=1, quality=0.5),
        Row(doc_id=3, quality=0.2),
    ])
    out2 = {r.doc_id: (r.cluster_id, r.keep, r.quality)
            for r in dedup.select_canonical(docs, clusters, scores2).collect()}
    assert out2 == {
        1: (1, True, 0.5),
        2: (1, False, None),   # unscored, contested: present, never keeper
        3: (1, False, 0.2),
        9: (9, True, None),    # unscored singleton: keeps itself
    }


def test_hybrid_rrf_fuses_both_lists(spark):
    """A doc present in both lists outranks docs present in one; rrf
    arithmetic is the textbook 1/(k+rank) sum."""
    from pyspark.sql import Row

    docs = spark.createDataFrame([
        Row(doc_id=0, text="spark table engine"),
        Row(doc_id=1, text="spark only here"),
        Row(doc_id=2, text="nothing relevant"),
        Row(doc_id=3, text="table table table"),
    ])
    emb = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1]),   # closest to query 0
        Row(vec_id=2, embedding=[0.0, 1.0]),
        Row(vec_id=3, embedding=[-1.0, 0.0]),
    ])
    out = {r.doc_id: (r.lex_rank, r.vec_rank, r.rrf_score, r.rank)
           for r in similarity.hybrid_rrf(
               docs, emb, "spark table", query_vec_id=0, k=4, pool=3
           ).collect()}
    # doc 1: lexical hit AND best vector neighbor -> both ranks set
    assert out[1][0] is not None and out[1][1] is not None
    lex_r, vec_r, score, _ = out[1]
    assert score == round(1.0 / (60 + lex_r) + 1.0 / (60 + vec_r), 6)
    # doc 0 is the query vector itself: excluded from the vector list
    assert out[0][1] is None
    # fusion ordering: two-list doc 1 beats every single-list doc
    assert out[1][3] == 1


def test_embedding_dim_stats_hand_checked(spark):
    from pyspark.sql import Row

    emb = spark.createDataFrame([
        Row(vec_id=1, embedding=[1.0, 0.0]),
        Row(vec_id=2, embedding=[3.0, 4.0]),
    ])
    out = {r.dim: (r.n, r.mean, r.variance)
           for r in similarity.embedding_dim_stats(emb).collect()}
    assert out[0] == (2, 2.0, 1.0)     # mean 2, E[x^2]-mu^2 = 5-4
    assert out[1] == (2, 2.0, 4.0)     # mean 2, 8-4


def test_normalize_embeddings_unit_norm_and_zero_passthrough(spark):
    from pyspark.sql import Row

    emb = spark.createDataFrame([
        Row(vec_id=1, embedding=[3.0, 4.0]),
        Row(vec_id=2, embedding=[0.0, 0.0]),
    ])
    out = {r.vec_id: (r.unit_embedding, r.norm)
           for r in similarity.normalize_embeddings(emb).collect()}
    assert out[1] == ([0.6, 0.8], 5.0)
    assert out[2] == ([0.0, 0.0], 0.0)    # zero vector: unchanged, no NaN


def test_centroid_distances_per_label(spark):
    from pyspark.sql import Row

    emb = spark.createDataFrame([
        Row(vec_id=1, label=0, embedding=[0.0, 0.0]),
        Row(vec_id=2, label=0, embedding=[2.0, 0.0]),   # centroid (1, 0)
        Row(vec_id=3, label=1, embedding=[5.0, 5.0]),   # own centroid
    ])
    out = {r.vec_id: (r.label, r.centroid_dist)
           for r in similarity.centroid_distances(emb).collect()}
    assert out[1] == (0, 1.0) and out[2] == (0, 1.0)
    assert out[3] == (1, 0.0)


def test_window_join_equals_naive_range_join_randomized(spark):
    """Seeded randomized equivalence: the time-bucketed interval join
    must produce exactly the pairs of the naive (quadratic) inequality
    join, across bucket boundaries, duplicates and hot keys."""
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    from toshokan_spark.operators import asof

    rng = random.Random(42)
    t0 = datetime(2024, 1, 1)
    left = [
        Row(event_id=i, user_id=rng.randrange(5),
            ts=t0 + timedelta(seconds=rng.randrange(0, 3600)))
        for i in range(120)
    ]
    right = [
        Row(user_id=rng.randrange(5),
            ts=t0 + timedelta(seconds=rng.randrange(0, 3600)),
            value=float(i))
        for i in range(120)
    ]
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    got = sorted(
        (r.event_id, r.r_value)
        for r in asof.window_join(
            ldf, rdf, on=["user_id"], left_ts="ts", right_ts="ts",
            window_seconds=137,
        ).collect()
    )
    want = sorted(
        (l.event_id, r.value)
        for l in left for r in right
        if l.user_id == r.user_id
        and l.ts < r.ts <= l.ts + timedelta(seconds=137)
    )
    assert got == want and len(want) > 50  # non-trivial match count


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    from pyspark.sql import Row

    from toshokan_spark.operators import sampling
    from toshokan_spark.operators.dedup import _poly_fold_py

    rows = [Row(doc_id=i, w=(1_000_000 if i % 2 == 0 else 1)) for i in range(40)]
    df = spark.createDataFrame(rows)
    out = [r.doc_id for r in sampling.weighted_sample(
        df, k=10, key_col="doc_id", weight_col="w").collect()]
    # python replica of the exact score formula: ln(u)/w, rounded 10
    # (order-equivalent to u^(1/w) but spread — see the operator doc)
    import math

    def score(i, w):
        b = _poly_fold_py(str(i), 1103515245, 0, 1_000_000_007, 5381) % 10_000
        return round(math.log((b + 1) / 10_001) / w, 10)
    want = sorted(rows, key=lambda r: (-score(r.doc_id, r.w), r.doc_id))[:10]
    assert out == [r.doc_id for r in want]
    # heavy weights dominate: all winners are the 1e6-weight docs
    assert all(i % 2 == 0 for i in out)
    # anti-collapse (the round-6 defect): heavy-weight scores must stay
    # DISTINCT after rounding — u^(1/w) rounded to 6 decimals collapsed
    # every w=1e6 row into one tie broken by key order
    heavy = [score(i, 1_000_000) for i in range(0, 40, 2)]
    assert len(set(heavy)) == len(heavy)
    # zero/negative weights are excluded, not NaN-ranked
    df2 = spark.createDataFrame([Row(doc_id=1, w=0), Row(doc_id=2, w=5)])
    got2 = [r.doc_id for r in sampling.weighted_sample(
        df2, k=5, key_col="doc_id", weight_col="w").collect()]
    assert got2 == [2]


def test_salted_join_matches_plain_join_on_skewed_keys(spark):
    """Salting must not change results: one hot key carrying 90% of
    the big side joins identically, and the big side's rows split
    across salt buckets (the parallelism the salt buys)."""
    from pyspark.sql import Row

    from toshokan_spark.operators.util import salted_join

    big = spark.createDataFrame(
        [Row(k=1, v=i) for i in range(180)] + [Row(k=i, v=i) for i in range(2, 22)]
    )
    small = spark.createDataFrame([Row(k=i, name=f"n{i}") for i in range(1, 22)])
    got = sorted((r.k, r.v, r.name) for r in salted_join(big, small, "k", salt=8).collect())
    want = sorted((r.k, r.v, r.name) for r in big.join(small, "k").collect())
    assert got == want and len(want) == 200
    # the hot key's big-side rows really do spread over several salts
    # (content-hash salt: deterministic under task retries)
    from pyspark.sql import functions as F
    b = big.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("k"), F.col("v")), F.lit(8))
    )
    n_salts = b.filter(F.col("k") == 1).select("__salt").distinct().count()
    assert n_salts >= 4
    # right/full joins would duplicate unmatched small rows salt times
    import pytest as _pytest
    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, "k", salt=8, how="right")
    # left join keeps unmatched BIG rows exactly once
    big2 = big.union(spark.createDataFrame([Row(k=99, v=0)]))
    left = salted_join(big2, small, "k", salt=8, how="left").collect()
    assert sum(1 for r in left if r.k == 99) == 1
    # a map-typed big-side column must not break the salt hash
    # (xxhash64 cannot hash maps — the default salt skips them)
    bigm = big.withColumn("meta", F.create_map(F.lit("a"), F.col("v")))
    gotm = sorted(
        (r.k, r.v, r.name) for r in salted_join(bigm, small, "k", salt=8).collect()
    )
    assert gotm == want
    # explicit salt_cols: salt on keys + a within-key-varying column
    gots = sorted(
        (r.k, r.v, r.name)
        for r in salted_join(big, small, "k", salt=8, salt_cols=["v"]).collect()
    )
    assert gots == want


def test_linear_fit_and_residuals_hand_checked(spark):
    """OLS on a hand-computable set: y = 2x + 1 with one off-line
    point; the outlier flag lands on the deviant row."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from toshokan_spark.operators import stats

    df = spark.createDataFrame([
        Row(doc_id=1, x=0.0, y=1.0),
        Row(doc_id=2, x=1.0, y=3.0),
        Row(doc_id=3, x=2.0, y=5.0),
        Row(doc_id=4, x=3.0, y=7.0),
    ])
    fit = stats.linear_fit(df, F.col("x"), F.col("y")).collect()[0]
    assert (fit.n, fit.slope, fit.intercept, fit.r2) == (4, 2.0, 1.0, 1.0)
    assert fit.resid_sd == 0.0
    # perfect fit: all residuals and z-scores are 0, nothing flagged
    out = stats.linear_residuals(df, F.col("x"), F.col("y")).collect()
    assert all(r.resid == 0.0 and r.z == 0.0 and not r.outlier for r in out)

    # tilt one point: hand-computed fit is y = 5x - 1 (the deviant
    # point drags the slope, so doc 3 carries the largest residual)
    df2 = spark.createDataFrame([
        Row(doc_id=1, x=0.0, y=1.0),
        Row(doc_id=2, x=1.0, y=3.0),
        Row(doc_id=3, x=2.0, y=5.0),
        Row(doc_id=4, x=3.0, y=17.0),
    ])
    fit2 = stats.linear_fit(df2, F.col("x"), F.col("y")).collect()[0]
    assert (fit2.slope, fit2.intercept) == (5.0, -1.0)
    out2 = {r.doc_id: r.resid
            for r in stats.linear_residuals(df2, F.col("x"), F.col("y")).collect()}
    assert out2 == {1: 2.0, 2: -1.0, 3: -4.0, 4: 3.0}


def test_select_canonical_custom_id_col(spark):
    """duplicate_clusters hardcodes 'doc_id'; select_canonical must
    align it to a caller's id_col instead of failing to resolve."""
    from pyspark.sql import Row

    docs = spark.createDataFrame([Row(vec_id=i) for i in (1, 2, 9)])
    clusters = spark.createDataFrame([
        Row(doc_id=1, cluster_id=1), Row(doc_id=2, cluster_id=1),
    ])
    scores = spark.createDataFrame([
        Row(vec_id=1, quality=0.2), Row(vec_id=2, quality=0.8),
        Row(vec_id=9, quality=0.5),
    ])
    out = {r.vec_id: r.keep for r in dedup.select_canonical(
        docs, clusters, scores, id_col="vec_id").collect()}
    assert out == {1: False, 2: True, 9: True}


def test_window_join_rejects_nonpositive_window(spark):
    from pyspark.sql import Row

    from toshokan_spark.operators import asof

    df = spark.createDataFrame([], "user_id bigint, ts timestamp")
    with pytest.raises(ValueError, match="window_seconds"):
        asof.window_join(df, df, on=["user_id"], left_ts="ts",
                         right_ts="ts", window_seconds=0)


def test_knn_normalized_dot_fast_path_matches_cosine(spark):
    """After L2 normalization, the dot-only fast path ranks identically
    to the full cosine (scores agree to rounding)."""
    import random

    from pyspark.sql import Row

    rnd = random.Random(11)
    rows = [Row(vec_id=i, embedding=[rnd.uniform(-1, 1) for _ in range(8)])
            for i in range(30)]
    df = spark.createDataFrame(rows)
    unit = similarity.normalize_embeddings(df).select(
        "vec_id", F.col("unit_embedding").alias("embedding"))
    q = unit.filter(F.col("vec_id") < 2)
    cos = similarity.knn_bruteforce(unit, q, k=5).collect()
    dot = similarity.knn_bruteforce(unit, q, k=5, assume_normalized=True).collect()
    key = lambda rs: sorted((r.query_id, r.rank, r.neighbor_id) for r in rs)
    assert key(cos) == key(dot)
    smap = {(r.query_id, r.neighbor_id): r.score for r in cos}
    assert all(abs(smap[(r.query_id, r.neighbor_id)] - r.score) < 1e-5 for r in dot)


def test_grouped_linear_fit_per_group_and_degenerate_groups(spark):
    from pyspark.sql import Row

    from toshokan_spark.operators import stats

    df = spark.createDataFrame([
        Row(g="a", x=0.0, y=1.0), Row(g="a", x=1.0, y=3.0),
        Row(g="a", x=2.0, y=5.0),                      # y = 2x + 1
        Row(g="b", x=0.0, y=5.0), Row(g="b", x=1.0, y=4.0),  # y = -x + 5
        Row(g="c", x=2.0, y=9.0),                      # single row: no fit
        Row(g="d", x=3.0, y=1.0), Row(g="d", x=3.0, y=2.0),  # zero x-var
    ])
    out = {r.g: (r.n, r.slope, r.intercept, r.r2)
           for r in stats.grouped_linear_fit(
               df, "g", F.col("x"), F.col("y")).collect()}
    assert out["a"] == (3, 2.0, 1.0, 1.0)
    assert out["b"] == (2, -1.0, 5.0, 1.0)
    assert out["c"] == (1, None, None, None)
    assert out["d"] == (2, None, None, None)


def test_bigram_logprob_hand_checked(spark):
    """Add-one-smoothed bigram scores over a tiny corpus, hand
    computed; a common-unigram but novel-sequence doc scores lower
    than the repeated-sequence docs."""
    import math

    from pyspark.sql import Row

    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b a b"),   # transitions ab, ba, ab
        Row(doc_id=2, text="a b"),       # ab
        Row(doc_id=3, text="b a"),       # ba
        Row(doc_id=4, text="x"),         # <2 tokens: no row
    ])
    # corpus: c(a)=4(wait recount) tokens: doc1 a,b,a,b doc2 a,b doc3 b,a doc4 x
    # c(a)=4? a appears: doc1 x2, doc2 x1, doc3 x1 -> 4; c(b)=4; c(x)=1; V=3
    # bigram counts: ab: doc1 x2 + doc2 -> 3; ba: doc1 + doc3 -> 2
    p_ab = math.log((3 + 1) / (4 + 3))
    p_ba = math.log((2 + 1) / (4 + 3))
    out = {r.doc_id: (r.n_transitions, r.avg_logprob)
           for r in textops.bigram_logprob(docs).collect()}
    assert 4 not in out
    assert out[2] == (1, round(p_ab, 6))
    assert out[3] == (1, round(p_ba, 6))
    assert out[1] == (3, round((2 * p_ab + p_ba) / 3, 6))


def test_length_histogram_buckets_exact_at_powers_of_two(spark):
    """The bucket index is integer bit length (not float log2): value
    2^k must land in bucket k exactly — the boundary where a floating
    log2 can disagree across engines."""
    from pyspark.sql import Row

    from toshokan_spark.operators import stats

    rows = [Row(source="s", n_chars=v) for v in (1, 2, 127, 128, 129, 1024)]
    out = {
        (r.bucket): (r.lo, r.hi, r.n_docs)
        for r in stats.length_histogram(spark.createDataFrame(rows)).collect()
    }
    assert out == {
        0: (1, 1, 1),       # 1
        1: (2, 3, 1),       # 2
        6: (64, 127, 1),    # 127
        7: (128, 255, 2),   # 128 (exact power!), 129
        10: (1024, 2047, 1),
    }
    # non-positive lengths are excluded, pct sums to 1 per group
    rows2 = rows + [Row(source="s", n_chars=0)]
    got = stats.length_histogram(spark.createDataFrame(rows2)).collect()
    # per-bucket pcts are individually rounded to 6 — allow that slack
    assert abs(sum(r.pct for r in got) - 1.0) < 1e-5


def test_cluster_size_histogram_counts(spark):
    from pyspark.sql import Row

    from toshokan_spark.operators import dedup

    clusters = spark.createDataFrame(
        [Row(doc_id=i, cluster_id=c) for i, c in
         [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)]]
    )
    out = {r.size: (r.n_clusters, r.n_docs)
           for r in dedup.cluster_size_histogram(clusters).collect()}
    assert out == {3: (1, 3), 2: (1, 2), 1: (1, 1)}


def test_kmeans_embeddings_separates_obvious_clusters(spark):
    """Two tight blobs, k=2, seeds = the two lowest-id vectors (one
    in each blob): after 2 Lloyd rounds every vector must sit with
    its blob, and dist must be the distance to the blob mean."""
    import math

    from pyspark.sql import Row

    from toshokan_spark.operators import similarity

    blob_a = [(i, [0.0 + 0.1 * (i % 2), 0.0]) for i in range(0, 4)]
    blob_b = [(i, [10.0 + 0.1 * (i % 2), 10.0]) for i in range(4, 8)]
    # ids 0 and 4 are NOT the two lowest — reorder so seed 0 is in A,
    # seed 1 in B (ids 0 and 1 in different blobs)
    rows = [Row(vec_id=0, embedding=[0.0, 0.0]),
            Row(vec_id=1, embedding=[10.0, 10.0]),
            Row(vec_id=2, embedding=[0.1, 0.0]),
            Row(vec_id=3, embedding=[0.0, 0.1]),
            Row(vec_id=4, embedding=[10.1, 10.0]),
            Row(vec_id=5, embedding=[10.0, 10.1])]
    out = {r.vec_id: (r.cid, r.dist) for r in
           similarity.kmeans_embeddings(
               spark.createDataFrame(rows), num_centroids=2, iterations=2
           ).collect()}
    assert {v: c for v, (c, _) in out.items()} == {
        0: 0, 2: 0, 3: 0, 1: 1, 4: 1, 5: 1}
    # dist to the exact blob-A mean (1/30, 1/30) for vec 0
    mean_a = ((0.0 + 0.1 + 0.0) / 3, (0.0 + 0.0 + 0.1) / 3)
    want = math.sqrt(mean_a[0] ** 2 + mean_a[1] ** 2)
    assert abs(out[0][1] - round(want, 6)) < 2e-6


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """A seed that duplicates a lower-id seed gets an empty cluster
    (ties assign to the lowest cid); its centroid must CARRY, not
    vanish — the output still uses every cid slot deterministically."""
    from pyspark.sql import Row

    from toshokan_spark.operators import similarity

    rows = [Row(vec_id=0, embedding=[0.0, 0.0]),
            Row(vec_id=1, embedding=[0.0, 0.0]),   # duplicate seed -> cid 1 empty
            Row(vec_id=2, embedding=[5.0, 5.0])]
    out = {r.vec_id: r.cid for r in
           similarity.kmeans_embeddings(
               spark.createDataFrame(rows), num_centroids=2, iterations=2
           ).collect()}
    # all of cluster 1's would-be members tie into cluster 0; vec 2
    # pulls cluster 0's centroid, cluster 1 keeps [0,0] and wins the
    # two zero vectors back on the final assignment
    assert set(out.values()) <= {0, 1} and len(out) == 3


def test_minhash_calibration_estimator_properties(spark):
    """Identical docs estimate 1.0 with zero error; near-dups keep
    |est - exact| within a few standard deviations of the
    sqrt(J(1-J)/128) binomial bound."""
    from pyspark.sql import Row

    from toshokan_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [Row(doc_id=1, text=base),
            Row(doc_id=2, text=base),
            Row(doc_id=3, text=base + " extra tail words here now")]
    out = {(r.a_id, r.b_id): r for r in
           dedup.minhash_calibration_pairs(
               spark.createDataFrame(rows), hash_family="poly"
           ).collect()}
    ident = out[(1, 2)]
    assert ident.est_jaccard == 1.0 and ident.jaccard == 1.0
    assert ident.abs_err == 0.0
    near = out[(1, 3)]
    assert 0 < near.jaccard < 1
    sd = (near.jaccard * (1 - near.jaccard) / 128) ** 0.5
    assert near.abs_err <= 5 * sd + 1e-9


def test_zipf_profile_slope_on_constructed_corpus(spark):
    """A corpus whose token frequencies follow freq = C / rank must
    fit slope ~= -1 with r2 ~= 1."""
    from pyspark.sql import Row

    from toshokan_spark.operators import text as textops

    docs, did = [], 0
    for rank in range(1, 11):
        freq = 1200 // rank
        for _ in range(freq):
            docs.append(Row(doc_id=did, text=f"tok{rank:02d}"))
            did += 1
    out = textops.zipf_profile(spark.createDataFrame(docs), top_k=10).collect()
    assert len(out) == 10
    slope = out[0].zipf_slope
    r2 = out[0].zipf_r2
    assert abs(slope + 1.0) < 0.05 and r2 > 0.99


def test_containment_catches_what_jaccard_misses(spark):
    """A chunk fully contained in a 3x-longer doc: containment 1.0
    while symmetric Jaccard stays far below the usual 0.5 threshold
    (the pair ngram_jaccard_pairs would never emit)."""
    from pyspark.sql import Row

    from toshokan_spark.operators import dedup

    parent_words = [f"w{i:02d}" for i in range(24)]
    chunk_words = parent_words[:8]
    df = spark.createDataFrame([
        Row(doc_id=1, text=" ".join(parent_words)),
        Row(doc_id=2, text=" ".join(chunk_words)),
        Row(doc_id=3, text="totally unrelated other content entirely"),
    ])
    out = {(r.contained_id, r.container_id): (r.containment, r.jaccard)
           for r in dedup.containment_pairs(df, threshold=0.8).collect()}
    # chunk(2) ⊂ parent(1): 6 chunk shingles, all among parent's 22
    assert set(out) == {(2, 1)}
    c, j = out[(2, 1)]
    assert c == 1.0 and j == round(6 / 22, 6)
    # the symmetric operator at its standard threshold misses the pair
    assert dedup.ngram_jaccard_pairs(df, threshold=0.5).count() == 0


def test_normalize_text_canonicalizes_unicode_and_whitespace(spark):
    """Decomposed accents compose (NFC), control bytes drop,
    whitespace runs collapse, edges trim — and the changed flag
    distinguishes touched from untouched docs."""
    from pyspark.sql import Row

    from toshokan_spark.operators import text as textops

    decomposed = "café"           # e + combining acute
    composed = "café"
    rows = [
        Row(doc_id=1, text=f"  {decomposed}\x00 du\tmonde \n"),
        Row(doc_id=2, text="already clean"),
        Row(doc_id=3, text=None),
    ]
    out = {r.doc_id: (r.text_norm, r.changed)
           for r in textops.normalize_text(spark.createDataFrame(
               rows, "doc_id long, text string")).collect()}
    assert out[1] == (f"{composed} du monde", True)
    assert out[2] == ("already clean", False)
    assert out[3] == (None, None)
    # Unicode space separators (NBSP, thin space, ideographic space)
    # normalize to single ASCII spaces — \s alone is ASCII-only in
    # both Java regex and RE2, so these need the explicit class
    uni = spark.createDataFrame(
        [Row(doc_id=1, text="hello world"),
         Row(doc_id=2, text="a b　c")],
        "doc_id long, text string")
    got = {r.doc_id: r.text_norm
           for r in textops.normalize_text(uni).collect()}
    assert got == {1: "hello world", 2: "a b c"}


def test_script_profile_detects_scripts_and_ties(spark):
    from pyspark.sql import Row

    from toshokan_spark.operators import text as textops

    rows = [
        Row(doc_id=1, text="hello world"),          # latin
        Row(doc_id=2, text="привет мир"),            # cyrillic
        Row(doc_id=3, text="日本語 テスト"),           # cjk
        Row(doc_id=4, text="مرحبا"),                 # arabic
        Row(doc_id=5, text="12345"),                 # digits
        Row(doc_id=6, text="!!! ???"),               # none -> other
        Row(doc_id=7, text="ab 12"),                 # tie 2-2 -> digit (alpha)
    ]
    out = {r.doc_id: r.dominant_script
           for r in textops.script_profile(
               spark.createDataFrame(rows, "doc_id long, text string")
           ).collect()}
    assert out == {1: "latin", 2: "cyrillic", 3: "cjk", 4: "arabic",
                   5: "digit", 6: "other", 7: "digit"}
    fr = {r.doc_id: r for r in textops.script_profile(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert fr[1].frac_latin == 1.0 and fr[2].frac_cyrillic == 1.0
    assert fr[6].n_nonspace == 6 and fr[6].frac_latin == 0.0


def test_snapshot_diff_statuses(spark):
    from pyspark.sql import Row

    from toshokan_spark.operators import dedup

    old = spark.createDataFrame([
        Row(doc_id=1, text="same"),
        Row(doc_id=2, text="will change"),
        Row(doc_id=3, text="will vanish"),
    ])
    new = spark.createDataFrame([
        Row(doc_id=1, text="same"),
        Row(doc_id=2, text="changed now"),
        Row(doc_id=4, text="brand new"),
    ])
    out = {r.doc_id: r.status
           for r in dedup.snapshot_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    # NULL content must not masquerade as absence: presence is keyed
    # on the id, and null-vs-null content is 'unchanged'
    old2 = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text="x"),
         Row(doc_id=3, text=None)],
        "doc_id long, text string")
    new2 = spark.createDataFrame(
        [Row(doc_id=1, text="x"), Row(doc_id=2, text=None),
         Row(doc_id=3, text=None)],
        "doc_id long, text string")
    out2 = {r.doc_id: r.status
            for r in dedup.snapshot_diff(old2, new2).collect()}
    assert out2 == {1: "changed", 2: "changed", 3: "unchanged"}


def test_knn_recall_report_counts_hits(spark):
    from pyspark.sql import Row

    from toshokan_spark.operators import similarity

    exact = spark.createDataFrame([
        Row(query_id=1, neighbor_id=n) for n in (10, 11, 12)
    ] + [Row(query_id=2, neighbor_id=n) for n in (20, 21, 22)])
    approx = spark.createDataFrame([
        Row(query_id=1, neighbor_id=n) for n in (10, 11, 99)   # 2/3
    ] + [Row(query_id=3, neighbor_id=30)])                      # not a query
    out = {r.query_id: (r.n_hits, r.recall)
           for r in similarity.knn_recall_report(approx, exact, k=3).collect()}
    # query 2 got NOTHING from the approx index — still reported at 0
    assert out == {1: (2, round(2 / 3, 6)), 2: (0, 0.0)}


def test_pack_training_sequences_concat_and_split(spark):
    """Hand-checked packing: per-shard token stream offsets, sequence
    slots at seq_len=10, boundary spanning, zero-token exclusion."""
    from pyspark.sql import Row

    from toshokan_spark.operators import sampling

    rows = [
        Row(source="a", doc_id=1, n_tokens=4),   # [0, 4)  seq 0
        Row(source="a", doc_id=2, n_tokens=8),   # [4, 12) seq 0 -> 1
        Row(source="a", doc_id=3, n_tokens=0),   # excluded
        Row(source="a", doc_id=4, n_tokens=10),  # [12, 22) seq 1 -> 2
        Row(source="b", doc_id=5, n_tokens=3),   # independent stream
    ]
    out = {r.doc_id: (r.start_tok, r.end_tok, r.seq_id, r.end_seq_id,
                      r.spans_boundary)
           for r in sampling.pack_training_sequences(
               spark.createDataFrame(rows), seq_len=10).collect()}
    assert out == {
        1: (0, 4, 0, 0, False),
        2: (4, 12, 0, 1, True),
        4: (12, 22, 1, 2, True),
        5: (0, 3, 0, 0, False),
    }
    # invariant: within a shard, offsets tile the stream exactly
    import itertools
    a_rows = sorted((v for k, v in out.items() if k in (1, 2, 4)))
    for (s1, e1, *_), (s2, e2, *_) in itertools.pairwise(a_rows):
        assert e1 == s2


def test_audio_meta_real_wav_branch(spark):
    """The REAL audio codec branch (stdlib wave — no optional dep
    like PIL) parses a synthesized 16-bit PCM WAV exactly; non-WAV
    bytes yield NULL meta under codec='real' and fall back to the
    deterministic fake under 'auto'."""
    import io
    import math
    import struct
    import wave

    from pyspark.sql import Row

    from toshokan_spark.operators import multimodal

    buf = io.BytesIO()
    sr, n = 16000, 4000  # 250 ms of a 440 Hz tone at amplitude 10000
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(b"".join(
            struct.pack("<h", int(10000 * math.sin(2 * math.pi * 440 * i / sr)))
            for i in range(n)))
    wav = buf.getvalue()
    df = spark.createDataFrame(
        [Row(doc_id=1, blob=bytearray(wav)),
         Row(doc_id=2, blob=bytearray(b"not audio at all"))],
        "doc_id long, blob binary")
    real = {r.doc_id: r.audio_meta
            for r in multimodal.decode_audio_meta(df, codec="real").collect()}
    assert real[1].sample_rate == sr and real[1].n_samples == n
    assert real[1].channels == 1 and real[1].format == "wav"
    assert real[1].duration_ms == 250.0
    assert real[2] is None
    auto = {r.doc_id: r.audio_meta
            for r in multimodal.decode_audio_meta(df, codec="auto").collect()}
    assert auto[1].format == "wav" and auto[2].format == "fake"
    # real window energy: a constant-amplitude sine's RMS is
    # amplitude/sqrt(2) (~7071); both 125ms windows present
    en = multimodal.audio_window_energy(
        df.filter("doc_id = 1"), window_ms=125, codec="real").collect()
    assert [r.window_idx for r in en] == [0, 1]
    for r in en:
        assert abs(r.rms - 10000 / math.sqrt(2)) < 60, r.rms
    # STEREO: windows are frames (one sample per channel), so a
    # stereo file of the same 4000 frames still yields exactly two
    # 125ms windows with the same tone RMS — not four half-duration
    # ones (the interleaved-sample-count bug this pins)
    buf2 = io.BytesIO()
    with wave.open(buf2, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(b"".join(
            struct.pack("<hh", v, v) for v in (
                int(10000 * math.sin(2 * math.pi * 440 * i / sr))
                for i in range(n))))
    df2 = spark.createDataFrame(
        [Row(doc_id=1, blob=bytearray(buf2.getvalue()))],
        "doc_id long, blob binary")
    en2 = multimodal.audio_window_energy(df2, window_ms=125, codec="real").collect()
    assert [r.window_idx for r in en2] == [0, 1]
    for r in en2:
        assert abs(r.rms - 10000 / math.sqrt(2)) < 60, r.rms
    # a REAL WAV with an unsupported PCM width (24-bit) yields no
    # windows under 'auto' — never hash-noise fake energies
    buf3 = io.BytesIO()
    with wave.open(buf3, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(sr)
        w.writeframes(b"\x00\x00\x10" * 100)
    df3 = spark.createDataFrame(
        [Row(doc_id=1, blob=bytearray(buf3.getvalue()))],
        "doc_id long, blob binary")
    assert multimodal.audio_window_energy(df3, codec="auto").collect() == []


def test_audio_energy_stub_fanout_bounds(spark):
    """Stub path: 1..max_windows rows per doc, energies in [0,1],
    reproducible across calls."""
    from pyspark.sql import Row

    from toshokan_spark.operators import multimodal

    df = spark.createDataFrame(
        [Row(doc_id=i, blob=bytearray(f"blob {i}".encode())) for i in range(20)],
        "doc_id long, blob binary")
    a = multimodal.audio_window_energy(df, codec="stub", max_windows=4).collect()
    b = multimodal.audio_window_energy(df, codec="stub", max_windows=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per = {}
    for r in a:
        per.setdefault(r.doc_id, []).append(r)
        assert 0.0 <= r.rms <= 1.0
    for doc, rows in per.items():
        assert 1 <= len(rows) <= 4
        assert sorted(r.window_idx for r in rows) == list(range(len(rows)))


def test_lm_quality_buckets_equal_population_and_ordering(spark):
    """Per-group terciles: equal-population split, bucket 1 holds the
    highest LM scores, deterministic under equal scores."""
    from pyspark.sql import Row

    from toshokan_spark.operators import text as textops

    common = "the the the and and of"
    rare = "zyx wvu tsr qpo nml kji"
    rows = []
    for i in range(6):
        rows.append(Row(doc_id=i, source="s",
                        text=common if i < 3 else rare))
    out = {r.doc_id: (r.bucket, r.avg_logprob)
           for r in textops.lm_quality_buckets(
               spark.createDataFrame(rows), n_buckets=3).collect()}
    from collections import Counter
    assert Counter(b for b, _ in out.values()) == {1: 2, 2: 2, 3: 2}
    # every common-token doc outranks (lower bucket than-or-equal)
    # every rare-token doc
    worst_common = max(out[i][0] for i in range(3))
    best_rare = min(out[i][0] for i in range(3, 6))
    assert worst_common <= best_rare
    assert out[0][1] > out[5][1]  # head logprob > tail logprob


def test_semantic_clusters_mutuality_and_singletons(spark):
    """Mutual-kNN symmetrization: an edge requires BOTH endpoints to
    rank each other inside top-k at the threshold — a hub vector
    close to everything must not fuse two otherwise-unrelated tight
    pairs when they don't rank it back. Singletons keep their own id
    and every input row is labeled exactly once."""
    import math

    from toshokan_spark.operators import similarity

    def vec(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        # tight pair A: ids 1, 2
        (1, vec(0.00)), (2, vec(0.02)),
        # tight pair B: ids 3, 4 — 90° away from A
        (3, vec(1.55)), (4, vec(1.57)),
        # far-away singleton
        (5, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r.cluster_id
        for r in similarity.semantic_clusters(
            emb, k=1, min_score=0.9, num_planes=2, hash_family="lcg"
        ).collect()
    }
    assert len(out) == 5
    assert out[1] == out[2] == 1
    assert out[3] == out[4] == 3
    assert out[5] == 5
    # with k=1 and a hub H equally close to 1 and 3's groups, H ranks
    # one of them top-1 but they rank their own partners first: no
    # fused component
    emb2 = spark.createDataFrame(
        rows + [(6, vec(0.785))], "vec_id long, embedding array<double>"
    )
    out2 = {
        r.vec_id: r.cluster_id
        for r in similarity.semantic_clusters(
            emb2, k=1, min_score=0.5, num_planes=2, hash_family="lcg"
        ).collect()
    }
    assert out2[1] == out2[2] and out2[3] == out2[4]
    assert out2[1] != out2[3], "hub fused unrelated clusters"


def test_leakage_safe_split_never_splits_a_cluster(spark):
    """THE property: no near-dup cluster straddles a split boundary,
    every doc labeled exactly once, unlabeled docs are singletons,
    and bad fractions are rejected."""
    import pytest as _pytest

    from pyspark.sql import Row

    from toshokan_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="s") for i in range(200)]
    )
    # clusters of 4: {0..3} -> 0, {4..7} -> 4, ... (only half the docs
    # labeled; the rest are singletons)
    labels = spark.createDataFrame(
        [Row(doc_id=i, cluster_id=(i // 4) * 4) for i in range(100)]
    )
    out = leakage_safe_split(
        docs, labels, {"train": 0.5, "valid": 0.25, "test": 0.25}
    ).collect()
    assert len(out) == 200
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values()), (
        "a cluster straddles splits"
    )
    # unlabeled docs became their own singleton cluster
    singles = {r.doc_id: r.cluster_id for r in out if r.doc_id >= 100}
    assert all(cid == did for did, cid in singles.items())
    # all three splits materialize at these fractions
    assert {r.split for r in out} == {"train", "valid", "test"}

    with _pytest.raises(ValueError, match="sum to 1"):
        leakage_safe_split(docs, labels, {"train": 0.5, "test": 0.1})


def test_leakage_safe_split_string_ids(spark):
    """Non-numeric ids (UUID-style keys — the API is generic) must
    hash by VALUE, not collapse to a NULL long cast that dumps every
    unlabeled doc into the last split (ADVICE r8)."""
    from pyspark.sql import Row

    from toshokan_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame(
        [Row(doc_id=f"doc-{i:04d}", source="s") for i in range(400)]
    )
    labels = spark.createDataFrame(
        [
            Row(doc_id=f"doc-{i:04d}", cluster_id=f"doc-{(i // 4) * 4:04d}")
            for i in range(200)
        ]
    )
    out = leakage_safe_split(
        docs, labels, {"train": 0.5, "valid": 0.25, "test": 0.25}
    ).collect()
    assert len(out) == 400
    by_cluster: dict = {}
    splits: dict = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
        splits[r.split] = splits.get(r.split, 0) + 1
    assert all(len(s) == 1 for s in by_cluster.values())
    # unlabeled string ids are their own singleton cluster, unmangled
    tail = {r.doc_id: r.cluster_id for r in out if r.doc_id >= "doc-0200"}
    assert all(cid == did for did, cid in tail.items())
    # the failure mode: every singleton lands in 'test'. With value
    # hashing all three splits appear among the UNLABELED docs too
    # and fractions are in the right ballpark.
    tail_splits = {r.split for r in out if r.doc_id >= "doc-0200"}
    assert tail_splits == {"train", "valid", "test"}, tail_splits
    assert splits["train"] > splits["test"], splits


def test_exact_substring_spans_semantics(spark):
    """Owner exclusion, within-doc repeats, and interval union on a
    hand-computable corpus; the xxhash and raw gram keys must agree."""
    from pyspark.sql import Row

    # doc 1: ABCDE FGHIJ  (10 tokens, all unique text -> owner of all)
    # doc 2: copies doc 1's tokens 0..6 then diverges -> duplicated
    #        3-grams at positions 0..4, one merged interval [0, 7)
    # doc 3: internal repeat: X Y Z X Y Z X Y Z -> gram "x y z" at
    #        0,3,6 (plus "y z x"@1,4 and "z x y"@2,5); position 0
    #        owns "x y z"... every gram's first in-doc occurrence owns
    d1 = "a b c d e f g h i j"
    d2 = "a b c d e f g q r s"
    d3 = "x y z x y z x y z"
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=d1), Row(doc_id=2, text=d2), Row(doc_id=3, text=d3)]
    )
    for key in ("raw", "xxhash"):
        out = {
            r.doc_id: (r.n_tokens, r.n_dup_spans, r.covered_tokens)
            for r in dedup.exact_substring_spans(
                docs, k=3, gram_key=key
            ).collect()
        }
        # doc 1 owns every shared gram (min doc id) -> zero dup spans
        assert out[1] == (10, 0, 0), out
        # doc 2: positions 0..4 duplicated ("a b c".."e f g"),
        # union [0,5)+3-1 -> [0,7) = 7 tokens
        assert out[2] == (10, 5, 7), out
        # doc 3: grams (0..6); dup positions are 3,4,5,6 (each gram's
        # pos 0/1/2 occurrence owns) -> union [3,9) = 6 tokens
        assert out[3] == (9, 4, 6), out


def test_exact_substring_spans_short_docs_report_zero(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="too short"), Row(doc_id=2, text="")]
    )
    out = {r.doc_id: tuple(r)[1:] for r in
           dedup.exact_substring_spans(docs, k=5).collect()}
    assert out == {1: (2, 0, 0, 0.0), 2: (0, 0, 0, 0.0)}


def test_ccnet_select_keeps_head_and_is_set_stable(spark, sf_dir):
    """Head+middle buckets survive whole; the tail sample is
    SET-STABLE (raising tail_rate only adds documents, never swaps)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = textops.lm_quality_buckets(docs)
    lo = textops.ccnet_select(docs, tail_rate=0.1)
    hi = textops.ccnet_select(docs, tail_rate=0.3)
    n_head_mid = full.filter(F.col("bucket") < 3).count()
    assert lo.filter(F.col("kept_by") == "head_middle").count() == n_head_mid
    lo_tail = {r.doc_id for r in lo.filter(F.col("kept_by") == "tail_sample").collect()}
    hi_tail = {r.doc_id for r in hi.filter(F.col("kept_by") == "tail_sample").collect()}
    assert lo_tail <= hi_tail and len(hi_tail) > len(lo_tail)


def test_hashed_linear_score_trained_weight_path(spark, tmp_path):
    """The classifier applies ANY (idx, w) frame — prove the
    trained-model path by round-tripping weights through parquet, and
    pin the semantics: a positive-weight-only model scores > 0.5,
    empty/feature-less docs get prob 0 and label False, and bias
    shifts the decision."""
    from pyspark.sql import Row

    w = spark.createDataFrame(
        [Row(idx=i, w=0.5) for i in range(4096)]
    )
    p = str(tmp_path / "model")
    w.write.parquet(p)
    weights = spark.read.parquet(p)
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="good solid text here"),
         Row(doc_id=2, text="   "),
         Row(doc_id=3, text=None)]
    )
    out = {r.doc_id: r for r in
           textops.hashed_linear_score(docs, weights, dim=4096).collect()}
    # all-0.5 weights -> mean 0.5 -> sigmoid(0.5) ~ 0.622459
    assert out[1].prob == pytest.approx(0.622459, abs=1e-6)
    assert out[1].label and out[1].n_feats == 7  # 4 unigrams + 3 bigrams
    for d in (2, 3):
        assert (out[d].n_feats, out[d].prob, out[d].label) == (0, 0.0, False)
    # a strong negative bias flips the decision at the same weights
    neg = {r.doc_id: r.label for r in
           textops.hashed_linear_score(docs, weights, bias=-2.0).collect()}
    assert neg[1] is False


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """DSIR semantics: documents whose n-gram profile matches the
    target domain score a higher log importance weight than
    off-domain documents; feature-less docs report zeros."""
    from pyspark.sql import Row

    target_like = "the cat sat on the mat and the dog sat too"
    off_domain = "zx9 qq7 kkj wpp vv2 mn8 zz1 aa0 rr5 tt3"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=target_like),
            Row(doc_id=2, text=off_domain),
            Row(doc_id=3, text=""),
        ]
    )
    target = spark.createDataFrame(
        [
            Row(doc_id=100, text="the cat and the dog sat on a mat"),
            Row(doc_id=101, text="a cat sat near the dog on the mat"),
        ]
    )
    out = {r.doc_id: r for r in
           textops.dsir_log_weights(docs, target, dim=512).collect()}
    assert out[1].log_weight > out[2].log_weight
    assert (out[3].n_feats, out[3].log_weight) == (0, 0.0)


def test_bpe_train_matches_textbook_example(spark):
    """The Sennrich et al. running example: corpus-weighted pair
    counts, deterministic tie-breaks, greedy left-to-right merge
    application, and the before/after token-count report."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="low low low low low"),
            Row(doc_id=2, text="lower lower newest newest newest"),
            Row(doc_id=3, text="widest widest"),
        ]
    )
    merges = textops.bpe_train(docs, n_merges=5)
    assert merges == [
        ("l", "o", 7),    # low x5 + lower x2
        ("lo", "w", 7),
        ("e", "s", 5),    # newest x3 + widest x2
        ("es", "t", 5),
        ("e", "w", 3),    # newest after est
    ]
    counts = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in textops.bpe_token_counts(docs, merges).collect()
    }
    # low -> [low]; lower -> [low, e, r]; newest -> [n, ew, est];
    # widest -> [w, i, d, est]
    assert counts == {1: (5, 5), 2: (5, 15), 3: (2, 8)}
    # applying zero merges counts characters per word
    raw = {r.doc_id: r.n_bpe_tokens
           for r in textops.bpe_token_counts(docs, []).collect()}
    assert raw[1] == 15  # 5 words x 3 chars


def test_bpe_merge_application_is_truly_greedy(spark):
    """Back-to-back occurrences of the winning pair must BOTH merge —
    the left-to-right greedy rule ('haha' + (h,a) -> [ha, ha], a run
    of 2k identical symbols -> k merged pairs). The earlier
    replace-based fold consumed the shared separator and
    under-merged (review finding r8)."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="haha"), Row(doc_id=2, text="aaaaaa"),
         Row(doc_id=3, text="hahah")]
    )
    counts = {
        r.doc_id: r.n_bpe_tokens
        for r in textops.bpe_token_counts(docs, [("h", "a", 0)]).collect()
    }
    assert counts[1] == 2   # [ha, ha]
    assert counts[2] == 6   # no (h,a) pairs at all
    assert counts[3] == 3   # [ha, ha, h]
    runs = {
        r.doc_id: r.n_bpe_tokens
        for r in textops.bpe_token_counts(docs, [("a", "a", 0)]).collect()
    }
    assert runs[2] == 3     # aaaaaa -> [aa, aa, aa]
    assert runs[1] == 4     # h a h a: no adjacent (a,a)


def test_bpe_train_local_matches_distributed(spark):
    """The driver-local trainer (scale path, VERDICT r8 #1) must be
    VALUE-EQUAL to the distributed fold: same corpus-weighted counts,
    same left-to-right merge fold, same (count desc, pair asc)
    tie-break — on the textbook corpus and on a denser one deep
    enough to exercise merge-created symbols."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="low low low low low"),
            Row(doc_id=2, text="lower lower newest newest newest"),
            Row(doc_id=3, text="widest widest"),
        ]
    )
    assert textops.bpe_train_local(docs, n_merges=5) == textops.bpe_train(
        docs, n_merges=5
    )

    dense = spark.createDataFrame(
        [
            Row(doc_id=i, text=t)
            for i, t in enumerate(
                [
                    "abcabc abcabd aabbcc",
                    "the theme thermal there then",
                    "banana bandana cabana",
                    "mississippi missive mission",
                ]
            )
        ]
    )
    assert textops.bpe_train_local(dense, n_merges=12) == textops.bpe_train(
        dense, n_merges=12
    )


def test_bpe_arrow_application_matches_expression(spark):
    """The Arrow-batched application path must reproduce the
    expression-chain path exactly on a trained merge table (for
    trained tables min-rank iteration == replay-in-order; the encode
    memoization must not leak across distinct words)."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="low low low low low"),
            Row(doc_id=2, text="lower lower newest newest newest"),
            Row(doc_id=3, text="widest widest"),
            Row(doc_id=4, text="haha hahah aaaaaa"),
            Row(doc_id=5, text=""),
            Row(doc_id=6, text="   low\t\nnewest  "),
        ]
    )
    merges = textops.bpe_train(docs, n_merges=6)
    expr = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in textops.bpe_token_counts(docs, merges).collect()
    }
    arrow = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in textops.bpe_token_counts_arrow(docs, merges).collect()
    }
    assert expr == arrow


def test_bpe_arrow_destroys_broadcast_after_materialize(spark, monkeypatch):
    """The merge-table broadcast must not outlive the call (VERDICT
    r10 #8): bpe_token_counts_arrow materializes its counts through
    finalize_cached, then destroys the broadcast — and the returned,
    already-materialized frame still collects the same values as the
    expression path afterwards."""
    import pyspark

    from pyspark.sql import Row

    created = []
    orig = pyspark.SparkContext.broadcast

    def spy(self, value):
        bc = orig(self, value)
        flags = {"destroyed": False}
        orig_destroy = bc.destroy

        def destroy(*a, **k):
            flags["destroyed"] = True
            return orig_destroy(*a, **k)

        bc.destroy = destroy
        created.append(flags)
        return bc

    monkeypatch.setattr(pyspark.SparkContext, "broadcast", spy)
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="low low lower newest"),
            Row(doc_id=2, text=""),
        ]
    )
    merges = textops.bpe_train(docs, n_merges=4)
    out = textops.bpe_token_counts_arrow(docs, merges)
    assert created, "no broadcast was created"
    assert all(f["destroyed"] for f in created), (
        "merge-table broadcast leaked past the call")
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens) for r in out.collect()
    }
    expr = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in textops.bpe_token_counts(docs, merges).collect()
    }
    assert got == expr


def test_bpe_realistic_merge_count(spark):
    """1,000+ merges must train in driver time and apply without a
    1,000-deep Catalyst expression tree (VERDICT r8 #1 'done'
    criterion). Invariants: every word is >= 1 token, counts never
    exceed character counts, and more merges never increase a
    document's token count."""
    import random

    from pyspark.sql import Row

    rng = random.Random(0)
    alphabet = "abcdefgh"
    texts = [
        " ".join(
            "".join(rng.choice(alphabet) for _ in range(24))
            for _ in range(12)
        )
        for _ in range(40)
    ]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    merges = textops.bpe_train_local(docs, n_merges=1000)
    assert len(merges) == 1000
    # counts are positive and non-increasing along the merge list
    assert all(c > 0 for _a, _b, c in merges)
    out = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in textops.bpe_token_counts_arrow(docs, merges).collect()
    }
    fewer = {
        r.doc_id: r.n_bpe_tokens
        for r in textops.bpe_token_counts_arrow(docs, merges[:100]).collect()
    }
    for i, t in enumerate(texts):
        n_words, n_bpe = out[i]
        assert n_words == 12
        assert n_words <= n_bpe <= sum(len(w) for w in t.split())
        assert n_bpe <= fewer[i], "more merges increased the token count"


def test_knn_graph_bucket_occupancy_cap(spark, caplog):
    """The degenerate-bucket guard (VERDICT r8 #2, rebuilt r16): a
    low-variance embedding region lands every vector in ONE signature
    bucket, and the bucket self-join goes quadratic no matter how
    num_planes was sized. IDENTICAL vectors are the worst case — no
    extra plane separates them, so density-adaptive refinement
    produces one still-over-cap sub-bucket and the STRATIFIED
    backstop fires (logged): the mass pairs within ceil(60/50)=2
    id-strata, so every vector keeps direct edges while candidates
    stay bounded by the cap. Other buckets keep their edges and
    semantic_clusters inherits the guard."""
    import logging

    from toshokan_spark.operators import similarity

    hot = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(60)]
    # a tight pair pointing elsewhere — different signature bucket
    pair = [(100, [0.0, 1.0, 0.01, 0.0]), (101, [0.0, 1.0, 0.02, 0.0])]
    emb = spark.createDataFrame(
        hot + pair, "vec_id long, embedding array<double>"
    )
    # uncapped: the constant group pairs all-to-all (quadratic shape)
    un = similarity.knn_graph(
        emb, k=3, num_planes=4, hash_family="lcg", multiprobe=False,
        max_bucket_occupancy=None,
    )
    assert un.filter(F.col("query_id") < 60).count() == 60 * 3
    # capped below the group size: refinement cannot split identical
    # vectors, so the mass is stratified by id parity (s=2)
    ds: dict = {}
    with caplog.at_level(
        logging.WARNING, logger="toshokan_spark.operators.similarity"
    ):
        capped = similarity.knn_graph(
            emb, k=3, num_planes=4, hash_family="lcg", multiprobe=False,
            max_bucket_occupancy=50, drop_stats=ds,
        ).collect()
    assert any(
        "over-occupancy" in r.message and "60 vectors" in r.message
        for r in caplog.records
    ), "refinement was not logged with bucket/vector counts"
    assert any(
        "stratifying" in r.message for r in caplog.records
    ), "stratified backstop was not logged"
    # programmatic surface (ADVICE r9): callers detect degraded recall
    # without scraping the log. Identical vectors: refinement was
    # attempted (e = 1 margin + smallest split of 60 under 50*2 = 2
    # planes) but cannot split them, so the whole mass lands in the
    # stratified backstop
    assert ds == {
        "refined_buckets": 1, "refined_vectors": 60, "extra_planes": 2,
        "stratified_buckets": 1, "stratified_vectors": 60,
    }
    got = {(r.query_id, r.neighbor_id) for r in capped}
    assert (100, 101) in got and (101, 100) in got
    # every hot vector keeps direct edges (the r8..r15 drop zeroed
    # them) — but only to SAME-STRATUM mates (id parity at s=2), so
    # per-vector candidates stay bounded by the cap
    hot_edges = {(q, n) for q, n in got if q < 100}
    assert {q for q, _n in hot_edges} == set(range(60))
    assert all((q - n) % 2 == 0 for q, n in hot_edges), (
        "cross-stratum pair leaked through the backstop")
    # score-1.0 ties break by neighbor id: query 0 links 2,4,6
    assert {n for q, n in hot_edges if q == 0} == {2, 4, 6}
    # semantic_clusters inherits: the identical mass now fuses WITHIN
    # strata where mutuality holds (top-3 lists at score 1.0 are the
    # 3 lowest same-parity ids, so only ids 0-7 are mutually ranked;
    # higher ids rank the low ids unreciprocated and stay singletons)
    # — the r8..r15 drop made ALL 60 singletons — and the healthy
    # pair still fuses
    labels = {
        r.vec_id: r.cluster_id
        for r in similarity.semantic_clusters(
            emb, k=3, min_score=0.5, num_planes=4, hash_family="lcg",
            multiprobe=False, max_bucket_occupancy=50,
        ).collect()
    }
    assert labels[100] == labels[101] == 100
    assert all(labels[i] == i % 2 for i in range(8))
    assert all(labels[i] == i for i in range(8, 60))


def test_knn_graph_density_adaptive_refinement(spark):
    """VERDICT r15 directive 2: an over-cap bucket whose vectors ARE
    angularly separable must be SUB-BUCKETED by extra planes, not
    dropped — the r8..r15 whole-bucket drop excluded 53% of sf1
    vectors from direct pairing. Here 120 spread-out vectors share
    one 2-plane bucket; at cap 50 the old behavior emitted zero edges
    for them, refinement must keep near-perfect recall on each
    vector's true nearest neighbor."""
    import math

    from toshokan_spark.operators import similarity

    # 120 8-dim vectors around one dominant direction with seeded
    # sinusoid jitter: all share ONE 2-plane bucket (verified by the
    # premise assert below), but the margin'd e=2 extra planes split
    # them 55/45/13/7 — all under cap 70, so nothing reaches the
    # drop backstop
    vecs = [
        [1.0 + 0.35 * math.sin(i * 0.7 + j * 1.3) for j in range(8)]
        for i in range(120)
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    ds: dict = {}
    got = similarity.knn_graph(
        emb, k=1, num_planes=2, hash_family="lcg", multiprobe=False,
        max_bucket_occupancy=70, drop_stats=ds,
    ).collect()
    if ds["refined_buckets"] == 0:
        # the cluster straddled several 2-plane buckets under this
        # family; force the degenerate premise before judging
        raise AssertionError(
            f"premise broken: no bucket exceeded the cap ({ds})")
    assert ds["refined_vectors"] == 120
    assert ds["extra_planes"] >= 1
    assert ds["stratified_vectors"] == 0, (
        "separable vectors hit the stratified backstop — "
        "refinement failed")
    # recall@1 against EXACT brute-force ground truth (cosine,
    # highest-score lowest-id tie-break, computed driver-side on the
    # same 120 vectors): the old whole-bucket drop scored 0/120 here;
    # refinement must keep >= 0.9
    def cosv(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b))

    truth = {
        i: max((j for j in range(120) if j != i),
               key=lambda j: (cosv(vecs[i], vecs[j]), -j))
        for i in range(120)
    }
    nn = {r.query_id: r.neighbor_id for r in got}
    hits = sum(1 for i in range(120) if nn.get(i) == truth[i])
    assert hits >= 108, f"recall@1 {hits}/120 < 0.9 after refinement"


def test_knn_graph_density_oracle_parity(spark):
    """VERDICT r15 directive 5 (density-dependent paths never
    value-checked where they bind): run the FULL knn_graph entry
    semantics (k=5, 8 planes, lcg, default cap) on a synthetic corpus
    dense enough to trigger BOTH the adaptive refinement and the
    stratified backstop, and compare row-for-row against the driver's
    own DuckDB oracle SQL on the same data. The sf0.01/sf0.1 sweeps
    never reach these branches; this pins them at density."""
    import math

    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from toshokan_spark.operators import similarity

    # 1200 IDENTICAL vectors (one hot bucket; no plane splits it ->
    # refinement leaves 1200 > 1000 -> stratified s=2) + 600 jittered
    # around another direction (refinement splits) + 300 spread
    vecs = (
        [[1.0, 0.5, 0.25, 0.125, 1.0, 0.5, 0.25, 0.125]] * 1200
        + [[-1.0 + 0.3 * math.sin(i * 0.9 + j * 1.7) for j in range(8)]
           for i in range(600)]
        + [[math.cos(i * 0.31 + j) for j in range(8)]
           for i in range(300)]
    )
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": vecs})
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    ds: dict = {}
    got = similarity.knn_graph(
        emb, k=5, num_planes=8, hash_family="lcg", drop_stats=ds,
    ).collect()
    assert ds["refined_vectors"] >= 1200, f"premise broken: {ds}"
    assert ds["stratified_vectors"] >= 1200, f"premise broken: {ds}"
    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = con.sql(entry.oracle_sql()["knn_graph"]).fetchall()
    s_rows = sorted(
        (r.query_id, r.neighbor_id, round(float(r.score), 6), r.rank)
        for r in got)
    d_rows = sorted(
        (int(q), int(n), round(float(sc), 6), int(rk))
        for q, n, sc, rk in want)
    assert len(s_rows) == len(d_rows)
    assert s_rows == d_rows


def test_first_moments_rejects_ragged_vectors(spark):
    """Ragged embedding input (short vectors) would silently skew the
    covariance/PCA means against the dimension-0 count — the moments
    pass must raise instead (ADVICE r9)."""
    import pytest as _pytest

    from toshokan_spark.operators.similarity import embedding_covariance

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="ragged"):
        embedding_covariance(ragged).collect()


def test_knn_graph_default_cap_no_op_on_small_corpus(spark):
    """At default cap (1000) a small corpus is untouched — capped and
    uncapped outputs are identical, so the sf0.01 oracle hashes are
    unchanged by the guard."""
    import math

    from toshokan_spark.operators import similarity

    rows = [
        (i, [math.cos(i * 0.37), math.sin(i * 0.37), 0.1 * (i % 5), 1.0])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(
        map(tuple, similarity.knn_graph(
            emb, k=3, num_planes=4, hash_family="lcg"
        ).collect())
    )
    b = sorted(
        map(tuple, similarity.knn_graph(
            emb, k=3, num_planes=4, hash_family="lcg",
            max_bucket_occupancy=None,
        ).collect())
    )
    assert a == b


def test_knn_graph_auto_planes(spark):
    """num_planes=None derives P from corpus size (guide §2 scale-
    adaptive partitioning): the formula grows one plane per corpus
    doubling past the 100-occupancy target, and the auto path's
    output is bit-identical to passing the derived P explicitly."""
    import math

    from toshokan_spark.operators import similarity

    # formula: smallest P with n/2^P <= 100, clamped to [4, 20]
    assert similarity._auto_planes(0) == 4
    assert similarity._auto_planes(100) == 4
    assert similarity._auto_planes(1_600) == 4
    assert similarity._auto_planes(1_601) == 5
    assert similarity._auto_planes(2_000) == 5
    assert similarity._auto_planes(20_000) == 8   # the sf1 density ->
    #   exactly the measured default (ANN_RECALL_SF1.json continuity)
    assert similarity._auto_planes(40_000) == 9
    assert similarity._auto_planes(10**12) == 20  # hi clamp

    rows = [
        (i, [math.cos(i * 0.41), math.sin(i * 0.41), 0.2 * (i % 3), 1.0])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ds: dict = {}
    auto = sorted(
        map(tuple, similarity.knn_graph(
            emb, k=3, num_planes=None, hash_family="lcg", drop_stats=ds,
        ).collect())
    )
    assert ds["num_planes"] == 4  # 60 rows -> lo clamp
    explicit = sorted(
        map(tuple, similarity.knn_graph(
            emb, k=3, num_planes=4, hash_family="lcg"
        ).collect())
    )
    assert auto == explicit


def test_strip_boilerplate_lines(spark):
    """Line-level dedup: a line verbatim in >= min_doc_freq docs is
    stripped everywhere, order and unique content survive, blank
    lines are structural (kept, never boilerplate), and a doc that
    was ALL boilerplate comes back as the empty string."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="SUBSCRIBE NOW\nreal content one\n\nmore one"),
            Row(doc_id=2, text="SUBSCRIBE NOW\nreal content two"),
            Row(doc_id=3, text="unique header\nreal content three\nSUBSCRIBE NOW"),
            Row(doc_id=4, text="SUBSCRIBE NOW"),
            Row(doc_id=5, text=""),
        ]
    )
    out = {
        r.doc_id: (r.n_lines, r.n_removed, r.text_clean)
        for r in textops.strip_boilerplate_lines(docs, min_doc_freq=2).collect()
    }
    assert out[1] == (4, 1, "real content one\n\nmore one")
    assert out[2] == (2, 1, "real content two")
    assert out[3] == (3, 1, "unique header\nreal content three")
    assert out[4] == (1, 1, "")          # all boilerplate
    assert out[5] == (1, 0, "")          # empty doc: 1 blank line, kept
    # raising the threshold above the line's frequency keeps everything
    loose = {
        r.doc_id: r.n_removed
        for r in textops.strip_boilerplate_lines(docs, min_doc_freq=5).collect()
    }
    assert all(v == 0 for v in loose.values())


def test_incremental_strip_lines(spark, tmp_path):
    """Cross-batch line dedup: a batch line already in the store is
    dropped everywhere (the store owner keeps it), a batch-new line
    repeated across batch docs survives only in the batch's min-id
    doc, unique lines and blanks pass through, and the on-disk store
    grows idempotently (first writer wins, replays append nothing)."""
    from pyspark.sql import Row

    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="SUBSCRIBE NOW\nold article one"),
            Row(doc_id=2, text="old article two\nSUBSCRIBE NOW"),
        ]
    )
    batch = spark.createDataFrame(
        [
            Row(doc_id=10, text="SUBSCRIBE NOW\nfresh piece ten\nshared intro"),
            Row(doc_id=11, text="shared intro\n\nfresh piece eleven"),
            Row(doc_id=12, text="old article one"),
        ]
    )
    store = textops.line_store_frame(corpus)
    assert {(r.line, r.o_id) for r in store.collect()} == {
        ("SUBSCRIBE NOW", 1), ("old article one", 1), ("old article two", 2),
    }
    out = {
        r.doc_id: (r.n_lines, r.n_removed, r.text_clean)
        for r in textops.incremental_strip_lines(batch, store).collect()
    }
    # 10: store line dropped, batch-shared line owned here (min id)
    assert out[10] == (3, 1, "fresh piece ten\nshared intro")
    # 11: shared intro owned by 10 -> dropped; blank kept
    assert out[11] == (3, 1, "\nfresh piece eleven")
    # 12: whole doc was a stored line -> empty
    assert out[12] == (1, 1, "")

    # on-disk store: bucketed write, idempotent growth
    name = "t_line_store"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    textops.write_line_store(corpus, name, str(tmp_path / "ls"))
    n0 = spark.table(name).count()
    assert n0 == 3
    textops.append_line_store(batch, name)
    grown = {(r.line, r.o_id) for r in spark.table(name).collect()}
    assert ("fresh piece ten", 10) in grown
    assert ("SUBSCRIBE NOW", 1) in grown, "replayed line lost its first owner"
    n1 = spark.table(name).count()
    textops.append_line_store(batch, name)   # replay: no growth
    assert spark.table(name).count() == n1
    # the on-disk store drives the same report
    out2 = {
        r.doc_id: (r.n_lines, r.n_removed, r.text_clean)
        for r in textops.incremental_strip_lines(
            batch, spark.table(name).filter(F.col("o_id") < 10)
        ).collect()
    }
    assert out2 == out
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_semantic_decontaminate(spark):
    """Embedding decontamination: a near-copy of an eval vector is
    flagged with the closest eval id (ties to the lowest id), an
    orthogonal vector is clean, the report threshold compares the
    rounded cosine, and an empty benchmark raises."""
    import pytest as _pytest

    from pyspark.sql import Row

    from toshokan_spark.operators import decontaminate

    bench = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=2, embedding=[1.0, 0.0, 0.0]),  # duplicate eval
            Row(vec_id=3, embedding=[0.0, 1.0, 0.0]),
        ]
    )
    corpus = spark.createDataFrame(
        [
            Row(vec_id=10, embedding=[0.99, 0.01, 0.0]),   # near-copy of 1/2
            Row(vec_id=11, embedding=[0.0, 0.0, 1.0]),     # orthogonal: clean
            Row(vec_id=12, embedding=[0.0, 0.9, 0.1]),     # close to 3
        ]
    )
    out = {
        r.vec_id: (r.eval_id, r.cosine)
        for r in decontaminate.semantic_decontaminate(
            corpus, bench, threshold=0.9
        ).collect()
    }
    assert set(out) == {10, 12}
    assert out[10][0] == 1, "tie between identical evals must pick the lowest id"
    assert out[10][1] > 0.99
    assert out[12][0] == 3
    with _pytest.raises(ValueError):
        decontaminate.semantic_decontaminate(
            corpus, bench.filter(F.col("vec_id") < 0), threshold=0.5
        )
    # the broadcast-join path (forced via max_inline) must be
    # value-identical to the inlined-literal path (review r9 #1)
    via_join = {
        r.vec_id: (r.eval_id, r.cosine)
        for r in decontaminate.semantic_decontaminate(
            corpus, bench, threshold=0.9, max_inline=1
        ).collect()
    }
    assert via_join == out
    # zero-norm vectors: a zero BENCH vector is skipped (not matched,
    # no NaN ordering divergence), a zero CORPUS vector is excluded
    bench_z = bench.unionByName(
        spark.createDataFrame([Row(vec_id=0, embedding=[0.0, 0.0, 0.0])])
    )
    corpus_z = corpus.unionByName(
        spark.createDataFrame([Row(vec_id=13, embedding=[0.0, 0.0, 0.0])])
    )
    with_z = {
        r.vec_id: (r.eval_id, r.cosine)
        for r in decontaminate.semantic_decontaminate(
            corpus_z, bench_z, threshold=0.9
        ).collect()
    }
    assert with_z == out, "zero-norm vectors changed the report"


def test_hashed_linear_score_sparse_model(spark):
    """A sparse (nonzero-buckets-only) model must score unmatched
    features as weight 0 IN the denominator — the fastText bag mean —
    not silently drop them (review finding r8)."""
    import math

    from pyspark.sql import Row

    docs = spark.createDataFrame([Row(doc_id=1, text="u v w x")])
    # find the bucket of ONE of the doc's 7 features, weight only it
    feats = textops._hashed_features(docs, "doc_id", "text", 4096).collect()
    assert len(feats) == 7
    one_idx = feats[0].idx
    sparse = spark.createDataFrame([Row(idx=int(one_idx), w=7.0)])
    out = textops.hashed_linear_score(docs, sparse, dim=4096).collect()[0]
    # mean over ALL 7 features = 7.0/7 = 1.0 -> sigmoid(1.0)
    n_hits = sum(1 for f in feats if f.idx == one_idx)
    expect = round(1.0 / (1.0 + math.exp(-(7.0 * n_hits / 7))), 6)
    assert out.n_feats == 7
    assert out.prob == pytest.approx(expect, abs=1e-6)


def test_dsir_weights_empty_target_is_finite(spark):
    """An empty target corpus still yields finite smoothed ratios
    (tt = 0), matching the oracle's count(*) semantics — not NULLed
    weights coalesced to 0 (review finding r8)."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="some plain words"), Row(doc_id=2, text="other text")]
    )
    out = {r.doc_id: r.log_weight for r in
           textops.dsir_log_weights(docs, docs.filter("doc_id < 0"),
                                    dim=64).collect()}
    assert all(w != 0.0 for w in out.values()), out


def test_hashed_feature_family_xxhash_path(spark):
    """The production hash family must be drop-in: same output shape
    and deterministic across calls; a model trained under one family
    scores differently under the other (the families are distinct
    hashed spaces, never silently interchangeable)."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"some words here number {i}") for i in range(20)]
    )
    target = docs.filter(F.col("doc_id") < 5)
    a = textops.dsir_log_weights(docs, target, dim=256, hash_family="xxhash")
    b = textops.dsir_log_weights(docs, target, dim=256, hash_family="xxhash")
    ra = sorted(tuple(r) for r in a.collect())
    assert ra == sorted(tuple(r) for r in b.collect())
    assert all(r[1] > 0 for r in ra)  # every doc has features
    with pytest.raises(ValueError, match="hash_family"):
        textops.dsir_log_weights(docs, target, hash_family="md5")


def test_kcenter_select_farthest_point_geometry(spark):
    """Hand-computable farthest-point-first: seed = lowest id, each
    pick maximizes distance to the nearest selected center, dist is
    the cover-radius curve; k beyond the corpus stops early."""
    from pyspark.sql import Row

    pts = {
        1: [0.0, 0.0],
        2: [0.1, 0.0],    # near the seed
        3: [10.0, 0.0],   # farthest from seed -> picked 2nd
        4: [5.0, 0.0],    # midpoint -> picked 3rd (dist 5 to both)
        5: [9.9, 0.0],    # near 3
    }
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in pts.items()]
    )
    out = [(r.rank, r.vec_id, r.dist) for r in
           similarity.kcenter_select(emb, k=3).orderBy("rank").collect()]
    assert out == [(1, 1, 0.0), (2, 3, 10.0), (3, 4, 5.0)]
    # k > n: selection exhausts the corpus and stops
    all_out = similarity.kcenter_select(emb, k=10).collect()
    assert len(all_out) == 5
    assert {r.vec_id for r in all_out} == set(pts)


def test_kcenter_local_matches_distributed(spark):
    """The driver-local fast path (r17) must be bit-equal to the
    distributed argmax loop: same sequential-fold squared-L2 (the
    per-dimension accumulation order is the fold order), same
    incremental min over centers, same (dd desc, id asc) tie-break —
    including deliberate exact ties (three corners of a square
    equidistant from the seed) and irrational coordinates where a
    different summation order would flip the last ulp.
    local_threshold=0 forces the distributed path on the same
    input."""
    import math

    from pyspark.sql import Row

    vecs = [
        (10, [0.0, 0.0, 0.1]),
        (11, [1.0, 0.0, 0.1]),      # ties with 12 at d2=1 from seed
        (12, [0.0, 1.0, 0.1]),      # -> 11 wins (lower id)
        (13, [1.0, 1.0, 0.1]),
        (14, [math.pi / 7, math.e / 9, 0.1 + 1e-13]),
        (15, [0.3333333333333333, 0.6666666666666666, 0.1]),
    ]
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in vecs]
    )
    local = [tuple(r) for r in
             similarity.kcenter_select(emb, k=5).orderBy("rank").collect()]
    dist = [tuple(r) for r in
            similarity.kcenter_select(
                emb, k=5, local_threshold=0).orderBy("rank").collect()]
    assert local == dist and len(local) == 5


def test_curriculum_order_matches_reference(spark):
    """curriculum_order's window-free (grouped_prefix) machinery must
    reproduce the textbook answer: ntile stages over (difficulty, id),
    seeded within-stage hash shuffle, global row_number position."""
    from toshokan_spark.operators.dedup import _poly_fold_py
    from toshokan_spark.operators.sampling import SAMPLE_BUCKETS, curriculum_order

    rows = [Row(doc_id=i, diff=(i * 37) % 11) for i in range(1, 24)]
    df = spark.createDataFrame(rows)
    out = {
        r["doc_id"]: (r["stage"], r["position"])
        for r in curriculum_order(
            df, F.col("diff").cast("long"), n_stages=4, seed=7, n_coarse=4
        ).collect()
    }

    n, k = len(rows), 4
    q, rem = divmod(n, k)
    by_diff = sorted(rows, key=lambda r: (r.diff, r.doc_id))
    stage_of = {}
    pos = 0
    for s in range(1, k + 1):
        size = q + (1 if s <= rem else 0)
        for r in by_diff[pos:pos + size]:
            stage_of[r.doc_id] = s
        pos += size
    bucket = {
        r.doc_id: _poly_fold_py(str(r.doc_id), 1103515245, 7, 1_000_000_007, 5381)
        % SAMPLE_BUCKETS
        for r in rows
    }
    order = sorted(rows, key=lambda r: (stage_of[r.doc_id], bucket[r.doc_id], r.doc_id))
    expected = {
        r.doc_id: (stage_of[r.doc_id], i + 1) for i, r in enumerate(order)
    }
    assert out == expected


def test_curriculum_order_fewer_rows_than_stages(spark):
    """N < n_stages: ntile gives one row per stage, stages beyond N
    empty; the q=0 branch must stay total (no ANSI divide-by-zero)."""
    from toshokan_spark.operators.sampling import curriculum_order

    df = spark.createDataFrame([Row(doc_id=1, d=5), Row(doc_id=2, d=3)])
    got = sorted(
        (r["doc_id"], r["stage"], r["position"])
        for r in curriculum_order(
            df, F.col("d").cast("long"), n_stages=5, seed=0, n_coarse=2
        ).collect()
    )
    # doc 2 (d=3) is easier -> stage 1; positions are 1..N
    assert got == [(1, 2, 2), (2, 1, 1)]


def test_shard_assign_and_balance_report(spark):
    """Hash sharding is deterministic, in-range, and the balance
    report's totals/deviation match a driver-side recomputation."""
    from toshokan_spark.operators.dedup import _poly_fold_py
    from toshokan_spark.operators.sampling import (
        SAMPLE_BUCKETS,
        shard_assign,
        shard_balance,
    )

    rows = [Row(doc_id=i, n_tokens=(i * 13) % 29 + 1) for i in range(1, 101)]
    df = spark.createDataFrame(rows)
    a = shard_assign(df, n_shards=4, seed=3)
    got = {r["doc_id"]: r["shard"] for r in a.collect()}
    exp_shard = {
        r.doc_id: _poly_fold_py(str(r.doc_id), 1103515245, 3, 1_000_000_007, 5381)
        % SAMPLE_BUCKETS % 4
        for r in rows
    }
    assert got == exp_shard
    assert set(got.values()) <= set(range(4))

    rep = {
        r["shard"]: (r["n_docs"], r["n_tokens"], r["rel_dev"])
        for r in shard_balance(a, F.col("n_tokens")).collect()
    }
    totals: dict = {}
    for r in rows:
        s = exp_shard[r.doc_id]
        c, t = totals.get(s, (0, 0))
        totals[s] = (c + 1, t + r.n_tokens)
    mean = sum(t for _, t in totals.values()) / len(totals)
    for s, (c, t) in totals.items():
        assert rep[s][0] == c and rep[s][1] == t
        assert rep[s][2] == pytest.approx(round(t / mean - 1.0, 6), abs=1e-9)


def test_tokenizer_fertility_per_lang_aggregation(spark):
    """Fertility/bytes-per-token are the exact integer-sum ratios of
    the per-doc bpe_token_counts, grouped by language."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", text="low lower lowest"),
            Row(doc_id=2, lang="en", text="new newer"),
            Row(doc_id=3, lang="de", text="neu neuer neuest"),
            Row(doc_id=4, lang="de", text=""),
        ]
    )
    merges = textops.bpe_train(docs, n_merges=4)
    per_doc = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in textops.bpe_token_counts(docs, merges).collect()
    }
    out = {
        r["lang"]: r for r in textops.tokenizer_fertility(docs, merges).collect()
    }
    for lang, ids in (("en", [1, 2]), ("de", [3, 4])):
        w = sum(per_doc[i][0] for i in ids)
        t = sum(per_doc[i][1] for i in ids)
        b = sum(len(r.text.encode()) for r in docs.collect() if r.lang == lang)
        row = out[lang]
        assert row["n_docs"] == len(ids)
        assert row["n_words"] == w and row["n_bpe_tokens"] == t
        assert row["n_bytes"] == b
        assert row["fertility"] == pytest.approx(round(t / w, 6))
        if t:
            assert row["bytes_per_token"] == pytest.approx(round(b / t, 6))


def test_repeat_plan_and_epoch_expand(spark):
    """Repeat factors realize weight*budget/tokens in both regimes
    (f > 1 -> whole copies + frac; f < 1 -> pure fractional
    downsample), and the expansion materializes exactly
    n_full_copies (+1 under the frac hash) copies, 1-based."""
    from toshokan_spark.operators.dedup import _poly_fold_py
    from toshokan_spark.operators.sampling import (
        SAMPLE_BUCKETS,
        epoch_expand,
        repeat_plan,
        source_mixture,
    )

    rows = [
        Row(doc_id=i, source=("a" if i <= 20 else "b"), n_tokens=10)
        for i in range(1, 31)
    ]
    df = spark.createDataFrame(rows)
    weights = source_mixture(df, alpha=0.5)
    plan = repeat_plan(weights, budget_tokens=600)
    got = {r["source"]: r for r in plan.collect()}
    wt = {r["source"]: r["weight"] for r in weights.collect()}
    for s, toks in (("a", 200), ("b", 100)):
        f = wt[s] * 600.0 / toks
        assert got[s]["n_tokens"] == toks
        assert got[s]["repeat_factor"] == pytest.approx(round(f, 6))
        assert got[s]["n_full_copies"] == int(f + 1e-6)
        assert got[s]["frac_rate"] == pytest.approx(
            round(max(f - int(f + 1e-6), 0), 6)
        )

    out = epoch_expand(df, plan, seed=11).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy"])
    for r in rows:
        p = got[r.source]
        thr = int(p["frac_rate"] * SAMPLE_BUCKETS + 1e-6)
        extra = (
            _poly_fold_py(str(r.doc_id), 1103515245, 11, 1_000_000_007, 5381)
            % SAMPLE_BUCKETS
            < thr
        )
        expect = p["n_full_copies"] + (1 if extra else 0)
        copies = sorted(by_doc.get(r.doc_id, []))
        assert copies == list(range(1, expect + 1))


def test_repeat_plan_integer_factor_epsilon(spark):
    """A repeat factor that is an exact integer in real arithmetic
    (weight*budget == k*tokens) must floor to k, not k-1, and leave
    frac_rate at 0 — the +1e-6 epsilon contract."""
    from pyspark.sql import Row as R
    from toshokan_spark.operators.sampling import epoch_expand, repeat_plan

    weights = spark.createDataFrame(
        [R(source="only", n_docs=3, n_tokens=100, weight=1.0)]
    )
    plan = repeat_plan(weights, budget_tokens=300)
    row = plan.collect()[0]
    assert row["n_full_copies"] == 3 and row["frac_rate"] == 0.0

    docs = spark.createDataFrame([R(doc_id=i, source="only") for i in range(3)])
    out = epoch_expand(docs, plan).collect()
    assert len(out) == 9
    assert all(1 <= r["copy"] <= 3 for r in out)


def test_write_ordered_shards_layout(spark, tmp_path):
    """Every shard directory holds its rows in order-column order
    (single sequential read per data-loader worker), with no global
    sort in the plan."""
    import os

    from toshokan_spark.operators.sampling import (
        shard_assign,
        write_ordered_shards,
    )

    rows = [Row(doc_id=i, position=1000 - i) for i in range(1, 201)]
    df = shard_assign(spark.createDataFrame(rows), n_shards=4, seed=1)
    out = str(tmp_path / "shards")
    write_ordered_shards(df, out)

    expect = {}
    for r in df.collect():
        expect.setdefault(r["shard"], []).append(r["position"])
    seen_total = 0
    for d in sorted(os.listdir(out)):
        if not d.startswith("shard="):
            continue
        s = int(d.split("=")[1])
        got = [
            r["position"]
            for r in spark.read.parquet(f"{out}/{d}").collect()
        ]
        assert got == sorted(expect[s]), f"shard {s} not ordered"
        seen_total += len(got)
    assert seen_total == 200


def test_stratified_sample_exact_quota_and_group_limit_plan(spark):
    """Quotas are exact per stratum (min(quota, |stratum|)), the
    selection matches the driver-side hash order, and the plan uses
    WindowGroupLimit — never a full per-group sort."""
    from toshokan_spark.operators.dedup import _poly_fold_py
    from toshokan_spark.operators.sampling import (
        SAMPLE_BUCKETS,
        stratified_sample,
    )

    rows = [
        Row(doc_id=i, source=("big" if i <= 80 else "small"))
        for i in range(1, 91)
    ]
    df = spark.createDataFrame(rows)
    out = stratified_sample(df, per_group=10, seed=13)
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(got["big"]) == 10
    assert len(got["small"]) == 10  # quota == stratum size

    def bucket(i):
        return _poly_fold_py(str(i), 1103515245, 13, 1_000_000_007, 5381) % SAMPLE_BUCKETS

    want_big = set(
        sorted((r.doc_id for r in rows if r.source == "big"),
               key=lambda i: (bucket(i), i))[:10]
    )
    assert got["big"] == want_big

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, "rank filter did not compile to group-limit"


def test_facet_counts_topk_and_ties(spark):
    """Facet counts aggregate the hit set exactly; top-k orders by
    count desc with deterministic value-asc ties; value sums fold
    through decimal so partition order cannot drift them."""
    from toshokan_spark.search import facet_counts

    rows = []
    for i in range(40):
        rows.append(Row(event_id=i, event_type="click", value=0.1))
    for i in range(40, 70):
        rows.append(Row(event_id=i, event_type="buy", value=2.5))
    for i in range(70, 100):
        rows.append(Row(event_id=i, event_type="view", value=1.0))
    df = spark.createDataFrame(rows)
    out = facet_counts(df, "event_type", k=2, value_col="value").collect()
    # click(40) first, then the 30/30 tie breaks alphabetically: buy
    assert [(r["event_type"], r["n_hits"]) for r in out] == [
        ("click", 40), ("buy", 30)
    ]
    assert out[0]["total_value"] == pytest.approx(4.0)
    assert out[1]["total_value"] == pytest.approx(75.0)


def test_date_histogram_epoch_alignment(spark):
    """Buckets are epoch-aligned floor-div windows — including
    PRE-epoch timestamps, which must land in the bucket STARTING at
    or before them (floor semantics, not truncation toward zero)."""
    import datetime as dt

    from toshokan_spark.search import date_histogram

    tz = dt.timezone.utc
    rows = [
        Row(ts=dt.datetime(1970, 1, 1, 0, 0, 30, tzinfo=tz)),   # bucket 0
        Row(ts=dt.datetime(1970, 1, 1, 0, 1, 30, tzinfo=tz)),   # bucket 60
        Row(ts=dt.datetime(1970, 1, 1, 0, 1, 59, tzinfo=tz)),   # bucket 60
        Row(ts=dt.datetime(1969, 12, 31, 23, 59, 30, tzinfo=tz)),  # bucket -60
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["bucket_epoch"]: r["n_hits"]
        for r in date_histogram(df, "ts", 60).collect()
    }
    assert got == {0: 1, 60: 2, -60: 1}


def test_stats_agg_exact_and_null_aware(spark):
    """stats_agg: n_hits counts every hit, n_values/min/max/sum/avg
    only the non-null field values; the decimal fold makes the sum
    partition-order-free (0.1-style doubles would drift a plain sum)."""
    from toshokan_spark.search import stats_agg

    rows = [Row(i=i, v=0.1) for i in range(30)] + [Row(i=99, v=None)]
    out = stats_agg(spark.createDataFrame(rows), "v").collect()[0]
    assert out["n_hits"] == 31 and out["n_values"] == 30
    assert out["min_v"] == pytest.approx(0.1)
    assert out["max_v"] == pytest.approx(0.1)
    assert out["sum_v"] == 3.0       # decimal-exact, NOT 2.9999999...
    assert out["avg_v"] == 0.1


def test_percentiles_agg_discrete_elements(spark):
    """Discrete percentiles return ACTUAL elements at rank
    ceil(p*n) — for n=4 values [10,20,30,40]: p25=10 (rank 1),
    p50=20 (rank 2), p75=30, p90=40 (rank ceil(3.6)=4), p99=40."""
    from toshokan_spark.search import percentiles_agg

    df = spark.createDataFrame([Row(v=float(x)) for x in (40, 10, 30, 20)])
    out = percentiles_agg(df, "v").collect()[0]
    assert out["n_values"] == 4
    assert (out["p25"], out["p50"], out["p75"], out["p90"], out["p99"]) == (
        10.0, 20.0, 30.0, 40.0, 40.0
    )


def test_cardinality_agg_exact_fallback_and_estimate(spark):
    """Below k distinct values the KMV column falls back to the exact
    count; above k it is the deterministic (k-1)*M/h_k estimate —
    within the ~1/sqrt(k) relative error band for uniform hashes."""
    from toshokan_spark.search import cardinality_agg

    small = spark.createDataFrame([Row(u=i % 5) for i in range(50)])
    out = cardinality_agg(small, "u", k=16).collect()[0]
    assert out["distinct_exact"] == 5 and out["kmv_estimate"] == 5.0

    big = spark.createDataFrame([Row(u=i) for i in range(2000)])
    out = cardinality_agg(big, "u", k=64).collect()[0]
    assert out["distinct_exact"] == 2000
    assert 1000 < out["kmv_estimate"] < 4000  # ~12.5% stderr at k=64


def test_top_hits_per_group_deterministic_ties(spark):
    """Per-group top-k with (order desc, id asc) total order: equal
    values keep the smaller id first; groups smaller than k return
    all their hits."""
    from toshokan_spark.search import top_hits_per_group

    rows = [
        Row(g="a", i=1, v=5.0), Row(g="a", i=2, v=5.0),
        Row(g="a", i=3, v=9.0), Row(g="b", i=4, v=1.0),
    ]
    out = top_hits_per_group(
        spark.createDataFrame(rows), "g", 2, order_col="v", id_col="i"
    ).collect()
    got = sorted((r["g"], r["rank_in_group"], r["i"]) for r in out)
    assert got == [("a", 1, 3), ("a", 2, 1), ("b", 1, 4)]


def test_top_hits_plan_uses_window_group_limit(spark):
    """The rank<=k filter must compile to WindowGroupLimit (per-group
    top-k pushed below the window sort) — at corpus scale a plain
    window would sort every group fully before filtering."""
    from toshokan_spark.search import top_hits_per_group

    df = spark.createDataFrame([Row(g="a", i=1, v=1.0)])
    plan = top_hits_per_group(
        df, "g", 3, order_col="v", id_col="i"
    )._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_extended_stats_agg_exact_moments(spark):
    """Both moment sums are decimal-exact; variance/stddev derive from
    them: values [1,2,3,4] -> mean 2.5, E[x^2]=7.5, var 1.25."""
    from toshokan_spark.search import extended_stats_agg

    df = spark.createDataFrame([Row(v=float(x)) for x in (1, 2, 3, 4)])
    out = extended_stats_agg(df, "v").collect()[0]
    assert out["n_values"] == 4
    assert (out["min_v"], out["max_v"]) == (1.0, 4.0)
    assert out["sum_v"] == 10.0 and out["avg_v"] == 2.5
    assert out["sum_sq"] == 30.0
    assert out["variance_v"] == 1.25
    assert out["stddev_v"] == round(math.sqrt(1.25), 6)


def test_histogram_agg_floor_buckets_and_nulls(spark):
    """floor (not truncate) keys the buckets, so negatives bucket LEFT
    (-0.5 with width 2 -> bucket -2.0); nulls are dropped."""
    from toshokan_spark.search import histogram_agg

    rows = [Row(v=-0.5), Row(v=0.0), Row(v=1.9), Row(v=2.0), Row(v=None)]
    out = histogram_agg(spark.createDataFrame(rows), "v", 2.0).collect()
    got = {r["bucket_lo"]: r["n_hits"] for r in out}
    assert got == {-2.0: 1, 0.0: 2, 2.0: 1}


def test_range_agg_from_inclusive_to_exclusive(spark):
    """ES range-agg convention: [lo, hi) — an edge value belongs to
    the bucket it OPENS; open ends carry NULL bounds; only occupied
    buckets return; unsorted edges are rejected."""
    from toshokan_spark.search import range_agg

    rows = [Row(v=-1.0), Row(v=0.0), Row(v=9.99), Row(v=10.0), Row(v=None)]
    out = range_agg(
        spark.createDataFrame(rows), "v", [0.0, 10.0], value_col="v"
    ).collect()
    got = {
        r["bucket_idx"]: (r["range_lo"], r["range_hi"], r["n_hits"])
        for r in out
    }
    assert got == {
        0: (None, 0.0, 1),     # v=-1.0
        1: (0.0, 10.0, 2),     # 0.0 opens this bucket; 9.99 inside
        2: (10.0, None, 1),    # 10.0 opens the last bucket
    }
    with pytest.raises(ValueError):
        range_agg(spark.createDataFrame(rows), "v", [10.0, 0.0])


@pytest.fixture()
def _stats_index(spark, tmp_path):
    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.config import FieldConfig, IndexConfig
    from toshokan_spark.indexer import write_segment
    from toshokan_spark.maintenance import create_index

    cat = FsCatalog(str(tmp_path / "cat"))
    cfg = IndexConfig(
        name="mstats",
        path=str(tmp_path / "data" / "mstats"),
        fields=[
            FieldConfig(name="id", type="number", number_type="i64"),
            FieldConfig(name="v", type="number", number_type="f64"),
        ],
    )
    create_index(cat, cfg)
    write_segment(
        cat, cfg, spark.createDataFrame([Row(id=1, v=1.25), Row(id=2, v=None)])
    )
    write_segment(
        cat, cfg,
        spark.createDataFrame([Row(id=3, v=-2.5), Row(id=4, v=100.125)]),
    )
    return cat, cfg


def test_manifest_stats_zero_data_scans(spark, _stats_index, tmp_path):
    """The match-all stats panel is pure manifest arithmetic: it
    matches stats_agg over the data exactly, and — the proof there is
    no scan — still answers after the data files are DELETED."""
    import shutil

    from toshokan_spark.search import manifest_stats, stats_agg

    cat, cfg = _stats_index
    rows = [
        Row(id=1, v=1.25), Row(id=2, v=None),
        Row(id=3, v=-2.5), Row(id=4, v=100.125),
    ]
    want = stats_agg(spark.createDataFrame(rows), "v").collect()[0].asDict()
    got = manifest_stats(spark, cat, cfg, "v").collect()[0].asDict()
    assert got == want
    assert got["n_hits"] == 4 and got["n_values"] == 3

    shutil.rmtree(cfg.path)
    still = manifest_stats(spark, cat, cfg, "v").collect()[0].asDict()
    assert still == want


def test_manifest_stats_old_manifest_falls_back(spark, _stats_index):
    """A manifest written before the additive stats existed (any
    segment with field_sums=None, or the field missing) returns None —
    the caller falls back to the scan; never a wrong answer."""
    from toshokan_spark.search import manifest_stats

    cat, cfg = _stats_index
    ver, segs = cat._read_versioned("mstats")
    segs[0].field_sums = None
    assert cat._try_write_version("mstats", ver + 1, segs)
    assert manifest_stats(spark, cat, cfg, "v") is None
    # unknown field: no sums recorded for it anywhere
    assert manifest_stats(spark, cat, cfg, "nope") is None


def test_manifest_stats_survives_merge(spark, _stats_index):
    """Compaction combines the additive stats exactly — counts add,
    decimal sums add — so the panel is unchanged across a merge."""
    from toshokan_spark.maintenance import merge_segments
    from toshokan_spark.search import manifest_stats

    cat, cfg = _stats_index
    before = manifest_stats(spark, cat, cfg, "v").collect()[0].asDict()
    merge_segments(spark, cat, "mstats")
    (seg,) = cat.segments("mstats")
    assert seg.field_sums["v"][0] == 3
    from decimal import Decimal

    assert Decimal(seg.field_sums["v"][1]) == Decimal("98.875")
    after = manifest_stats(spark, cat, cfg, "v").collect()[0].asDict()
    assert after == before


def test_time_travel_snapshot_reads(spark, _stats_index):
    """at_version reads the manifest snapshot as of that commit:
    v1 = created empty, v2 = first segment, v3 = both; a scan at v2
    sees only the first segment's rows."""
    from toshokan_spark.catalog import CatalogError
    from toshokan_spark.search import search_df

    cat, cfg = _stats_index
    assert cat.versions("mstats") == [1, 2, 3]
    assert cat.segments("mstats", at_version=1) == []
    assert len(cat.segments("mstats", at_version=2)) == 1
    assert len(cat.segments("mstats", at_version=3)) == 2
    v2 = search_df(spark, cat, "mstats", "*", limit=None, at_version=2)
    assert sorted(r["id"] for r in v2.collect()) == [1, 2]
    with pytest.raises(CatalogError, match="retained"):
        cat.segments("mstats", at_version=99)


def test_time_travel_horizon_is_gc_bounded(tmp_path):
    """Versions more than KEEP_VERSIONS behind the head are GC'd —
    the time-travel horizon is bounded and a request past it fails
    with the retained range, never a silently-wrong snapshot. Pure
    manifest arithmetic: no Spark, no data files."""
    from toshokan_spark.catalog import CatalogError, FsCatalog, SegmentEntry
    from toshokan_spark.config import FieldConfig, IndexConfig
    from toshokan_spark.maintenance import create_index

    cat = FsCatalog(str(tmp_path / "cat"))
    cfg = IndexConfig(
        name="gcidx", path=str(tmp_path / "d"),
        fields=[FieldConfig(name="id", type="number")],
    )
    create_index(cat, cfg)  # v1
    for i in range(12):
        cat.commit_segment("gcidx", SegmentEntry(
            id=f"s{i}", file_name=f"seg-s{i}", num_rows=1,
            created_at_ms=0,
        ))
    vs = cat.versions("gcidx")
    assert vs == list(range(3, 14))  # 13 - KEEP_VERSIONS(10) = floor 3
    assert len(cat.segments("gcidx", at_version=vs[0])) == vs[0] - 1
    with pytest.raises(CatalogError, match="GC'd"):
        cat.segments("gcidx", at_version=2)


def test_significant_terms_jlh_hand_values(spark):
    """JLH on a hand corpus: fg={apple banana, apple cherry},
    bg adds {banana dog, dog elephant}. apple: fg%=1 bg%=.5 ->
    (0.5)(2)=1.0; cherry: .5 vs .25 -> 0.5; banana: .5 vs .5 -> not
    positively significant, excluded; min_doc_count prunes cherry."""
    from toshokan_spark.search import significant_terms

    corpus = spark.createDataFrame([
        Row(id=1, lang="en", text="apple banana"),
        Row(id=2, lang="en", text="apple cherry"),
        Row(id=3, lang="fr", text="banana dog"),
        Row(id=4, lang="fr", text="dog elephant"),
    ])
    hits = corpus.where(F.col("lang") == "en")
    out = significant_terms(hits, corpus, "text").collect()
    got = [(r["term"], r["fg_df"], r["bg_df"], r["score"]) for r in out]
    assert got == [("apple", 2, 2, 1.0), ("cherry", 1, 1, 0.5)]

    out2 = significant_terms(hits, corpus, "text", min_doc_count=2).collect()
    assert [r["term"] for r in out2] == ["apple"]


def test_significant_terms_from_stats_matches_corpus_pass(spark, tmp_path):
    """The index-backed variant (background df from the commit-time
    stats parquets, across TWO segments) returns exactly what the
    corpus-tokenizing variant computes — the metadata artifact is
    value-equal to the full pass it replaces."""
    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.config import FieldConfig, IndexConfig
    from toshokan_spark.indexer import stats_path, write_segment
    from toshokan_spark.maintenance import create_index
    from toshokan_spark.search import (
        significant_terms,
        significant_terms_from_stats,
    )

    rows = [
        Row(id=1, lang="en", text="spark shuffles data across executors"),
        Row(id=2, lang="en", text="spark plans avoid shuffles"),
        Row(id=3, lang="fr", text="data lives in parquet files"),
        Row(id=4, lang="fr", text="files hold data and plans"),
    ]
    corpus = spark.createDataFrame(rows)
    cat = FsCatalog(str(tmp_path / "cat"))
    cfg = IndexConfig(
        name="sig", path=str(tmp_path / "d" / "sig"),
        fields=[
            FieldConfig(name="id", type="number"),
            FieldConfig(name="lang", type="text", tokenizer="raw"),
            FieldConfig(name="text", type="text"),
        ],
    )
    create_index(cat, cfg)
    write_segment(cat, cfg, corpus.where(F.col("id") <= 2))
    write_segment(cat, cfg, corpus.where(F.col("id") > 2))
    hits = corpus.where(F.col("lang") == "en")
    paths = [stats_path(cfg, s.file_name) for s in cat.segments("sig")]
    via_stats = significant_terms_from_stats(
        spark, hits, "text", paths, "text", k=20
    ).collect()
    via_corpus = significant_terms(hits, corpus, "text", k=20).collect()
    key = lambda r: (r["term"], r["fg_df"], r["bg_df"], r["score"])
    assert sorted(map(key, via_stats)) == sorted(map(key, via_corpus))
    assert via_stats  # non-trivial: at least one significant term


def test_pca_fit_project_matches_numpy(spark):
    """fit_pca's distributed decimal-exact covariance + driver eigh
    reproduce numpy PCA: eigvals match, projections match under the
    shared sign convention (largest-|w| entry positive), and whitened
    coordinates have unit population variance."""
    import numpy as np

    from toshokan_spark.operators.similarity import (
        embedding_covariance,
        fit_pca,
        pca_project,
    )

    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 5)) @ np.diag([3.0, 2.0, 1.0, 0.5, 0.1])
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(v) for v in row])
         for i, row in enumerate(X)]
    )
    C = np.zeros((5, 5))
    for r in embedding_covariance(df).collect():
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    Cnp = np.cov(X, rowvar=False, bias=True)
    assert np.abs(C - Cnp).max() < 1e-6  # round-6 on each entry

    model = fit_pca(df, 3)
    vals, vecs = np.linalg.eigh(Cnp)
    order = np.argsort(vals)[::-1][:3]
    assert np.allclose(
        model["eigvals"], sorted(vals, reverse=True)[:3], atol=1e-5
    )
    W = []
    for c in order:
        w = vecs[:, c]
        if w[int(np.argmax(np.abs(w)))] < 0:
            w = -w
        W.append(w)
    ref = (X - X.mean(axis=0)) @ np.array(W).T
    got = np.array(
        [[r["pc0"], r["pc1"], r["pc2"]]
         for r in pca_project(df, model).orderBy("vec_id").collect()]
    )
    assert np.abs(got - ref).max() < 1e-5

    white = np.array(
        [[r["pc0"], r["pc1"], r["pc2"]]
         for r in pca_project(df, model, whiten=True)
         .orderBy("vec_id").collect()]
    )
    assert np.allclose(white.var(axis=0), 1.0, atol=1e-4)
    # components are orthonormal
    Wm = np.array(model["components"])
    assert np.allclose(Wm @ Wm.T, np.eye(3), atol=1e-6)


def test_pca_project_null_vectors_dropped_and_no_shuffle(spark):
    """Null embeddings drop out; the projection plan is pure narrow
    Column algebra — no Exchange, no Python UDF."""
    from toshokan_spark.operators.similarity import pca_project

    df = spark.createDataFrame([
        Row(vec_id=1, embedding=[1.0, 0.0]),
        Row(vec_id=2, embedding=None),
    ])
    model = {"mean": [0.0, 0.0],
             "components": [[1.0, 0.0], [0.0, 1.0]],
             "eigvals": [1.0, 1.0]}
    out = pca_project(df, model)
    assert [r["vec_id"] for r in out.collect()] == [1]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_covariance_scaled_matches_exact(spark):
    """The mapInPandas Gram path (wide-embedding scale mode: one
    D x D block per Arrow batch, partitions x D^2/2 partials) agrees
    with the decimal-exact explode path to double rounding across a
    multi-partition frame."""
    import numpy as np

    from toshokan_spark.operators.similarity import (
        embedding_covariance,
        embedding_covariance_scaled,
    )

    rng = np.random.default_rng(3)
    X = rng.normal(size=(200, 8))
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(v) for v in r])
         for i, r in enumerate(X)]
    ).repartition(4)
    exact = {(r["i"], r["j"]): r["cov"]
             for r in embedding_covariance(df).collect()}
    scaled = {(r["i"], r["j"]): r["cov"]
              for r in embedding_covariance_scaled(df).collect()}
    assert set(exact) == set(scaled) and len(exact) == 8 * 9 // 2
    assert max(abs(exact[k] - scaled[k]) for k in exact) < 1e-6


def test_bitext_margin_hand_geometry(spark):
    """Margin criterion on hand vectors: an isolated exact match
    (s1=t1) scores a high margin; a pair inside a dense clump
    (s2 between the near-duplicate t2/t3) is dragged toward 1 by its
    neighborhood average — a raw-cosine threshold could not separate
    them (cos(s2,t2)=0.995 vs cos(s1,t1)=1.0)."""
    from toshokan_spark.operators.similarity import bitext_margin_pairs

    src = spark.createDataFrame([
        Row(vec_id=1, embedding=[1.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0]),
    ])
    tgt = spark.createDataFrame([
        Row(vec_id=11, embedding=[1.0, 0.0]),
        Row(vec_id=12, embedding=[0.1, 1.0]),
        Row(vec_id=13, embedding=[-0.1, 1.0]),
    ])
    out = {
        r["src_id"]: (r["tgt_id"], r["cos"], r["margin"])
        for r in bitext_margin_pairs(src, tgt, k=2, threshold=1.0).collect()
    }
    # replicate the pipeline arithmetic: rounded top-k scores, mean
    c = lambda a, b: round(
        (a[0] * b[0] + a[1] * b[1])
        / ((a[0] ** 2 + a[1] ** 2) ** 0.5 * (b[0] ** 2 + b[1] ** 2) ** 0.5),
        6,
    )
    s1, s2 = [1.0, 0.0], [0.0, 1.0]
    t1, t2, t3 = [1.0, 0.0], [0.1, 1.0], [-0.1, 1.0]
    ax1 = (c(s1, t1) + c(s1, t2)) / 2          # s1 top-2: t1, t2
    ax2 = (c(s2, t2) + c(s2, t3)) / 2          # tie -> both 0.995037
    ay1 = (c(t1, s1) + c(t1, s2)) / 2
    ay2 = (c(t2, s2) + c(t2, s1)) / 2
    assert out[1][0] == 11 and out[1][1] == 1.0
    assert out[1][2] == round(1.0 / ((ax1 + ay1) / 2), 6)
    assert out[2][0] == 12                      # tie broken by id asc
    assert out[2][2] == round(c(s2, t2) / ((ax2 + ay2) / 2), 6)
    assert out[1][2] > out[2][2]
    # a tighter threshold keeps only the isolated exact match
    strict = bitext_margin_pairs(src, tgt, k=2, threshold=1.5).collect()
    assert [(r["src_id"], r["tgt_id"]) for r in strict] == [(1, 11)]


def test_quality_ensemble_rank_fusion(spark):
    """Hand corpus: ranks are exact (ties by id), min-max normalized,
    averaged in declared order; a single-row frame degenerates to the
    0.5 midpoint instead of dividing by zero."""
    from toshokan_spark.operators.text import quality_ensemble

    df = spark.createDataFrame([
        Row(doc_id=1, a=10.0, b=0.1),
        Row(doc_id=2, a=30.0, b=0.1),   # b ties with doc 1 -> id order
        Row(doc_id=3, a=20.0, b=0.9),
    ])
    out = {
        r["doc_id"]: (r["rank_a"], r["rank_b"], r["ensemble"])
        for r in quality_ensemble(
            df, [("a", F.col("a")), ("b", F.col("b"))]
        ).collect()
    }
    # a: 10<20<30 -> ranks 1,3,2 by doc; b: 0.1(id1)<0.1(id2)<0.9
    assert out[1][:2] == (1, 1) and out[2][:2] == (3, 2)
    assert out[3][:2] == (2, 3)
    assert out[1][2] == 0.0                      # worst on both
    assert out[2][2] == round((1.0 + 0.5) / 2, 6)
    assert out[3][2] == round((0.5 + 1.0) / 2, 6)

    one = quality_ensemble(
        spark.createDataFrame([Row(doc_id=9, a=5.0)]),
        [("a", F.col("a"))],
    ).collect()
    assert one[0]["ensemble"] == 0.5


def test_delete_masks_reads_immediately_and_snapshots_dont(spark, _stats_index):
    """A recorded tombstone masks matching rows on the NEXT read (no
    data rewrite), masks post-delete ingests of matching rows too
    (predicate semantics), invalidates the manifest stats fast path,
    and is invisible to pre-delete snapshots."""
    from pyspark.sql import Row as R

    from toshokan_spark.indexer import write_segment
    from toshokan_spark.search import manifest_stats, search_df

    cat, cfg = _stats_index
    pre_version = cat.versions("mstats")[-1]
    d = cat.add_delete("mstats", "id:>=3")
    assert [x.id for x in cat.deletes("mstats")] == [d.id]

    ids = lambda df: sorted(r["id"] for r in df.collect())
    assert ids(search_df(spark, cat, "mstats", "*", limit=None)) == [1, 2]
    # manifest stats would count the masked rows -> must fall back
    assert manifest_stats(spark, cat, cfg, "v") is None
    # pre-delete snapshot: all four rows, tombstone of THAT version
    assert ids(
        search_df(spark, cat, "mstats", "*", limit=None,
                  at_version=pre_version)
    ) == [1, 2, 3, 4]
    # post-delete ingest of a matching row stays masked; the commit's
    # CAS preserves the pending tombstone
    write_segment(cat, cfg, spark.createDataFrame([R(id=7, v=9.0)]))
    assert len(cat.deletes("mstats")) == 1
    assert ids(search_df(spark, cat, "mstats", "*", limit=None)) == [1, 2]


def test_delete_merge_materializes_and_clears(spark, _stats_index):
    """A full merge physically rewrites survivors only, clears the
    tombstone in the same atomic manifest write, records the TRUE
    row count, and RE-RECORDS the additive stats from the survivors
    (observed during the rewrite) — so the manifest-stats fast path
    answers again after a GDPR delete + ONE merge (r9 directive 3)."""
    from toshokan_spark.maintenance import merge_segments
    from toshokan_spark.search import manifest_stats, search_df, stats_agg
    from toshokan_spark.storage import join_path

    cat, cfg = _stats_index
    cat.add_delete("mstats", "id:>=3")
    entry = merge_segments(spark, cat, "mstats")
    assert entry.num_rows == 2 and cat.deletes("mstats") == []
    # survivor additive stats: rows (1, 1.25), (2, None)
    assert entry.field_sums == {
        "id": [2, "3.000000"], "v": [1, "1.250000"]
    }
    # physically gone: the raw parquet itself holds only survivors
    raw = spark.read.parquet(join_path(cfg.path, entry.file_name))
    assert sorted(r["id"] for r in raw.collect()) == [1, 2]
    assert sorted(
        r["id"]
        for r in search_df(spark, cat, "mstats", "*", limit=None).collect()
    ) == [1, 2]
    # the FAST PATH (not the scan fallback) answers, value-identical
    # to stats_agg over the survivors — and proves it is manifest-only
    # by answering with the data gone
    import shutil

    want = stats_agg(raw.select("id", "v"), "v").collect()[0].asDict()
    fast = manifest_stats(spark, cat, cfg, "v")
    assert fast is not None
    assert fast.collect()[0].asDict() == want
    shutil.rmtree(join_path(cfg.path, entry.file_name))
    assert manifest_stats(spark, cat, cfg, "v").collect()[0].asDict() == want


def test_partial_merge_keeps_tombstone_pending(spark, _stats_index):
    """A tiered (max_segments) merge materializes the delete in what
    it rewrites but must NOT clear the tombstone — the untouched
    segment still holds matching rows; reads stay masked and a later
    full merge finishes the job."""
    from pyspark.sql import Row as R

    from toshokan_spark.indexer import write_segment
    from toshokan_spark.maintenance import merge_segments
    from toshokan_spark.search import search_df

    cat, cfg = _stats_index
    write_segment(cat, cfg, spark.createDataFrame([R(id=8, v=8.0)]))
    cat.add_delete("mstats", "id:>=3")
    merge_segments(spark, cat, "mstats", max_segments=2)
    assert len(cat.deletes("mstats")) == 1  # still pending
    assert sorted(
        r["id"]
        for r in search_df(spark, cat, "mstats", "*", limit=None).collect()
    ) == [1, 2]
    merge_segments(spark, cat, "mstats")
    assert cat.deletes("mstats") == []


def test_delete_wipe_merges_to_segment_removal(spark, _stats_index):
    """A match-all tombstone wipes everything: the merge returns None,
    removes every covered segment, and leaves an empty index (no
    unreadable zero-row parquet is ever manifested)."""
    from toshokan_spark.maintenance import merge_segments
    from toshokan_spark.search import search_df

    cat, cfg = _stats_index
    cat.add_delete("mstats", "*")
    assert merge_segments(spark, cat, "mstats") is None
    assert cat.segments("mstats") == [] and cat.deletes("mstats") == []
    assert search_df(spark, cat, "mstats", "*", limit=None).count() == 0


def test_delete_null_predicate_rows_survive(spark, _stats_index):
    """SQL DELETE semantics: only rows where the tombstone predicate
    is TRUE go. A row where it evaluates NULL (v IS NULL under
    ``v:>=0``) must survive both the read-time mask AND the physical
    merge — the pre-fix behavior (`AND NOT p` without coalesce)
    over-deleted every NULL-predicate row (ADVICE r9 high)."""
    from toshokan_spark.maintenance import merge_segments
    from toshokan_spark.search import search_df

    cat, cfg = _stats_index
    cat.add_delete("mstats", "v:>=0")  # matches id 1 (1.25), 4 (100.125)
    ids = lambda: sorted(
        r["id"]
        for r in search_df(spark, cat, "mstats", "*", limit=None).collect()
    )
    assert ids() == [2, 3]  # id 2 has v NULL -> survives
    entry = merge_segments(spark, cat, "mstats")
    assert entry.num_rows == 2 and ids() == [2, 3]


def test_alter_then_delete_destroys_nothing(spark, _stats_index):
    """A delete-by-query on an alter-added field absent from every
    segment compiles to a typed NULL ("matches nothing",
    query.py) — the tombstone must mask NOTHING, and a merge must
    not wipe the index (the pre-fix worst case: NULL negated masked
    every row and the merge destroyed the whole index)."""
    from dataclasses import replace

    from toshokan_spark.config import FieldConfig
    from toshokan_spark.maintenance import merge_segments
    from toshokan_spark.search import search_df

    cat, cfg = _stats_index
    cat.update_index(replace(
        cfg, fields=cfg.fields + [
            FieldConfig(name="score", type="number", number_type="f64")
        ]
    ))
    cat.add_delete("mstats", "score:>0")
    ids = lambda: sorted(
        r["id"]
        for r in search_df(spark, cat, "mstats", "*", limit=None).collect()
    )
    assert ids() == [1, 2, 3, 4]
    entry = merge_segments(spark, cat, "mstats")
    assert entry is not None and entry.num_rows == 4
    assert ids() == [1, 2, 3, 4]


def test_percentiles_by_group_discrete(spark):
    """Per-group discrete percentiles: each group's answer is an
    element of ITS OWN sorted multiset at rank ceil(p*n)."""
    from toshokan_spark.search import percentiles_by

    rows = [Row(g="a", v=float(x)) for x in (10, 20, 30, 40)] + [
        Row(g="b", v=5.0)
    ]
    out = {
        r["g"]: (r["n_values"], r["p50"], r["p95"])
        for r in percentiles_by(
            spark.createDataFrame(rows), "g", "v"
        ).collect()
    }
    assert out["a"] == (4, 20.0, 40.0)  # ceil(.5*4)=2 -> 20; ceil(3.8)=4
    assert out["b"] == (1, 5.0, 5.0)


def test_delete_merge_materializes_partitioned_layout(spark, tmp_path):
    """Delete materialization through the PARTITIONED merge branch
    (__day repartition + partitionBy write): survivors only, layout
    preserved, tombstone cleared, pruning still works post-merge."""
    from datetime import datetime

    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.config import FieldConfig, IndexConfig
    from toshokan_spark.indexer import write_segment
    from toshokan_spark.maintenance import create_index, merge_segments
    from toshokan_spark.search import search_df

    cat = FsCatalog(str(tmp_path / "cat"))
    cfg = IndexConfig(
        name="pdel", path=str(tmp_path / "d" / "pdel"), time_field="ts",
        fields=[
            FieldConfig(name="id", type="number"),
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(name="sev", type="text", tokenizer="raw"),
        ],
    )
    create_index(cat, cfg)
    rows1 = [
        Row(id=1, ts=datetime(2016, 4, 13, 6), sev="INFO"),
        Row(id=2, ts=datetime(2016, 4, 13, 7), sev="ERROR"),
    ]
    rows2 = [
        Row(id=3, ts=datetime(2016, 4, 14, 6), sev="ERROR"),
        Row(id=4, ts=datetime(2016, 4, 14, 7), sev="INFO"),
    ]
    write_segment(cat, cfg, spark.createDataFrame(rows1))
    write_segment(cat, cfg, spark.createDataFrame(rows2))
    cat.add_delete("pdel", "sev:ERROR")
    entry = merge_segments(spark, cat, "pdel")
    assert entry.num_rows == 2 and cat.deletes("pdel") == []
    # the merged segment keeps the __day layout (both days present)
    from toshokan_spark.storage import join_path

    raw = spark.read.parquet(join_path(cfg.path, entry.file_name))
    assert "__day" in raw.columns
    assert sorted(str(r["__day"]) for r in raw.select("__day").collect()) \
        == ["2016-04-13", "2016-04-14"]
    # day-bounded search post-merge still prunes/answers correctly
    out = search_df(
        spark, cat, "pdel",
        'ts:[2016-04-14T00:00:00Z TO 2016-04-15T00:00:00Z}', limit=None,
    )
    assert [r["id"] for r in out.collect()] == [4]


def test_swap_never_clears_tombstones_past_uncovered_segments(spark, _stats_index):
    """Coverage is re-checked AT SWAP TIME: a segment committed while
    a merge ran (and thus never filtered by it) keeps the tombstone
    pending — clearing would resurface its matching rows."""
    from pyspark.sql import Row as R

    from toshokan_spark.catalog import SegmentEntry, uuid7
    from toshokan_spark.indexer import write_segment

    cat, cfg = _stats_index
    d = cat.add_delete("mstats", "id:>=3")
    seg_ids = [s.id for s in cat.segments("mstats")]
    # simulate the concurrent commit landing between the merge's read
    # and its swap: a third segment exists at swap time
    write_segment(cat, cfg, spark.createDataFrame([R(id=9, v=1.0)]))
    fake = SegmentEntry(id=uuid7(), file_name="seg-fake", num_rows=2,
                        created_at_ms=0)
    cat.swap_segments("mstats", seg_ids, fake, clear_delete_ids=[d.id])
    assert [x.id for x in cat.deletes("mstats")] == [d.id]  # still pending


def test_query_on_alter_added_field_matches_nothing(spark, _stats_index):
    """A field appended by alter, before any new-schema segment
    exists, compiles to a typed NULL: predicates on it match nothing
    instead of raising UNRESOLVED_COLUMN."""
    from dataclasses import replace

    from toshokan_spark.config import FieldConfig
    from toshokan_spark.search import search_df

    cat, cfg = _stats_index
    new_cfg = replace(
        cfg, fields=cfg.fields + [
            FieldConfig(name="score", type="number", number_type="f64")
        ]
    )
    cat.update_index(new_cfg)
    out = search_df(spark, cat, "mstats", "score:>0", limit=None)
    assert out.count() == 0
    # and the untouched fields still work
    assert search_df(spark, cat, "mstats", "id:>=3", limit=None).count() == 2


def test_manifest_stats_honors_at_version_and_null_empty_sum(spark, tmp_path):
    """manifest_stats(at_version) answers from THAT snapshot's
    segments/deletes; an all-null value column reports sum/avg NULL —
    exactly what the scan path computes, not 0.0."""
    from pyspark.sql import Row as R

    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.config import FieldConfig, IndexConfig
    from toshokan_spark.indexer import write_segment
    from toshokan_spark.maintenance import create_index
    from toshokan_spark.search import manifest_stats, stats_agg

    cat = FsCatalog(str(tmp_path / "cat"))
    cfg = IndexConfig(
        name="mv", path=str(tmp_path / "d" / "mv"),
        fields=[FieldConfig(name="id", type="number"),
                FieldConfig(name="v", type="number", number_type="f64")],
    )
    create_index(cat, cfg)  # v1
    allnull = spark.createDataFrame(
        [(1, None), (2, None)], "id long, v double"
    )
    write_segment(cat, cfg, allnull)                 # v2: all-null v
    v2 = cat.versions("mv")[-1]
    write_segment(cat, cfg, spark.createDataFrame([R(id=3, v=7.5)]))  # v3

    at2 = manifest_stats(spark, cat, cfg, "v", at_version=v2).collect()[0]
    want = stats_agg(allnull, "v").collect()[0]
    assert at2.asDict() == want.asDict()
    assert at2["n_hits"] == 2 and at2["sum_v"] is None and at2["avg_v"] is None
    latest = manifest_stats(spark, cat, cfg, "v").collect()[0]
    assert latest["n_hits"] == 3 and latest["sum_v"] == 7.5


def test_percentiles_approx_exact_below_accuracy_and_bounded_above(spark):
    """The GK guarantee, tested both ways: with n <= accuracy the
    summary never compresses and percentile_approx EQUALS
    percentile_disc element-for-element; with accuracy << n the
    returned value's RANK must be within n/accuracy of the true
    percentile rank (the documented error bound)."""
    import random

    from toshokan_spark.search import (
        percentiles_agg,
        percentiles_agg_approx,
        percentiles_by,
        percentiles_by_approx,
    )

    rng = random.Random(7)
    vals = [round(rng.uniform(0, 1000), 2) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")

    exact = percentiles_agg(df, "v").collect()[0].asDict()
    approx = percentiles_agg_approx(df, "v", accuracy=10000).collect()[0].asDict()
    assert approx == exact  # n=5000 < accuracy -> bit-equal

    loose = percentiles_agg_approx(df, "v", accuracy=100).collect()[0].asDict()
    svals = sorted(vals)
    n = len(svals)
    bound = n / 100  # rank error <= n/accuracy
    for p in (0.25, 0.5, 0.75, 0.9, 0.99):
        key = f"p{str(p).replace('0.', '').ljust(2, '0')}"
        got = loose[key]
        assert got in vals, "approx must return an actual element"
        import math

        true_rank = math.ceil(p * n)
        got_rank_lo = svals.index(got) + 1
        got_rank_hi = n - svals[::-1].index(got)
        err = min(abs(got_rank_lo - true_rank), abs(got_rank_hi - true_rank))
        assert err <= bound + 1, (key, got, err, bound)

    # grouped twin: same equivalence per group below accuracy
    gdf = spark.createDataFrame(
        [("a" if i % 2 else "b", v) for i, v in enumerate(vals)],
        "g string, v double",
    )
    ex = {r["g"]: r.asDict() for r in percentiles_by(gdf, "g", "v").collect()}
    ap = {
        r["g"]: r.asDict()
        for r in percentiles_by_approx(gdf, "g", "v", accuracy=10000).collect()
    }
    assert ap == ex


def test_cardinality_sketch_only_values(spark):
    """Sketch-only output drops the exact column; above k the
    estimate equals the combined mode's, below k it answers with the
    bottom-k size (= exact distinct modulo hash collisions)."""
    from toshokan_spark.search import cardinality_agg

    df = spark.createDataFrame(
        [(i % 300,) for i in range(2000)], "u long"
    )
    both = cardinality_agg(df, "u", k=64).collect()[0].asDict()
    sk = cardinality_agg(df, "u", k=64, sketch_only=True).collect()[0].asDict()
    assert set(sk) == {"n_hits", "kmv_estimate"}
    assert sk["n_hits"] == both["n_hits"] == 2000
    assert sk["kmv_estimate"] == both["kmv_estimate"]  # 300 > k: estimator path
    small = cardinality_agg(
        df.limit(40), "u", k=64, sketch_only=True
    ).collect()[0].asDict()
    assert small["kmv_estimate"] == 40.0  # below k: bottom-k size IS the count


def test_c4_line_filters_rules(spark):
    """C4 line rules on synthetic docs covering every branch the
    driver corpus never exercises (no '{' or 'lorem ipsum' there):
    line keep = >=3 words AND terminal punctuation; page drops on
    brace / placeholder text / sentence floor."""
    clean = "This is a full sentence.\nAnother proper line here!\nAnd a third one?"
    braced = "A config snippet follows.\nfunction f() { return 1; }\nDone now. Or so. Yes."
    lorem = "Lorem Ipsum dolor sit amet. Filler text here. More filler text."
    fragments = "no punct line here\nshort.\nok then fine"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=clean), Row(doc_id=2, text=braced),
         Row(doc_id=3, text=lorem), Row(doc_id=4, text=fragments),
         Row(doc_id=5, text=None)]
    )
    got = {r.doc_id: r for r in textops.c4_line_filters(df).collect()}
    assert got[1].n_lines == 3 and got[1].n_kept == 3 and got[1].passes
    assert got[1].line_keep_frac == 1.0 and got[1].n_sentences == 3
    # brace page: lines may survive but the page-level drop fires
    assert got[2].has_brace and not got[2].passes
    # placeholder page: case-insensitive match, page dropped
    assert got[3].has_lorem and not got[3].passes
    # fragments: 'no punct line here' fails punctuation, 'short.'
    # fails the 3-word floor, 'ok then fine' fails punctuation
    assert got[4].n_lines == 3 and got[4].n_kept == 0
    assert not got[4].passes
    # null text: zero everything, fails, never crashes
    assert got[5].n_lines == 0 and not got[5].passes


def test_weighted_avg_mad_adjacency_null_semantics(spark):
    """The ES metric panels on edge inputs the driver corpus never
    produces: NULL values/weights drop from BOTH weighted-avg sums,
    an all-zero weight sum yields NULL (not a division error), and
    MAD is exact on an even-count multiset (percentile_disc takes the
    lower median element)."""
    from toshokan_spark.search import (
        adjacency_matrix_agg,
        mad_agg,
        weighted_avg_agg,
    )

    df = spark.createDataFrame(
        [Row(v=10.0, w=1.0), Row(v=20.0, w=3.0),
         Row(v=None, w=5.0), Row(v=30.0, w=None)]
    )
    r = weighted_avg_agg(df, "v", "w").collect()[0]
    # only the two fully-populated rows count: (10*1 + 20*3) / 4
    assert r.n_values == 2 and r.total_weight == 4.0
    assert r.weighted_avg == 17.5

    z = spark.createDataFrame([Row(v=10.0, w=0.0), Row(v=20.0, w=0.0)])
    assert weighted_avg_agg(z, "v", "w").collect()[0].weighted_avg is None

    m = spark.createDataFrame([Row(v=float(x)) for x in (1, 2, 8, 9)])
    got = mad_agg(m, "v").collect()[0]
    # percentile_disc(0.5) of [1,2,8,9] = 2; |x-2| = [1,0,6,7] -> 1
    assert got.median_v == 2.0 and got.mad == 1.0 and got.n_values == 4


@pytest.fixture()
def _hist_index(spark, tmp_path):
    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.config import FieldConfig, IndexConfig
    from toshokan_spark.indexer import write_segment
    from toshokan_spark.maintenance import create_index

    cat = FsCatalog(str(tmp_path / "cat"))
    cfg = IndexConfig(
        name="mhist",
        path=str(tmp_path / "data" / "mhist"),
        fields=[
            FieldConfig(name="id", type="number", number_type="i64"),
            FieldConfig(
                name="v", type="number", number_type="f64",
                histogram_bin=10.0,
            ),
        ],
    )
    create_index(cat, cfg)
    write_segment(
        cat, cfg,
        spark.createDataFrame(
            [Row(id=1, v=1.0), Row(id=2, v=15.0), Row(id=3, v=None)]
        ),
    )
    write_segment(
        cat, cfg,
        spark.createDataFrame(
            [Row(id=4, v=-3.0), Row(id=5, v=17.5), Row(id=6, v=101.0)]
        ),
    )
    return cat, cfg


def test_manifest_histogram_zero_scans_and_exactness(spark, _hist_index):
    """Match-all histogram from the manifest equals histogram_agg over
    the data exactly (bins were computed with ITS floor expression at
    commit) — and still answers after the data files are DELETED, the
    proof it never scans."""
    import shutil

    from toshokan_spark.search import histogram_agg, manifest_histogram

    cat, cfg = _hist_index
    rows = [
        Row(v=1.0), Row(v=15.0), Row(v=None),
        Row(v=-3.0), Row(v=17.5), Row(v=101.0),
    ]
    want = sorted(
        (r.asDict() for r in
         histogram_agg(spark.createDataFrame(rows), "v", 10.0).collect()),
        key=lambda d: d["bucket_lo"],
    )
    got = sorted(
        (r.asDict() for r in
         manifest_histogram(spark, cat, cfg, "v", 10.0).collect()),
        key=lambda d: d["bucket_lo"],
    )
    assert got == want
    # negative values floor LEFT (-3 -> -10 bucket), nulls dropped
    assert got[0]["bucket_lo"] == -10.0 and got[0]["n_hits"] == 1

    shutil.rmtree(cfg.path)
    still = sorted(
        (r.asDict() for r in
         manifest_histogram(spark, cat, cfg, "v", 10.0).collect()),
        key=lambda d: d["bucket_lo"],
    )
    assert still == want


def test_manifest_histogram_width_mismatch_and_deletes_fall_back(
    spark, _hist_index
):
    """The fast path answers the RECORDED grid or not at all: a
    different requested width returns None, and pending deletes
    return None (commit-time bins count masked rows) until a merge
    materializes them — after which it answers again from the
    survivor-recorded bins."""
    from toshokan_spark.maintenance import merge_segments
    from toshokan_spark.search import manifest_histogram

    cat, cfg = _hist_index
    assert manifest_histogram(spark, cat, cfg, "v", 25.0) is None
    assert manifest_histogram(spark, cat, cfg, "nope", 10.0) is None

    cat.add_delete(cfg.name, "v:>=100")
    assert manifest_histogram(spark, cat, cfg, "v", 10.0) is None

    merge_segments(spark, cat, cfg.name)
    got = {
        r["bucket_lo"]: r["n_hits"]
        for r in manifest_histogram(spark, cat, cfg, "v", 10.0).collect()
    }
    # 101.0 was deleted and materialized away; survivors re-recorded
    assert 100.0 not in got
    assert got == {-10.0: 1, 0.0: 1, 10.0: 2}


def test_manifest_histogram_merge_combines_bins_additively(
    spark, _hist_index
):
    """A plain (no-delete) merge adds bin counts across inputs —
    the panel is unchanged across compaction."""
    from toshokan_spark.maintenance import merge_segments
    from toshokan_spark.search import manifest_histogram

    cat, cfg = _hist_index
    before = sorted(
        (tuple(r) for r in
         manifest_histogram(spark, cat, cfg, "v", 10.0).collect())
    )
    merge_segments(spark, cat, cfg.name)
    (seg,) = cat.segments(cfg.name)
    assert seg.field_histograms["v"]["w"] == 10.0
    after = sorted(
        (tuple(r) for r in
         manifest_histogram(spark, cat, cfg, "v", 10.0).collect())
    )
    assert after == before


def test_phrase_prefix_positional_paths(spark):
    """The positional startswith chain on stemmed fields (stems for
    leading words, UNSTEMMED case-folded prefix) and the raw-field
    whole-value startswith — branches the driver corpus's default-
    tokenizer entry never takes."""
    from toshokan_spark.config import FieldConfig, IndexConfig
    from toshokan_spark.functions.tokenizers import tokenize
    from toshokan_spark.ingest import tokens_col
    from toshokan_spark.query import compile_query

    cfg = IndexConfig(
        name="pp", path="",
        fields=[
            FieldConfig(name="body", type="text", tokenizer="en_stem"),
            FieldConfig(name="tag", type="text", tokenizer="raw"),
        ],
    )
    # real segments carry the tokenized shadow column (ingest writes
    # it) — the stem UDF cannot legally appear INSIDE a higher-order
    # lambda, so the matcher must consume the materialized attribute,
    # exactly as it does over indexed data
    df = spark.createDataFrame([
        Row(body="connections terminating shortly", tag="alpha-one"),
        Row(body="connection keeps running", tag="beta-two"),
        Row(body="terminated connection", tag=None),
    ]).withColumn(tokens_col("body"), tokenize(F.col("body"), "en_stem"))
    cols = set(df.columns)

    def hits(q):
        return sorted(r.tag for r in
                      df.filter(compile_query(q, cfg, cols)).collect()
                      if r.tag)

    # stems match the lead word; the prefix matches the stem token
    assert hits('body:"connections term"*') == ["alpha-one"]
    # adjacency holds: 'keeps' -> stem 'keep', prefix of stem 'run'
    assert hits('body:"keeps ru"*') == ["beta-two"]
    # NOT adjacent ('keeps' intervenes) -> no match; and a prefix
    # longer than the stem ('runn' vs stem 'run') cannot match — the
    # documented Lucene stemming/prefix interaction
    assert hits('body:"connection runn"*') == []
    # raw field: whole-value prefix
    assert hits('tag:"alpha"*') == ["alpha-one"]
    assert hits('tag:"alpha-one-x"*') == []


def test_knn_ivf_pq_persisted_codes_excludes_query(spark):
    """The persisted-index path must never return the query vector
    itself (ADVICE r12: only the ad-hoc build filtered it, so an
    index built over the FULL corpus — the normal persisted layout —
    put the query at rank 1 and the two documented-equivalent paths
    disagreed). Both paths must return the identical top-k."""
    from pyspark.sql import Row

    from toshokan_spark.operators import similarity as sim

    rows = [
        Row(vec_id=i, embedding=[float((i * 7 + j * 3) % 10) / 10.0
                                 for j in range(8)])
        for i in range(24)
    ]
    emb = spark.createDataFrame(rows)
    cents = sim.seed_ivf_centroids(emb, num_centroids=4)
    cb = sim.pq_codebook(emb, m_subspaces=4, n_codewords=8)
    # persisted layout: codes over the FULL corpus, query included
    full_codes = sim.pq_encode(emb, cb).join(
        sim.assign_ivf(emb, cents).select(
            F.col("neighbor_id").alias("vec_id"), "cid"
        ),
        "vec_id",
    )
    persisted = sim.knn_ivf_pq(
        emb, query_id=5, k=5, centroids=cents, codebook=cb,
        codes=full_codes,
    ).collect()
    adhoc = sim.knn_ivf_pq(
        emb, query_id=5, k=5, centroids=cents, codebook=cb,
    ).collect()
    got_p = [(r.vec_id, r.adc_dist, r.rank) for r in persisted]
    got_a = [(r.vec_id, r.adc_dist, r.rank) for r in adhoc]
    assert all(v != 5 for v, _d, _r in got_p)
    assert got_p == got_a


def test_langid_classifier_xxhash_default_model_consistent(spark):
    """hash_family='xxhash' with the DEFAULT model must build the
    model in the same hash space (ADVICE r12: the default model was
    always poly-hashed, so xxhash callers scored documents against
    mismatched buckets — garbage predictions instead of an error).
    Both families must discriminate the same obvious documents."""
    from pyspark.sql import Row

    from toshokan_spark.operators.text import langid_classifier

    docs = spark.createDataFrame([
        Row(doc_id=1, text="the cat and the dog is in that house for it"),
        Row(doc_id=2, text="der Hund und die Katze ist nicht mit ein Buch"),
        Row(doc_id=3, text="el perro y la casa de los gatos en un lugar"),
    ])
    for fam in ("poly", "xxhash"):
        got = {
            r.doc_id: r.lang_pred
            for r in langid_classifier(docs, hash_family=fam).collect()
        }
        assert got == {1: "en", 2: "de", 3: "es"}, fam


def test_langid_classifier_persist_features_identical(spark):
    """persist_features=True (the production setting at scale —
    NEGRESULT_SF1.json measured the r16 recompute-beats-cache finding
    flipping at sf1) only changes execution, never results: the two
    paths are row-identical, and the feature cache is released (no
    CacheManager leak)."""
    from pyspark.sql import Row

    from toshokan_spark.operators.text import langid_classifier

    docs = spark.createDataFrame([
        Row(doc_id=1, text="the cat and the dog is in that house for it"),
        Row(doc_id=2, text="der Hund und die Katze ist nicht mit ein Buch"),
        Row(doc_id=3, text="el perro y la casa de los gatos en un lugar"),
        Row(doc_id=4, text=""),
    ])
    plain = sorted(map(tuple, langid_classifier(docs).collect()))
    cached = sorted(map(tuple, langid_classifier(
        docs, persist_features=True).collect()))
    assert plain == cached
    # the repo's r8 leak discipline is about CacheManager entries
    # (the localCheckpoint's RDD blocks are plan-referenced and freed
    # by the ContextCleaner, so they don't count)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "feature cache leaked a CacheManager entry"


def test_hard_negatives_label_mismatch_and_order(spark):
    """Every mined negative has a different label from its anchor,
    the anchor itself never appears, and per-anchor ranks are
    contiguous descending-score order."""
    from pyspark.sql import Row

    from toshokan_spark.operators import similarity as sim

    rows = [
        Row(vec_id=i, embedding=[float((i * 3 + j) % 5) for j in range(4)],
            label=i % 3)
        for i in range(12)
    ]
    emb = spark.createDataFrame(rows)
    anchors = emb.filter(F.col("vec_id") < 2)
    out = sim.hard_negatives(emb, anchors, k=4).collect()
    by_anchor = {}
    for r in out:
        assert r.neighbor_label != r.anchor_label
        assert r.neighbor_id != r.anchor_id
        by_anchor.setdefault(r.anchor_id, []).append((r.rank, r.score))
    for aid, rs in by_anchor.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
        scores = [x[1] for x in rs]
        assert scores == sorted(scores, reverse=True)


def test_knn_pq_rerank_subset_of_candidates_and_exact_order(spark):
    """The refined top-k is drawn from the PQ candidate shortlist and
    is ordered by EXACT distance (which may disagree with ADC order —
    the whole point of the refine stage); expand=N/k degenerates to
    exact brute-force order."""
    from pyspark.sql import Row

    from toshokan_spark.operators import similarity as sim

    rows = [
        Row(vec_id=i, embedding=[float((i * 7 + j * 3) % 11) / 11.0
                                 for j in range(8)])
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows)
    cands = {
        r.vec_id
        for r in sim.knn_pq(emb, 0, k=12, m_subspaces=4,
                            n_codewords=8).collect()
    }
    out = sim.knn_pq_rerank(emb, 0, k=4, expand=3, m_subspaces=4,
                            n_codewords=8).collect()
    assert {r.vec_id for r in out} <= cands
    l2s = [r.exact_l2 for r in sorted(out, key=lambda r: r.rank)]
    assert l2s == sorted(l2s)
    # shortlist = whole corpus -> exact brute-force top-k
    full = sim.knn_pq_rerank(emb, 0, k=3, expand=7, m_subspaces=4,
                             n_codewords=8).collect()
    import math

    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    q = rows[0].embedding
    want = sorted(
        ((round(l2(r.embedding, q), 6), r.vec_id) for r in rows[1:]),
    )[:3]
    got = [(r.exact_l2, r.vec_id) for r in sorted(full, key=lambda r: r.rank)]
    assert got == want


def test_sketch_set_ops_exact_below_k_and_disjoint(spark):
    """Below k the sketches ARE the distinct hash sets: estimates
    equal exact counts; disjoint audiences estimate zero
    intersection."""
    from toshokan_spark.search import sketch_set_ops

    a = spark.createDataFrame([(i,) for i in range(10)], "user_id long")
    b = spark.createDataFrame([(i,) for i in range(5, 20)], "user_id long")
    r = sketch_set_ops(a, b, "user_id", k=64).collect()[0]
    assert (r.n_a, r.n_b, r.n_inter, r.n_union) == (10, 15, 5, 20)
    assert r.kmv_union == 20.0
    assert r.kmv_intersection == 5.0
    c = spark.createDataFrame([(i,) for i in range(100, 110)],
                              "user_id long")
    r2 = sketch_set_ops(a, c, "user_id", k=64).collect()[0]
    assert r2.n_inter == 0 and r2.kmv_intersection == 0.0


def test_collapse_agg_one_per_group_with_counts(spark):
    """One winner per field value (best sort, id tiebreak), group
    count carried, collapsed list ordered by winning sort value."""
    from toshokan_spark.search import collapse_agg

    rows = [
        (1, 10, 5.0), (2, 10, 9.0), (3, 10, 9.0),   # group 10: winner 2
        (4, 20, 7.0),                                # group 20: winner 4
        (5, 30, 8.0), (6, 30, 1.0),                  # group 30: winner 5
    ]
    df = spark.createDataFrame(rows, "event_id long, grp long, v double")
    out = [
        (r.grp, r.event_id, r.v, r.n_in_group)
        for r in collapse_agg(df, "grp", "v", "event_id", limit=10).collect()
    ]
    assert out == [(10, 2, 9.0, 3), (30, 5, 8.0, 2), (20, 4, 7.0, 1)]


def test_rank_eval_hand_case(spark):
    """5-deep ranking, 3 relevant docs (ranks 1 and 3 retrieved):
    p@5=0.4, recall=2/3, MRR=1, NDCG = (1 + 0.5) / (1 + 1/log2(3) +
    0.5) — verified against the hand computation."""
    from toshokan_spark.search import rank_eval

    ranked = spark.createDataFrame(
        [(i, i) for i in range(1, 6)], "rank long, doc_id long")
    judg = spark.createDataFrame(
        [(1, True), (3, True), (7, True)], "doc_id long, relevant boolean")
    r = rank_eval(ranked, judg, k=5).collect()[0]
    assert (r.n_relevant, r.n_retrieved_relevant) == (3, 2)
    assert r.precision_at_k == 0.4
    assert r.recall_at_k == 0.666667
    assert r.mrr == 1.0
    import math
    want = round((1.0 + 0.5) / (1.0 + 1.0 / math.log2(3) + 0.5), 6)
    assert r.ndcg_at_k == want
    # no relevant docs at all -> all-zero metrics, no div-by-zero
    none = spark.createDataFrame([(9, False)], "doc_id long, relevant boolean")
    z = rank_eval(ranked, none, k=5).collect()[0]
    assert (z.recall_at_k, z.mrr, z.ndcg_at_k) == (0.0, 0.0, 0.0)


def test_terms_error_bounds_semantics(spark):
    """A term reported by EVERY shard has bound 0 only if every other
    shard's cut-off is covered; a term missing from a shard's top
    list is bounded by that shard's cut-off; a shard returning all
    its terms hides nothing."""
    from toshokan_spark.search import terms_with_error_bounds

    rows = (
        # shard 0: a x4, b x3, c x2, d x1  (top-2 = a,b; cut-off 3)
        [("a", 0)] * 4 + [("b", 0)] * 3 + [("c", 0)] * 2 + [("d", 0)]
        # shard 1: c x5, a x2 (exactly shard_size terms — CANNOT be
        # known exhausted, so its cut-off 2 still bounds)
        + [("c", 1)] * 5 + [("a", 1)] * 2
        # shard 2: e x1 (FEWER than shard_size -> provably
        # exhausted, hides nothing)
        + [("e", 2)]
    )
    df = spark.createDataFrame(rows, "term string, s int")
    got = {
        r.term: (r.doc_count, r.doc_count_error_upper_bound)
        for r in terms_with_error_bounds(
            df, "term", "s", k=5, shard_size=2
        ).collect()
    }
    # shard 0 reports a(4), b(3), cut 3; shard 1 reports c(5), a(2),
    # cut 2; shard 2 reports e(1), cut 0 (exhausted)
    # a: reported by 0 and 1, missing only from exhausted shard 2 -> 0
    # c: missing from shard 0's list -> bound 3
    # b: missing from shard 1's list -> bound 2 (1 might hide a 'b')
    # e: missing from both cut shards -> bound 3 + 2 = 5
    assert got == {"a": (6, 0), "c": (5, 3), "b": (3, 2), "e": (1, 5)}


def test_matryoshka_recall_full_prefix_is_perfect(spark):
    """Recall at the FULL dimensionality is exactly 1.0 for every
    query (the sliced pass degenerates to ground truth), and every
    (dims, query) pair appears exactly once."""
    from pyspark.sql import Row

    from toshokan_spark.operators import similarity as sim

    rows = [
        Row(vec_id=i, embedding=[float((i * 5 + j * 2) % 7) for j in range(8)])
        for i in range(15)
    ]
    emb = spark.createDataFrame(rows)
    qs = emb.filter(F.col("vec_id") < 3)
    out = sim.matryoshka_recall(emb, qs, k=4, prefix_dims=(4, 8)).collect()
    assert len(out) == 6
    full = [r for r in out if r.dims == 8]
    assert all(r.recall == 1.0 and r.n_hits == 4 for r in full)


def test_suggest_and_spell_correct(spark):
    """Suggest: prefix-filtered df ranking, each doc votes once per
    distinct token. Spell: distance-first ranking — a closer rare
    token beats a farther frequent one; the probe term itself never
    returns."""
    from pyspark.sql import Row

    from toshokan_spark.search import spell_correct, suggest_completions

    docs = spark.createDataFrame([
        Row(doc_id=1, text="spark spark sort small"),  # spark counted once
        Row(doc_id=2, text="spark sort"),
        Row(doc_id=3, text="sort"),
        Row(doc_id=4, text="value table table"),
    ])
    sug = [(r.term, r.df) for r in
           suggest_completions(docs, "text", "s", k=10).collect()]
    assert sug == [("sort", 3), ("spark", 2), ("small", 1)]
    fix = [(r.term, r.dist, r.df) for r in
           spell_correct(docs, "text", "vale", k=5).collect()]
    # value: dist 1 (df 1); table: dist 2 (df 1)
    assert fix == [("value", 1, 1), ("table", 2, 1)]
    # probe equal to a vocab term: suggests OTHER corrections only
    fix2 = [r.term for r in spell_correct(docs, "text", "sort", k=5).collect()]
    assert "sort" not in fix2


def test_sibling_bucket_aggs_extremes_and_ties(spark):
    """max/min carry the achieving bucket with ties to the EARLIEST
    bucket; avg/sum are decimal-exact over the bucket frame."""
    from toshokan_spark.search import sibling_bucket_aggs

    rows = [
        (0, 10.0), (0, 10.0),      # bucket 0: 20
        (3600, 30.0),              # bucket 3600: 30 (max)
        (7200, 30.0),              # bucket 7200: 30 (tie -> earlier wins)
        (10800, 5.0),              # bucket 10800: 5 (min)
    ]
    df = spark.createDataFrame(rows, "sec long, value double").select(
        F.timestamp_seconds(F.col("sec")).alias("ts"), "value")
    r = sibling_bucket_aggs(df, "ts", 3600, "value").collect()[0]
    assert r.n_buckets == 4
    assert r.sum_bucket == 85.0
    assert r.avg_bucket == 21.25
    assert (r.max_bucket_value, r.max_bucket_epoch) == (30.0, 3600)
    assert (r.min_bucket_value, r.min_bucket_epoch) == (5.0, 10800)


def test_regex_query_semantics(spark):
    """field:/re/ full-matches (anchored like Lucene's automaton):
    raw-tokenizer fields match the whole value, default-tokenizer
    fields match SOME analyzed token, numeric targets match their
    string rendering, and nulls never match."""
    import __spark_entry__ as e
    from toshokan_spark.query import compile_query

    docs = spark.createDataFrame(
        [(1, "the quick brown fox", "en"),
         (2, "clicked link", "es"),
         (3, "nothing here", None)],
        "doc_id long, text string, lang string",
    )
    cfg = e.DOCS_CONFIG

    def hit(q):
        return sorted(
            r.doc_id for r in
            docs.filter(compile_query(q, cfg, set(docs.columns))).collect()
        )

    assert hit("lang:/e[ns]/") == [1, 2]
    # anchored: 'e' alone must NOT match 'en'/'es'
    assert hit("lang:/e/") == []
    # token-level on analyzed text: 'qu.ck' matches doc 1's token
    assert hit("text:/qu.ck/") == [1]
    # substring without wildcards does not match a longer token
    assert hit("text:/lick/") == []
    assert hit("doc_id:/[12]/") == [1, 2]
    # composes with must_not
    assert hit("text:/.*i.*/ AND NOT lang:/es/") == [1, 3]


def test_wildcard_query_semantics(spark):
    """field:w?ldc*rd lowers to the anchored token regex: ? is one
    char, * any run, every other metachar literal; uppercase glob
    text case-folds like a term; unfielded globs fan out over the
    indexed text fields plus _dynamic."""
    import __spark_entry__ as e
    from toshokan_spark.query import compile_query

    docs = spark.createDataFrame(
        [(1, "the quick brown fox", "en"),
         (2, "clicked link", "es"),
         (3, "nothing here", None)],
        "doc_id long, text string, lang string",
    )
    cfg = e.DOCS_CONFIG

    def hit(q):
        return sorted(
            r.doc_id for r in
            docs.filter(compile_query(q, cfg, set(docs.columns))).collect()
        )

    assert hit("text:qu?ck") == [1]
    assert hit("text:cl*ed") == [2]
    # anchored: the glob must cover the WHOLE token
    assert hit("text:lick*") == []
    assert hit("text:*lick*") == [2]
    # ? is exactly one char, not zero
    assert hit("text:quic?k") == []
    # glob text case-folds against lowercased index tokens...
    assert hit("text:QU?CK") == [1]
    assert hit("lang:e?") == [1, 2]
    # ...but stays exact-case on raw (keyword) fields, matching the
    # field's term-query semantics
    assert hit("lang:E?") == []
    # a dot in the glob is literal, not regex-any
    assert hit("text:qu.ck") == []
    # composes in boolean structure
    assert hit("text:*o*n* AND NOT lang:e?") == [3]


def test_percolate_overlaps_and_nonmatches(spark):
    """A doc matching several stored queries yields one row per
    match; a doc matching none yields nothing; bad query syntax
    surfaces as a parse error at registration, not at scan time."""
    import pytest as _pytest

    import __spark_entry__ as e
    from toshokan_spark.plans.ast import ParseError
    from toshokan_spark.search import percolate

    docs = spark.createDataFrame(
        [(1, "click", 500.0), (2, "error", 10.0), (3, "view", 20.0)],
        "event_id long, event_type string, value double",
    ).withColumn("ts", F.current_timestamp()).withColumn(
        "user_id", F.lit(1)).withColumn("props", F.lit("{}"))
    stored = [
        ("q_click", "event_type:click"),
        ("q_big", "value:>=100"),
        ("q_err", "event_type:error"),
    ]
    got = sorted(
        (r.event_id, r.query_id)
        for r in percolate(docs, stored, e.EVENTS_CONFIG,
                           "event_id").collect()
    )
    assert got == [(1, "q_click"), (1, "q_big"), (2, "q_err")] or got == sorted(
        [(1, "q_click"), (1, "q_big"), (2, "q_err")])
    assert (3, "q_click") not in got and all(i != 3 for i, _ in got)
    with _pytest.raises(ParseError):
        percolate(docs, [("bad", 'event_type:"unterminated')],
                  e.EVENTS_CONFIG, "event_id")


def test_percolate_500_standing_queries(spark, sf_dir):
    """Percolator width cliff guard (VERDICT r13 directive 6): an
    alerting system holds hundreds of standing queries, and the
    percolator evaluates ALL of them as one width-Q projection —
    wide CASE/WHEN chains risk Janino's 64KB method limit, which
    Spark works around by splitting generated methods (or falling
    back to interpreted eval); either way the plan must COMPLETE and
    stay one scan. 500 mixed-shape queries over events: bounded
    wall time, no join/exchange in the plan, and the width-Q result
    agrees with per-query filters on a sample.

    Build-vs-execute split (VERDICT r14 directive 5): the r14 shape
    compiled 500 Column trees at ~27 s of py4j-bound plan
    CONSTRUCTION against ~1.5 s execution at sf0.01 on local[32];
    with the SQL-text backend (query_sql.py, one parsed F.expr)
    construction measured 0.3-1.0 s — total recorded 2-3 s warm.
    Bound stays 60 s for CI headroom on a stalling host."""
    import time

    import __spark_entry__ as e
    from toshokan_spark.query import compile_query
    from toshokan_spark.search import percolate

    ev = e._t(spark, sf_dir, "events")
    types = ["click", "view", "signup", "error", "purchase"]
    stored = []
    for i in range(500):
        t = types[i % 5]
        lo = (i * 7) % 400
        if i % 3 == 0:
            stored.append((f"q{i:03d}", f"event_type:{t} AND value:>={lo}"))
        elif i % 3 == 1:
            stored.append((f"q{i:03d}", f"event_type:{t} OR value:<{lo}"))
        else:
            stored.append((f"q{i:03d}", f"value:[{lo} TO {lo + 50}]"))

    t0 = time.monotonic()
    out = percolate(ev, stored, e.EVENTS_CONFIG, "event_id")
    per_query = {
        r["query_id"]: r["n"]
        for r in out.groupBy("query_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    dt = time.monotonic() - t0
    assert dt < 60.0, f"width-500 percolation took {dt:.1f}s"

    phys = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert "Join" not in phys and "Exchange" not in phys, (
        "percolation must stay a single-scan projection")

    # spot-check 10 deterministic samples against direct filters
    cols = set(ev.columns)
    for i in range(0, 500, 50):
        qid, q = stored[i]
        expect = ev.filter(compile_query(q, e.EVENTS_CONFIG, cols)).count()
        assert per_query.get(qid, 0) == expect, (qid, q)


def test_matrix_stats_top_metrics_rate(spark):
    """ES matrix_stats / top_metrics / rate semantics on a hand-sized
    frame: population moments with exact-decimal sums; latest-per-
    group with explicit id tie-break; variable-length month buckets
    dividing by their own day count."""
    from datetime import datetime

    from toshokan_spark.search import (
        matrix_stats_agg,
        rate_agg,
        top_metrics_agg,
    )

    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0)], "x double, y double")
    m = {(r.field, r.other): r for r in
         matrix_stats_agg(df, ["x", "y"]).collect()}
    assert m[("x", "x")].n_values == 3
    assert m[("x", "x")].mean == 2.0
    # population variance of {1,2,3} = 2/3
    assert m[("x", "x")].variance == pytest.approx(2 / 3, abs=1e-6)
    # y = 2x exactly: correlation 1, covariance 2*var(x)
    assert m[("x", "y")].correlation == pytest.approx(1.0, abs=1e-6)
    assert m[("x", "y")].covariance == pytest.approx(4 / 3, abs=1e-6)
    # constant column: zero variance -> correlation NULL
    cdf = spark.createDataFrame([(1.0, 5.0), (2.0, 5.0)], "x double, y double")
    cm = {(r.field, r.other): r for r in
          matrix_stats_agg(cdf, ["x", "y"]).collect()}
    assert cm[("x", "y")].correlation is None
    # ADVICE r14 guards: an empty hit set yields ZERO pair rows (not
    # k*k nulls from 0/0 moments); duplicate field names would
    # corrupt the positional pair-key lookup, so they're rejected
    assert matrix_stats_agg(df.limit(0), ["x", "y"]).count() == 0
    with pytest.raises(ValueError, match="repeat"):
        matrix_stats_agg(df, ["x", "x"])

    ev = spark.createDataFrame(
        [("a", datetime(2024, 1, 1), 1, 10.0),
         ("a", datetime(2024, 1, 3), 2, 20.0),
         ("a", datetime(2024, 1, 3), 3, 30.0),   # ts tie -> larger id
         ("b", datetime(2024, 1, 2), 4, 40.0)],
        "g string, ts timestamp, id long, v double")
    top = {r.g: r for r in
           top_metrics_agg(ev, "g", "ts", ["v"], "id").collect()}
    assert top["a"].id == 3 and top["a"].v == 30.0
    assert top["b"].id == 4
    asc = {r.g: r for r in top_metrics_agg(
        ev, "g", "ts", ["v"], "id", descending=False).collect()}
    assert asc["a"].id == 1 and asc["a"].v == 10.0

    # rate: January (31d) and February 2024 (29d, leap) normalize by
    # their own lengths
    rdf = spark.createDataFrame(
        [(datetime(2024, 1, 10), 31.0), (datetime(2024, 1, 20), 31.0),
         (datetime(2024, 2, 5), 58.0)],
        "ts timestamp, v double")
    rates = {r.bucket.month: r.rate for r in
             rate_agg(rdf, "ts", value_col="v", bucket="month").collect()}
    assert rates[1] == pytest.approx(2.0, abs=1e-6)   # 62 over 31 days
    assert rates[2] == pytest.approx(2.0, abs=1e-6)   # 58 over 29 days
    with pytest.raises(ValueError):
        rate_agg(rdf, "ts", bucket="week")


def test_rate_agg_uses_actual_bucket_seconds(spark):
    """Review finding: every rate granularity divides by the bucket's
    ACTUAL elapsed seconds. On a DST-transition day the day bucket is
    23 h, so the per-hour rate divides by 23, not 24."""
    from datetime import datetime

    from toshokan_spark.search import rate_agg

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rdf = spark.createDataFrame(
            [(datetime(2024, 3, 10, 12, 0), 23.0),   # 23-hour DST day
             (datetime(2024, 3, 11, 12, 0), 24.0)],  # normal day
            "ts timestamp, v double")
        rates = {r.bucket.day: r.rate for r in rate_agg(
            rdf, "ts", value_col="v", bucket="day",
            unit_seconds=3600).collect()}
        assert rates[10] == pytest.approx(1.0, abs=1e-6)
        assert rates[11] == pytest.approx(1.0, abs=1e-6)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_pq_sql_expression_equivalence(spark):
    """The SQL-string PQ expression builders must produce byte-
    identical results to the Column-API fold they replaced (the
    rewrite bought a ~450x plan-construction speedup; this pins that
    it bought nothing else)."""
    import random

    from pyspark.sql import functions as F

    from toshokan_spark.operators.similarity import (
        _argmin_code_sql,
        _l2_sql,
        _l2_to_literal,
    )

    rng = random.Random(99)
    cw = [[rng.uniform(-2, 2) for _ in range(4)] for _ in range(6)]
    df = spark.createDataFrame(
        [(i, [rng.uniform(-2, 2) for _ in range(4)]) for i in range(50)],
        "id long, v array<double>",
    )
    old_d = _l2_to_literal(F.col("v"), cw[0])
    new_d = F.expr(_l2_sql("v", cw[0]))
    old_code = F.array_min(F.array(*[
        F.struct(_l2_to_literal(F.col("v"), c).alias("d"),
                 F.lit(j).alias("cid"))
        for j, c in enumerate(cw)
    ])).getField("cid")
    new_code = F.expr(_argmin_code_sql("v", cw))
    rows = df.select(
        "id", old_d.alias("od"), new_d.alias("nd"),
        old_code.alias("oc"), new_code.alias("nc"),
    ).collect()
    for r in rows:
        assert r.od == r.nd          # bit-identical doubles
        assert r.oc == r.nc


def test_change_point_and_frequent_item_sets(spark):
    """ES change_point / frequent_item_sets semantics on hand-sized
    frames: exact least-squares step/spike/dip typing with the ES
    first-changed-bucket convention, stationarity below the variance
    threshold and under 3 buckets; exact item/pair supports over
    per-group distinct transactions."""
    from datetime import datetime

    from toshokan_spark.search import (
        change_point_agg,
        frequent_item_sets_agg,
    )

    def series(vals):
        return spark.createDataFrame(
            [(datetime(2024, 1, d + 1, 12), float(v))
             for d, v in enumerate(vals)],
            "ts timestamp, value double")

    # step: level shift after day 5 -> change point IS day 6
    r = change_point_agg(
        series([10] * 5 + [50] * 5), "ts", "value", "day").first()
    assert r.type == "step_change" and r.score == 1.0
    assert r.bucket_us == int(
        datetime(2024, 1, 6).timestamp() * 1_000_000)
    # spike / dip: one anomalous bucket
    r = change_point_agg(
        series([10, 10, 10, 100, 10, 10, 10, 10, 10, 10]),
        "ts", "value", "day").first()
    assert r.type == "spike" and r.bucket_us == int(
        datetime(2024, 1, 4).timestamp() * 1_000_000)
    r = change_point_agg(
        series([10, 10, 10, 10, 10, 10, 1, 10, 10, 10]),
        "ts", "value", "day").first()
    assert r.type == "dip"
    # stationary: alternating noise explains <25% variance; and a
    # 2-bucket series can never report a change
    r = change_point_agg(
        series([10, 11] * 5), "ts", "value", "day").first()
    assert r.type == "stationary" and r.bucket_us is None
    r = change_point_agg(series([1, 2]), "ts", "value", "day").first()
    assert r.type == "stationary" and r.n_buckets == 2
    # doc-count mode (value_col None)
    r = change_point_agg(
        series([1] * 10), "ts", None, "day").first()
    assert r.type == "stationary" and r.score == 0.0

    tx = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (1, "a"),   # dup collapses
         (2, "a"), (2, "b"), (3, "a"), (4, "a"), (4, "b")],
        "g long, item string")
    got = {(r.item_a, r.item_b): r for r in
           frequent_item_sets_agg(tx, "g", "item", 0.5).collect()}
    assert got[("a", None)].support_count == 4
    assert got[("a", None)].support == 1.0
    assert got[("a", "b")].support_count == 3
    assert got[("a", "b")].set_size == 2
    assert ("c", None) not in got          # support 0.25 < 0.5
    assert ("b", "a") not in got           # pairs are ordered once
    # transaction cap: a basket wider than the cap truncates to the
    # smallest items deterministically
    wide = spark.createDataFrame(
        [(1, f"i{j:02d}") for j in range(10)] + [(2, "i00")],
        "g long, item string")
    got = {r.item_a for r in frequent_item_sets_agg(
        wide, "g", "item", 0.9, max_items_per_group=3).collect()}
    assert got == {"i00"}  # i00..i02 kept for g=1; only i00 in both
    # NULL group rows are NOT a transaction (ES excludes docs missing
    # the group field) — support fractions must not deflate
    nulls = spark.createDataFrame(
        [(1, "a"), (2, "a"), (None, "a"), (None, "b")],
        "g long, item string")
    got = {(r.item_a, r.item_b): r for r in
           frequent_item_sets_agg(nulls, "g", "item", 0.5).collect()}
    assert got[("a", None)].support == 1.0    # 2/2, not 2/3
    assert ("b", None) not in got             # null-group item dropped


def test_moving_fn_and_normalize_aggs(spark):
    """ES moving_fn / normalize semantics on a hand-sized series:
    the shift-0 window EXCLUDES the current bucket (null gaps at the
    head, ES convention), shift=1 includes it; stdDev is the
    population form over the exact decimal sums; linearWeightedAvg
    weights 1..n oldest-to-newest; normalize emits every bit-stable
    method with NULL on degenerate spans."""
    import math
    from datetime import datetime

    from toshokan_spark.search import (
        date_histogram,
        moving_fn_agg,
        normalize_agg,
    )

    def series(vals):
        return spark.createDataFrame(
            [(datetime(2024, 1, d + 1, 12), float(v))
             for d, v in enumerate(vals)],
            "ts timestamp, value double")

    rows = {r.bucket_epoch: r for r in moving_fn_agg(
        series([10, 0, 50, 99]), "ts", 86400, "value").collect()}
    by_rank = [rows[k] for k in sorted(rows)]
    assert by_rank[0].mov_sum is None
    assert by_rank[0].mov_stddev is None       # null gap, not 0.0
    assert by_rank[1].mov_avg == 10.0
    assert by_rank[2].mov_lwa == 3.333333      # (10*1 + 0*2) / 3
    assert by_rank[3].mov_sum == 60.0
    assert by_rank[3].mov_min == 0.0 and by_rank[3].mov_max == 50.0
    assert by_rank[3].mov_stddev == round(
        math.sqrt(2600.0 / 3 - 400.0), 6)
    assert by_rank[3].mov_lwa == 26.666667     # (10 + 0 + 150) / 6
    # shift=1 slides the window to include the current bucket
    shifted = sorted(moving_fn_agg(
        series([10, 0, 50]), "ts", 86400, "value",
        window=2, shift=1).collect(), key=lambda r: r.bucket_epoch)
    assert [r.mov_sum for r in shifted] == [10.0, 10.0, 50.0]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        moving_fn_agg(series([1]), "ts", 86400, "value", window=0)

    hist = date_histogram(series([10, 0, 50, 99]), "ts", 86400, "value")
    norm = sorted(
        normalize_agg(hist, "total_value", "bucket_epoch").collect(),
        key=lambda r: r.bucket_epoch)
    assert norm[0].percent_of_sum == round(1000.0 / 159, 6)
    assert norm[0].rescale_0_1 == round(10.0 / 99, 6)
    assert norm[3].rescale_0_100 == 100.0
    assert norm[3].norm_mean == round(59.25 / 99, 6)
    sd = math.sqrt(12401.0 / 4 - 39.75 * 39.75)
    assert norm[1].zscore == round(-39.75 / sd, 6)
    # degenerate span: constant series -> span methods NULL,
    # percent_of_sum still defined
    flat = sorted(
        normalize_agg(
            date_histogram(series([5, 5]), "ts", 86400, "value"),
            "total_value", "bucket_epoch").collect(),
        key=lambda r: r.bucket_epoch)
    assert flat[0].rescale_0_1 is None and flat[0].zscore is None
    assert flat[0].percent_of_sum == 50.0
