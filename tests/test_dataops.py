from __future__ import annotations

from pyspark.sql import functions as F

from data_migration_tool_spark.operators import dedup as DD
from data_migration_tool_spark.operators import multimodal as MM
from data_migration_tool_spark.operators import similarity as SIM
from data_migration_tool_spark.operators import textops as TO


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
        (3, "completely different words about spark engines and data pipelines"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    res = {r["keep_id"]: r["n_dups"] for r in DD.exact_dedup(_docs(spark)).collect()}
    assert res[1] == 2  # docs 1 and 4 collapse
    assert res[2] == 1 and res[3] == 1


def test_minhash_lsh_finds_near_dups(spark):
    pairs = DD.minhash_lsh_dedup(_docs(spark), threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 4) in got  # exact dup always pairs
    assert (1, 2) in got or (2, 4) in got  # near-dup caught by LSH
    for r in pairs:
        assert r["jaccard"] >= 0.5


def test_ngram_jaccard_exact(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(_docs(spark), threshold=0.1).collect()
    }
    assert pairs[(1, 4)] == 1.0
    assert 0.5 < pairs[(1, 2)] < 1.0
    assert (1, 3) not in pairs


def test_ngram_jaccard_guard_trips(spark):
    import pytest

    with pytest.raises(RuntimeError, match="max_join_pairs"):
        DD.ngram_jaccard_pairs(_docs(spark), threshold=0.1, max_join_pairs=3)


def _hot_shingle_docs(spark, n=40):
    """Unique bodies + a universal boilerplate tail: the implied
    shingle self-join is quadratic (every doc meets every other on the
    hot shingles) while true near-dups are rare — exactly the corpus
    shape the derived guard must catch."""
    rows = [
        (
            i,
            f"unique{i} alpha{i} beta{i} gamma{i} delta{i} epsilon{i} "
            f"zeta{i} eta{i} theta{i} "
            "common boilerplate footer appears everywhere always legal notice",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_auto_guard_derived_from_band_buckets(spark):
    """The "auto" guard compares the implied join size against the
    band-bucket candidate volume of THIS corpus, not a static cap: a
    hot-shingle corpus (quadratic implied, tiny LSH volume) must refuse
    loudly quoting the derived statistic."""
    import pytest

    docs = _hot_shingle_docs(spark)
    with pytest.raises(RuntimeError, match="lsh_candidates"):
        DD.ngram_jaccard_pairs(docs, threshold=0.2, linear_budget=1)

    # same corpus, auto_candidates=True → degrades to LSH verify
    # (band signatures reused), returning exact-Jaccard survivors
    out = DD.ngram_jaccard_pairs(
        docs, threshold=0.2, linear_budget=1, auto_candidates=True
    ).collect()
    assert all(r["jaccard"] >= 0.2 for r in out)


def test_ngram_jaccard_auto_guard_allows_linear_corpora(spark):
    """Tier 1: a corpus whose implied join is within the linear budget
    runs the exact path without ever computing signatures."""
    pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.ngram_jaccard_pairs(_docs(spark), threshold=0.1).collect()
    }
    assert (1, 4) in pairs


def test_ngram_jaccard_candidate_path_matches_exact(spark):
    docs = _docs(spark)
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    sh = DD.shingle_set(docs)
    bands = DD.minhash_signatures(sh)
    cand = DD.lsh_candidate_pairs(bands)
    guarded = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(
            docs, threshold=0.1, candidate_pairs=cand
        ).collect()
    }
    # every LSH-surfaced pair carries the identical exact Jaccard value
    for pair, j in guarded.items():
        assert exact[pair] == j
    assert (1, 4) in guarded


def test_ngram_jaccard_auto_candidates_degrades_to_lsh(spark):
    """Above the cap with auto_candidates=True, the operator must
    degrade to the LSH-candidate path instead of raising — and every
    surfaced pair must carry the identical exact Jaccard value."""
    docs = _docs(spark)
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    degraded = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(
            docs, threshold=0.1, max_join_pairs=3, auto_candidates=True
        ).collect()
    }
    for pair, j in degraded.items():
        assert exact[pair] == j
    assert (1, 4) in degraded  # exact dups always share every band


def test_bloom_decontaminate_no_false_negatives(spark):
    """Bloom guarantee: every document the exact broadcast-set check
    flags MUST be flagged by the sketch path (false positives allowed,
    bounded by fill ratio; false negatives never). Run on a corpus
    where contamination is real: docs 1/4 share text, 2/3 are clean."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "story of the quick brown fox jumps over fences daily"),
            (2, "completely unrelated text about database migration tools"),
            (3, "another clean document with zero shared trigram content"),
            (4, "the quick brown fox jumps over the lazy dog tonight"),
        ],
        "doc_id long, text string",
    )
    exact = {
        r.doc_id for r in DD.cross_corpus_overlap(train, bench).collect()
    }
    bloom = DD.bloom_build(bench)
    sketch = {r.doc_id: r for r in DD.bloom_decontaminate(train, bloom).collect()}
    flagged = {d for d, r in sketch.items() if r.flagged}
    assert exact <= flagged  # no false negatives, ever
    assert {1, 4} <= exact  # the planted contamination is caught
    # per-doc shingle accounting is complete (every train doc appears)
    assert set(sketch) == {1, 2, 3, 4}
    assert all(r.n_maybe_contaminated <= r.n_shingles for r in sketch.values())


def test_simhash_near_dup_property(spark):
    sigs = {r["doc_id"]: r["simhash"] for r in DD.simhash(_docs(spark)).collect()}
    assert sigs[1] == sigs[4]  # identical text → identical signature

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sigs[1], sigs[2]) <= hamming(sigs[1], sigs[3])


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),
        (4, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark):
    v = _vecs(spark)
    res = SIM.brute_force_topk(v.filter(F.col("vec_id") == 0), v, k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in res.collect()]
    assert got[0] == (1, 1)  # nearest to e_x is the 0.9/0.1 vector


def test_hard_negative_topk_mask_inside_scorer(spark):
    # query 0 (label 1) is surrounded by TWO closer same-label vectors
    # (1, 2); its true hard negatives are 3 then 4. Post-filtering a
    # plain top-2 would return NOTHING (both top-2 share the label) —
    # the label mask must live inside the scorer.
    rows = [
        (0, [1.0, 0.0, 0.0], 1),
        (1, [0.99, 0.01, 0.0], 1),
        (2, [0.98, 0.02, 0.0], 1),
        (3, [0.9, 0.1, 0.0], 2),
        (4, [0.8, 0.2, 0.0], 2),
        (5, [0.0, 1.0, 0.0], 3),
    ]
    v = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    res = SIM.hard_negative_topk(v.filter(F.col("vec_id") == 0), v, k=2)
    got = sorted((r["rank"], r["neighbor_id"]) for r in res.collect())
    assert got == [(1, 3), (2, 4)]
    # post-filter inequivalence witness: the unfiltered top-2 is all
    # same-label, so filtering it afterwards yields zero negatives
    plain = SIM.brute_force_topk(v.filter(F.col("vec_id") == 0), v, k=2)
    top2 = {r["neighbor_id"] for r in plain.collect()}
    assert top2 == {1, 2}


def test_ivf_routes_to_cell(spark):
    v = _vecs(spark)
    centroids = v.filter(F.col("vec_id").isin(0, 2, 4))
    assigned = SIM.ivf_assign(v, centroids)
    cells = {r["vec_id"]: r["cell_id"] for r in assigned.collect()}
    assert cells[1] == 0 and cells[3] == 2
    topk = SIM.ivf_topk(v.filter(F.col("vec_id") == 1), assigned, centroids, k=1)
    assert topk.first()["neighbor_id"] == 0  # searches within cell 0 only


def test_embedding_near_dup_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in SIM.embedding_near_dup_pairs(_vecs(spark), threshold=0.95).collect()
    }
    assert (0, 1) in pairs and (2, 3) in pairs and (0, 4) not in pairs


def test_token_stats_and_quality(spark):
    d = _docs(spark)
    stats = {r["doc_id"]: r for r in TO.token_stats(d).collect()}
    assert stats[1]["n_tokens"] == 13
    assert stats[1]["n_distinct_tokens"] == 11  # 'the' ×3
    q = {r["doc_id"]: r for r in TO.quality_scores(d).collect()}
    assert 0 < q[1]["stopword_ratio"] < 1


def test_multimodal_feature_extract(spark):
    media = MM.synthetic_media(spark, n=30)
    feats = {r["media_id"]: tuple(r) for r in MM.extract_media_features(media).collect()}
    assert len(feats) == 30
    # deterministic: same content → same sha and decoded fields
    again = {r["media_id"]: tuple(r) for r in MM.extract_media_features(media).collect()}
    assert again == feats


def test_media_codec_round_trip():
    # encoder and decoder are independent paths: decode must re-derive
    # dimensions/samples the writer packed into the container headers
    bmp = MM.encode_bmp(5, 3, lambda x, y: (10 + x + 3 * y) % 256)
    d = MM.decode_media(bmp)
    assert (d["width"], d["height"], d["n_channels"]) == (5, 3, 3)
    expected = sum((10 + x + 3 * y) % 256 for x in range(5) for y in range(3)) / 15
    assert abs(d["mean_luma"] - expected) < 1e-9
    assert d["sample_rate"] is None

    samples = [((7 * i) % 2001) - 1000 for i in range(20)]
    wav = MM.encode_wav(8000, samples)
    d = MM.decode_media(wav)
    assert (d["sample_rate"], d["n_samples"]) == (8000, 20)
    assert abs(d["duration_ms"] - 2.5) < 1e-9
    rms = (sum(s * s for s in samples) / 20) ** 0.5
    assert abs(d["rms"] - rms) < 1e-9
    assert d["width"] is None

    avi = MM.encode_avi(6, 4, 3, 5, lambda x, y, f: (2 + x + 3 * y + 5 * f) % 256)
    d = MM.decode_media(avi)
    assert (d["width"], d["height"], d["n_channels"]) == (6, 4, 3)
    assert (d["n_frames"], d["fps"]) == (3, 5)
    assert abs(d["duration_ms"] - 600.0) < 1e-9
    expected = sum(
        (2 + x + 3 * y + 5 * f) % 256
        for f in range(3) for x in range(6) for y in range(4)
    ) / (3 * 6 * 4)
    assert abs(d["mean_luma"] - expected) < 1e-9
    assert d["sample_rate"] is None

    # unknown container → stub branch: all-null decode
    d = MM.decode_media(b"\x00\x01\x02 not a container")
    assert all(v is None for v in d.values())


def test_extract_media_features_decodes_real_containers(spark):
    media = MM.synthetic_media(spark, n=30)
    rows = {r["media_id"]: r for r in MM.extract_media_features(media).collect()}
    assert len(rows) == 30
    for i, r in rows.items():
        if r["kind"] == "image":
            assert (r["width"], r["height"]) == (4 + i % 5, 3 + i % 4)
            assert r["n_channels"] == 3 and r["mean_luma"] is not None
        elif r["kind"] == "audio":
            assert r["sample_rate"] == 8000
            assert r["n_samples"] == 16 + i % 9
        else:  # video: real AVI decode
            assert (r["width"], r["height"]) == (4 + i % 5, 3 + i % 4)
            assert r["n_frames"] == 2 + i % 3 and r["fps"] == 5
            assert r["rms"] is None and r["mean_luma"] is not None
            assert r["n_bytes"] > 0 and r["content_sha"]


def test_frame_sample_plan(spark):
    media = MM.synthetic_media(spark, n=9)
    frames = MM.frame_sample_plan(media, every_ms=1000)
    rows = frames.collect()
    assert all(r["frame_ts_ms"] % 1000 == 0 for r in rows)
    durations = {
        r["media_id"]: r["meta"]["duration_ms"]
        for r in media.filter(F.col("kind") == "video").collect()
    }
    counts = {}
    for r in rows:
        counts[r["media_id"]] = counts.get(r["media_id"], 0) + 1
    for mid, n in counts.items():
        assert n == (durations[mid] + 999) // 1000


def test_dup_clusters_min_propagation(spark):
    from data_migration_tool_spark.operators.dedup import dup_clusters

    # chain 1-2-3, pair 10-11, isolated pair 20-21 linked via 21-22
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11), (21, 22), (20, 21)], "id_a long, id_b long"
    )
    out = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_salted_agg_equals_plain(spark, tables):
    from pyspark.sql import functions as F
    from data_migration_tool_spark.operators.skew import salted_agg

    l = tables["lineitem"]
    qty = F.col("l_quantity").cast("decimal(18,2)")
    salted = salted_agg(
        l,
        keys=["l_returnflag"],
        partial_aggs=[F.count(F.lit(1)).alias("pc"), F.sum(qty).alias("ps")],
        merge_aggs=[
            F.sum("pc").alias("n"),
            F.sum("ps").cast("double").alias("s"),
        ],
        n_salts=8,
    )
    plain = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.sum(qty).cast("double").alias("s")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_upsert_latest_semantics(spark):
    from data_migration_tool_spark.operators.merge import upsert_latest

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, ts int"
    )
    ups = spark.createDataFrame(
        [(2, "B1", 25), (2, "B2", 24), (4, "d", 40)], "k int, v string, ts int"
    )
    # updates win; within updates the larger ts wins; unmatched pass through
    out = {r["k"]: r["v"] for r in upsert_latest(base, ups, ["k"], "ts").collect()}
    assert out == {1: "a", 2: "B1", 3: "c", 4: "d"}
    # idempotent under replay
    again = upsert_latest(upsert_latest(base, ups, ["k"], "ts"), ups, ["k"], "ts")
    assert {r["k"]: r["v"] for r in again.collect()} == out


def test_asof_join_semantics(spark):
    from data_migration_tool_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 20, "p2"), (2, 5, "p3")], "k int, t int, lv string"
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (2, 9, "r9")], "k int, t int, rv string"
    )
    # backward, exact-time allowed: p1@10 matches r10, p2@20 matches r15,
    # p3@5 has no predecessor
    out = {
        r["lv"]: r["rv"]
        for r in asof_join(
            left, right, ["k"], "t", "t", ["rv"], allow_exact=True
        ).collect()
    }
    assert out == {"p1": "r10", "p2": "r15", "p3": None}
    # strict: the equal-time r10 no longer matches p1
    strict = {
        r["lv"]: r["rv"]
        for r in asof_join(
            left, right, ["k"], "t", "t", ["rv"], allow_exact=False
        ).collect()
    }
    assert strict == {"p1": None, "p2": "r15", "p3": None}


def test_asof_join_single_shuffle(spark, tables):
    from data_migration_tool_spark.plans.registry import QUERIES

    df = QUERIES["purchase_attribution_asof"].builder(
        spark, "/root/testdata/sf0.001"
    )
    simple = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # the union trick: one exchange on user_id, no join operator at all
    assert simple.count("Exchange") == 1
    assert "Join" not in simple


def test_point_in_interval_join_semantics(spark):
    import pytest
    from pyspark.sql import functions as F
    from data_migration_tool_spark.operators.rangejoin import point_in_interval_join

    def ts(s):
        return f"CAST('2024-01-01 {s}' AS TIMESTAMP)"

    points = spark.sql(
        f"SELECT * FROM VALUES (1, {ts('10:00:00')}, 'at_start'),"
        f" (1, {ts('10:59:59.999999')}, 'before_end'),"
        f" (1, {ts('11:00:00')}, 'at_end'),"
        f" (2, {ts('10:30:00')}, 'other_key') AS t(k, t_pt, name)"
    )
    intervals = spark.sql(
        f"SELECT * FROM VALUES (1, {ts('10:00:00')}, {ts('11:00:00')}, 'w1')"
        " AS t(k, s, e, wname)"
    )
    out = point_in_interval_join(
        points, intervals, ["k"], "t_pt", "s", "e", grain_us=3_600_000_000
    )
    names = sorted(r["name"] for r in out.collect())
    # start inclusive, end exclusive, key-scoped
    assert names == ["at_start", "before_end"]

    # interval longer than the grain must fail loudly, not lose matches
    bad = spark.sql(
        f"SELECT * FROM VALUES (1, {ts('10:00:00')}, {ts('12:00:01')}, 'w2')"
        " AS t(k, s, e, wname)"
    )
    with pytest.raises(Exception, match="interval longer than grain"):
        point_in_interval_join(
            points, bad, ["k"], "t_pt", "s", "e", grain_us=3_600_000_000
        ).collect()


def test_empty_input_edge_cases(spark):
    """Degenerate inputs must return empty results, not error: an
    operator that crashes on an empty micro-batch or a filter that
    matched nothing is a production incident at scale."""
    from data_migration_tool_spark.operators.asof import asof_join
    from data_migration_tool_spark.operators.dedup import (
        dup_clusters,
        jaccard_verify,
        minhash_lsh_dedup,
    )

    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dup_clusters(empty_pairs).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_lsh_dedup(empty_docs).count() == 0

    shingles = spark.createDataFrame([(1, "a b c")], "doc_id long, shingle string")
    assert jaccard_verify(empty_pairs, shingles).count() == 0

    left = spark.createDataFrame([(1, 10)], "k long, lts long")
    empty_right = spark.createDataFrame([], "k long, rts long, v double")
    out = asof_join(
        left, empty_right, on=["k"], left_ts="lts", right_ts="rts",
        right_values=["v"],
    )
    assert out.count() == 1 and out.first()["v"] is None


def test_scd2_history_semantics(spark):
    """Consecutive duplicates collapse; NULL→value counts as a change;
    intervals chain half-open with is_current on the last row."""
    from data_migration_tool_spark.operators.merge import scd2_history

    rows = [
        (1, 1, None), (1, 2, "a"), (1, 3, "a"), (1, 4, "b"),
        (2, 1, "x"),
    ]
    df = spark.createDataFrame(rows, "k long, seq long, status string")
    out = scd2_history(
        df, keys=["k"], order_cols=["seq"], track_cols=["status"]
    ).orderBy("k", "seq").collect()
    got = [(r.k, r.seq, r.status, r.valid_from, r.valid_to, r.is_current) for r in out]
    assert got == [
        (1, 1, None, 1, 2, False),   # initial NULL state
        (1, 2, "a", 2, 4, False),    # NULL→a change; seq 3 collapsed
        (1, 4, "b", 4, None, True),
        (2, 1, "x", 1, None, True),
    ]


def test_kmeans_fit_exact_matches_python_integer_reference(spark):
    """kmeans_fit_exact must replay the fixed-point Lloyd recurrence
    (quantize → integer-L2 assign with lowest-cell ties → per-dim
    floor-average) bit-for-bit — the contract behind ivf_trained_topk's
    exact-hash oracle — and still recover separated blobs."""
    import hashlib
    import math

    import numpy as np

    from data_migration_tool_spark.operators.similarity import kmeans_fit_exact

    rng = np.random.default_rng(11)
    rows = []
    for b, base in enumerate([[0.8, -0.5], [-0.7, 0.6], [0.1, 0.9]]):
        for i in range(15):
            v = (np.array(base) + rng.normal(0, 0.05, 2)).tolist()
            rows.append((b * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k, iters = 3, 3
    got = {r["cell"]: list(r["q"]) for r in kmeans_fit_exact(df, k=k, iters=iters).collect()}

    # pure-Python replica of the recurrence
    qv = {
        vid: [math.floor((x + 2.0) * 1048576.0) for x in vec] for vid, vec in rows
    }
    init_ids = sorted(qv, key=lambda v: hashlib.md5(str(v).encode()).hexdigest())[:k]
    cents = {c: qv[v] for c, v in enumerate(init_ids)}
    for _ in range(iters):
        members: dict[int, list[list[int]]] = {}
        for vid, q in qv.items():
            best = min(
                cents.items(),
                key=lambda cv: (sum((a - b) ** 2 for a, b in zip(q, cv[1])), cv[0]),
            )[0]
            members.setdefault(best, []).append(q)
        for c, qs in members.items():
            n = len(qs)
            cents[c] = [sum(col) // n for col in zip(*qs)]
    assert got == cents
    # blob recovery: the three centroids sit near the three blob centers
    assert len({tuple(v) for v in got.values()}) == 3


def test_repetition_scores(spark):
    from data_migration_tool_spark.operators.textops import repetition_scores

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # 7 shingles, 3 distinct
            (2, "w x y z"),             # 2 shingles, both distinct
            (3, "one two"),             # too short: 0 shingles
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_scores(df).collect()}
    assert got[1]["n_shingles"] == 7 and got[1]["n_distinct_shingles"] == 3
    assert got[1]["rep_ratio"] == 4.0 / 7.0
    assert got[2]["rep_ratio"] == 0.0
    assert got[3]["n_shingles"] == 0 and got[3]["rep_ratio"] == 0.0


def test_cross_corpus_overlap(spark):
    from data_migration_tool_spark.operators.dedup import cross_corpus_overlap

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),     # shares 'the quick brown'
            (2, "totally unrelated training doc"),
            (3, "the quick brown fox jumps high"),  # shares two shingles
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox ran away")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_shared_shingles"] for r in cross_corpus_overlap(train, bench).collect()}
    # bench shingles: {the quick brown, quick brown fox, brown fox ran, fox ran away}
    assert got[1] == 2  # 'the quick brown', 'quick brown fox'
    assert got[3] == 2
    assert 2 not in got


def test_stratified_hash_sample_rates(spark):
    from data_migration_tool_spark.operators.textops import stratified_hash_sample

    rows = [(i, "de" if i % 2 else "en", "t") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kept = stratified_hash_sample(df, {"de": "zz"}, default="0d")
    by_lang = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_lang["de"] == 1000          # 'zz' keeps every row
    assert 20 <= by_lang.get("en", 0) <= 90  # ~5% of 1000
    # deterministic: same rows selected on rerun
    ids1 = sorted(r["doc_id"] for r in kept.collect())
    ids2 = sorted(r["doc_id"] for r in stratified_hash_sample(df, {"de": "zz"}, default="0d").collect())
    assert ids1 == ids2


def test_int8_quantize_stats(spark):
    from data_migration_tool_spark.functions.vectors import int8_quantize_stats

    df = spark.createDataFrame(
        [
            (1, [0.0, 1.0, 2.0, 4.0]),
            (2, [3.0, 3.0, 3.0]),  # constant vector → all-zero codes
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["_q"]
        for r in df.select("vec_id", int8_quantize_stats("embedding").alias("_q")).collect()
    }
    q1 = got[1]
    # codes: floor((x-0)*255/4) = [0, 63, 127, 255]
    assert q1["n_dims"] == 4 and q1["q_min"] == 0 and q1["q_max"] == 255
    assert q1["q_sum"] == 0 + 63 + 127 + 255
    assert q1["v_min"] == 0.0 and q1["v_max"] == 4.0
    q2 = got[2]
    assert q2["q_sum"] == 0 and q2["q_min"] == 0 and q2["q_max"] == 0


def test_two_star_matches_label_prop(spark):
    from data_migration_tool_spark.operators.dedup import (
        dup_clusters,
        dup_clusters_two_star,
    )

    # long path (diameter 19, worst case for label propagation), a
    # separate triangle, and a 2-node component
    pairs = (
        [(i, i + 1) for i in range(1, 20)]
        + [(100, 101), (101, 102), (100, 102)]
        + [(200, 201)]
    )
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    a = sorted(map(tuple, dup_clusters(df).collect()))
    b = sorted(map(tuple, dup_clusters_two_star(df).collect()))
    assert a == b
    got = dict(b)
    assert got[19] == 1 and got[102] == 100 and got[201] == 200
    assert got[1] == 1  # component min labels itself


def test_sample_frames_real_payloads(spark):
    media = MM.synthetic_media(spark, n=9)
    rows = MM.sample_frames(media).collect()
    # videos are ids 2, 5, 8 with nf = 2 + i % 3
    expect_nf = {2: 2 + 2 % 3, 5: 2 + 5 % 3, 8: 2 + 8 % 3}
    counts = {}
    for r in rows:
        counts[r["media_id"]] = counts.get(r["media_id"], 0) + 1
    assert counts == expect_nf
    r0 = {(r["media_id"], r["frame_idx"]): r for r in rows}
    i, w, h = 2, 4 + 2 % 5, 3 + 2 % 4
    for f in range(expect_nf[2]):
        exp = sum(
            (i + x + 3 * y + 5 * f) % 256 for x in range(w) for y in range(h)
        ) / (w * h)
        got = r0[(2, f)]
        assert abs(got["mean_luma"] - exp) < 1e-9
        assert abs(got["frame_ts_ms"] - f * 200.0) < 1e-9


def test_asof_forward_and_tolerance(spark):
    from data_migration_tool_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", 1, 100.0), ("u", 2, 500.0), ("v", 3, 50.0)],
        "k string, lid long, ts double",
    )
    right = spark.createDataFrame(
        [("u", 10, 90.0), ("u", 11, 140.0), ("u", 12, 600.0)],
        "k string, rid long, ts double",
    )
    fwd = {
        r["lid"]: (r["rid"], r["matched_ts"])
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            right_values=["rid"], direction="forward",
        ).collect()
    }
    assert fwd[1] == (11, 140.0)   # nearest ts >= 100
    assert fwd[2] == (12, 600.0)
    assert fwd[3] == (None, None)  # key 'v' has no right rows

    tol = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            right_values=["rid"], direction="forward", tolerance_seconds=45.0,
        ).collect()
    }
    assert tol[1] == 11        # gap 40 ≤ 45
    assert tol[2] is None      # gap 100 > 45: nulls, no fallback
    back = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            right_values=["rid"], tolerance_seconds=5.0,
        ).collect()
    }
    assert back[1] is None     # nearest predecessor is 10s back > 5s
    assert back[2] is None     # 360s back


def test_embedding_near_dup_pairs_sparse_blocks(spark):
    # n_blocks larger than occupied blocks: one-sided block pairs must
    # not crash the block-pair compare
    pairs = SIM.embedding_near_dup_pairs(
        _vecs(spark), threshold=0.95, n_blocks=7
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got and (2, 3) in got and (0, 4) not in got


def test_lsh_bucket_size_valve(spark):
    # family A: a near-dup pair (bucket size 2 — must SURVIVE a cap of
    # 2); family B: an identical trio (bucket size 3 — must be dropped).
    # Distinct vocabularies keep the families in disjoint buckets, so
    # the test distinguishes selective dropping from dropping everything.
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (10, "one two three four five six seven eight"),
        (11, "one two three four five six seven eight"),
        (12, "one two three four five six seven eight"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bands = DD.minhash_signatures(DD.shingle_set(docs))
    full = {(r["id_a"], r["id_b"]) for r in DD.lsh_candidate_pairs(bands).collect()}
    capped = {
        (r["id_a"], r["id_b"])
        for r in DD.lsh_candidate_pairs(bands, max_bucket_size=2).collect()
    }
    assert (10, 11) in full and (1, 2) in full
    assert (1, 2) in capped                      # size-2 bucket survives
    assert not any(a >= 10 for a, _ in capped)   # trio buckets dropped


def test_collect_matrix_guard(spark):
    import pytest

    from data_migration_tool_spark.operators import similarity as S

    orig = S.MAX_BROADCAST_VECTORS
    S.MAX_BROADCAST_VECTORS = 3
    try:
        with pytest.raises(RuntimeError, match="broadcast side"):
            SIM.brute_force_topk(_vecs(spark), _vecs(spark), k=1)
    finally:
        S.MAX_BROADCAST_VECTORS = orig


def test_ivf_topk_query_side_guard(spark):
    import pytest

    from data_migration_tool_spark.operators import similarity as S

    v = _vecs(spark)
    centroids = v.filter(F.col("vec_id").isin(0, 2, 4))
    assigned = SIM.ivf_assign(v, centroids)
    orig = S.MAX_BROADCAST_VECTORS
    S.MAX_BROADCAST_VECTORS = 3
    try:
        # 5 queries × nprobe 1 > cap of 3 — must fail loud, not collect
        with pytest.raises(RuntimeError, match="ivf_topk: queries"):
            SIM.ivf_topk(v, assigned, centroids, k=1)
    finally:
        S.MAX_BROADCAST_VECTORS = orig


def test_interval_overlap_join_semantics(spark):
    from data_migration_tool_spark.operators.rangejoin import interval_overlap_join

    left = spark.sql(
        "SELECT * FROM VALUES "
        "('k', 1L, timestamp_micros(0),       timestamp_micros(1000000)), "
        "('k', 2L, timestamp_micros(5000000), timestamp_micros(9000000)) "
        "AS t(k, lid, ls, le)"
    )
    right = spark.sql(
        "SELECT * FROM VALUES "
        "('k', 10L, timestamp_micros(500000),  timestamp_micros(600000)), "   # inside 1
        "('k', 11L, timestamp_micros(1000000), timestamp_micros(2000000)), "  # touches 1: NO overlap (half-open)
        "('k', 12L, timestamp_micros(4000000), timestamp_micros(8000000)), "  # spans buckets, overlaps 2
        "('x', 13L, timestamp_micros(0),       timestamp_micros(9000000)) "   # other key
        "AS t(k, rid, rs, re)"
    )
    got = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, on=["k"],
            left_start="ls", left_end="le",
            right_start="rs", right_end="re",
            grain_us=1_000_000,
        ).collect()
    }
    # exactly one row per overlapping pair, even when both intervals
    # share several grain buckets
    assert got == {(1, 10), (2, 12)}


def test_interval_overlap_bucket_guard(spark):
    import pytest
    from data_migration_tool_spark.operators.rangejoin import interval_overlap_join

    wide = spark.sql(
        "SELECT 'k' AS k, 1L AS lid, timestamp_micros(0) AS ls, "
        "timestamp_micros(10000000) AS le"
    )
    with pytest.raises(Exception, match="grain buckets"):
        interval_overlap_join(
            wide, wide, on=["k"],
            left_start="ls", left_end="le",
            right_start="ls", right_end="le",
            grain_us=1000, max_buckets_per_interval=100,
        ).collect()


def test_native_session_window_exact_gap_merges(spark):
    """Spark's session_window MERGES two events exactly gap apart
    (touching [t, t+gap) windows) — the boundary the oracle's strict >
    break encodes."""
    e = spark.sql(
        "SELECT * FROM VALUES "
        "(1L, timestamp_micros(0)), (1L, timestamp_micros(1800000000)) "
        "AS t(user_id, ts)"
    )
    sessions = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .collect()
    )
    assert len(sessions) == 1 and sessions[0]["count"] == 2


def test_bpe_train_matches_python_reference(spark):
    """The distributed BPE trainer must reproduce, merge for merge, a
    pure-Python reference implementation of Sennrich-style BPE (greedy
    left-to-right application, freq DESC / pair ASC tie-break) on the
    sf0.001 corpus."""
    from collections import Counter

    from data_migration_tool_spark.operators.bpe import bpe_train

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = [tuple(r) for r in bpe_train(docs, num_merges=8).collect()]

    words = Counter()
    for (text,) in docs.select("text").collect():
        for w in text.split(" "):
            if w:
                words[w] += 1
    syms = {w: list(w) for w in words}
    expect = []
    for rank in range(1, 9):
        pc = Counter()
        for w, c in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), freq = best
        expect.append((rank, a, b, freq))
        for w in syms:
            s = syms[w]
            out: list[str] = []
            for tok in s:
                if out and out[-1] == a and tok == b:
                    out[-1] = a + b
                else:
                    out.append(tok)
            syms[w] = out
    assert got == expect


def test_bpe_encode_matches_python_reference(spark):
    """Train + encode round trip: the distributed encoder's per-doc
    symbol counts must equal a pure-Python apply of the same merges."""
    from data_migration_tool_spark.operators.bpe import bpe_encode_lengths, bpe_train

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = [
        (r["left"], r["right"]) for r in bpe_train(docs, num_merges=6).collect()
    ]
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_symbols"])
        for r in bpe_encode_lengths(docs, merges).collect()
    }

    def encode_len(word: str) -> int:
        s = list(word)
        for a, b in merges:
            out: list[str] = []
            for tok in s:
                if out and out[-1] == a and tok == b:
                    out[-1] = a + b
                else:
                    out.append(tok)
            s = out
        return len(s)

    cache: dict[str, int] = {}
    expect = {}
    for doc_id, text in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").collect():
        toks = [w for w in text.split(" ") if w]
        if not toks:
            continue
        n_sym = 0
        for w in toks:
            if w not in cache:
                cache[w] = encode_len(w)
            n_sym += cache[w]
        expect[doc_id] = (len(toks), n_sym)
    assert got == expect


def test_pca_matches_numpy_reference(spark):
    """Distributed moment-partial PCA == numpy PCA on the collected
    matrix: same eigenvalues, same subspace (|cos| of paired components
    ~ 1), and the distributed projection equals (X - mean) @ W.T."""
    import numpy as np

    from data_migration_tool_spark.operators.pca import pca_fit, pca_project

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    model = pca_fit(emb, n_components=6)

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.vstack([np.asarray(r["embedding"], dtype="float64") for r in rows])
    mean = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:6]

    assert np.allclose(model.mean, mean, atol=1e-9)
    assert np.allclose(model.explained_variance, evals[order], atol=1e-7)
    # same subspace, component by component (sign-insensitive)
    ref = evecs[:, order].T
    cos = np.abs(np.sum(model.components * ref, axis=1))
    assert np.all(cos > 1 - 1e-8)

    proj = {r["vec_id"]: np.asarray(r["pcs"]) for r in
            pca_project(emb, model).collect()}
    expect = (x - mean) @ model.components.T
    got = np.vstack([proj[i] for i in ids])
    assert np.allclose(got, expect, atol=1e-9)
    # variance ordering: explained variance non-increasing
    assert np.all(np.diff(model.explained_variance) <= 1e-12)


def test_chunk_with_overlap_matches_bruteforce(spark):
    docs = [
        (1, "a" * 48),            # single short chunk
        (2, "xy" * 100),          # 200 chars: exactly one full chunk
        (3, "b" * 301),           # start 300 is in-text -> 3 chunks
        (4, "c" * 300),           # start 300 is NOT in-text -> 2 chunks
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_start, r.chunk_len)
        for r in TO.chunk_with_overlap(df, size=200, stride=150).collect()
    }
    want = {}
    for doc_id, text in docs:
        for i, start in enumerate(range(0, len(text), 150)):
            want[(doc_id, i)] = (start, len(text[start : start + 200]))
    assert got == want


def test_cap_per_group_counts_and_determinism(spark):
    rows = [(f"g{i % 3}", i) for i in range(60)] + [("tiny", 999)]
    df = spark.createDataFrame(rows, ["source", "doc_id"])
    out1 = TO.cap_per_group(df, "source", "doc_id", cap=7)
    counts = {r.source: r.n for r in out1.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"g0": 7, "g1": 7, "g2": 7, "tiny": 1}
    # rerun-stable membership: same ids selected both times
    ids1 = sorted(r.doc_id for r in out1.collect())
    ids2 = sorted(r.doc_id for r in TO.cap_per_group(df, "source", "doc_id", cap=7).collect())
    assert ids1 == ids2


def test_scrub_pii_redacts_and_counts(spark):
    from data_migration_tool_spark.functions import text as TX

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now or call +1-555-0199 ok"),
            (2, "no pii here, just 42 and a-b"),
            (3, "two mails a@b.io c_d@e-f.com and 44-201-5550"),
        ],
        ["id", "t"],
    )
    out = {
        r.id: (r.clean, r.c.n_emails, r.c.n_phones)
        for r in df.select(
            "id",
            TX.scrub_pii("t").alias("clean"),
            TX.pii_counts("t").alias("c"),
        ).collect()
    }
    assert out[1] == ("mail <EMAIL> now or call <PHONE> ok", 1, 1)
    assert out[2] == ("no pii here, just 42 and a-b", 0, 0)
    assert out[3] == ("two mails <EMAIL> <EMAIL> and <PHONE>", 2, 1)


def test_pq_encode_matches_numpy(spark):
    import numpy as np

    from data_migration_tool_spark.operators.pq import pq_codebook, pq_encode

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 64).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id int, embedding array<float>",
    )
    cb = np.array(pq_codebook())  # (8, 16, 8)
    got = {
        r.vec_id: (list(r.codes), r.recon_err)
        for r in pq_encode(df).collect()
    }
    for i in range(len(vecs)):
        v = vecs[i].astype(np.float64)
        want_codes, want_err = [], 0.0
        for s in range(8):
            sub = v[s * 8 : (s + 1) * 8]
            d = ((sub[None, :] - cb[s]) ** 2).sum(axis=1)
            j = int(d.argmin())
            want_codes.append(j)
            want_err += float(d[j])
        codes, err = got[i]
        assert codes == want_codes
        assert abs(err - want_err) < 1e-9  # fold-order noise only


def test_anomaly_flags_seeded_spike(spark, tmp_path):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_migration_tool_spark.plans.streamq import (
        events_hourly_anomaly_flags,
    )

    # 40 quiet hours of 5 events, then one 500-event spike hour
    rows = []
    eid = 0
    base = dt.datetime(2024, 3, 1)
    for h in range(41):
        n = 500 if h == 40 else 5
        for i in range(n):
            rows.append(
                (eid, base + dt.timedelta(hours=h, seconds=i), 1, "view", 1.0, "{}")
            )
            eid += 1
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    sf_dir = str(tmp_path)
    pq_.write_table(tbl, f"{sf_dir}/events.parquet")

    out = {r.hour: r for r in events_hourly_anomaly_flags(spark, sf_dir).collect()}
    spike = "2024-03-02 16:00"  # base + 40 hours
    assert out[spike].is_anomaly is True
    assert all(r.is_anomaly is False for h, r in out.items() if h != spike)


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from data_migration_tool_spark.operators.graph import pagerank

    edges = [
        (0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 3), (4, 2), (2, 4),
        (5, 0),  # 5 has out-edges; 6 is dangling (in-edges only)
        (0, 6),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iters=12).collect()}

    n = 7
    M = np.zeros((n, n))
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    for s, ds in out.items():
        for d in ds:
            M[d, s] = 1.0 / len(ds)
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        dangling = sum(r[i] for i in range(n) if i not in out)
        r = (1 - 0.85) / n + 0.85 * (M @ r) + 0.85 * dangling / n
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_exact_matches_python_integer_recurrence(spark):
    """pagerank_exact must replay the scaled-int64 truncating-division
    recurrence bit-for-bit — the contract that lets the registry's
    part_pagerank carry an exact-hash DuckDB oracle. Also pins that
    the fixed-point ranks track float PageRank to ~1e-9."""
    from data_migration_tool_spark.operators.graph import pagerank_exact

    edges = [
        (0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 3), (4, 2), (2, 4),
        (5, 0), (0, 6),  # 6 is dangling
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    iters, scale = 6, 10**12
    got = {r.node: r.rank for r in pagerank_exact(df, iters=iters).collect()}

    n = 7
    out: dict[int, list[int]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    rank = {v: scale // n for v in range(n)}
    base = (scale * 15) // (100 * n)
    for _ in range(iters):
        m = sum(rank[v] for v in range(n) if v not in out)
        contrib = {v: 0 for v in range(n)}
        for s, ds in out.items():
            c = (rank[s] * 85) // (100 * len(ds))
            for d in ds:
                contrib[d] += c
        rank = {v: base + (m * 85) // (100 * n) + contrib[v] for v in range(n)}
    assert got == rank
    # fixed-point tracks the float power iteration to sub-ppb error
    fr = {v: 1.0 / n for v in range(n)}
    for _ in range(iters):
        fm = sum(fr[v] for v in range(n) if v not in out)
        fc = {v: 0.0 for v in range(n)}
        for s, ds in out.items():
            for d in ds:
                fc[d] += 0.85 * fr[s] / len(ds)
        fr = {v: 0.15 / n + 0.85 * fm / n + fc[v] for v in range(n)}
    for v in range(n):
        assert abs(got[v] / scale - fr[v]) < 1e-9


def test_pagerank_exact_no_dangling_short_circuit(spark):
    """The r13 zero-dangling fast path (m ≡ 0 ⇒ the per-round
    anti-join/aggregate/broadcast subtree is skipped) must stay
    bit-identical to the full recurrence — pinned on a symmetric graph
    where every node has an out-edge, against the same pure-Python
    integer replay the dangling test uses."""
    from data_migration_tool_spark.operators.graph import pagerank_exact

    edges = [
        (0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (0, 2), (3, 4), (4, 3),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    iters, scale = 6, 10**12
    got = {r.node: r.rank for r in pagerank_exact(df, iters=iters).collect()}

    n = 5
    out: dict[int, list[int]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    rank = {v: scale // n for v in range(n)}
    base = (scale * 15) // (100 * n)
    for _ in range(iters):
        m = sum(rank[v] for v in range(n) if v not in out)
        assert m == 0  # the fixture's point: no dangling mass anywhere
        contrib = {v: 0 for v in range(n)}
        for s, ds in out.items():
            c = (rank[s] * 85) // (100 * len(ds))
            for d in ds:
                contrib[d] += c
        rank = {
            v: base + (m * 85) // (100 * n) + contrib[v] for v in range(n)
        }
    assert got == rank


def test_triangle_count_known_graph(spark):
    from data_migration_tool_spark.operators.graph import triangle_count

    # K4 (4 triangles) + a pendant edge + an isolated triangle = 5
    edges = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),  # K4
        (3, 4),                                           # pendant
        (5, 6), (6, 7), (5, 7),                           # triangle
        (1, 0),                                           # dup reversed
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df).first()
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (8, 10, 5)


def test_triangle_wedge_disk_guard(spark, tmp_path):
    """Pins the r12 disk-pricing guard math (VERDICT r11 #2): the
    wedge exchange is priced as Σ_x C(dout(x), 2) × _WEDGE_ROW_BYTES
    BEFORE it launches, and past the byte cap the operator refuses
    loudly with a dmt_guard_events row instead of dying ENOSPC
    mid-stage (the sf10 failure mode SCALE.md r11 recorded twice)."""
    import pytest

    from data_migration_tool_spark.audit.log import AuditLog
    from data_migration_tool_spark.operators.graph import (
        _WEDGE_ROW_BYTES,
        triangle_count,
    )

    # K4: degree-ordered orientation gives out-degrees 3,2,1,0 →
    # wedges = C(3,2)+C(2,2)+C(1,2) = 3+1+0 = 4
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    wedge_rows = 4
    implied = wedge_rows * _WEDGE_ROW_BYTES

    audit = AuditLog(spark, str(tmp_path), run_id="guard-test")
    # one byte under the implied cost → refuse, loudly, with the row
    with pytest.raises(RuntimeError, match="wedge exchange would spill"):
        triangle_count(df, max_spill_bytes=implied - 1, audit=audit)
    ev = audit.table("dmt_guard_events").collect()
    assert len(ev) == 1
    assert ev[0].guard == "triangle_count"
    assert ev[0].action == "refuse"
    assert ev[0].implied_cost == implied
    assert ev[0].cap == implied - 1

    # exactly at the cap → runs; "auto" at toy scale → runs; and the
    # guard pass must not perturb the census
    row = triangle_count(df, max_spill_bytes=implied).first()
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)
    row = triangle_count(df).first()
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)


def test_local_scratch_free_bytes_positive(spark):
    from data_migration_tool_spark.operators.graph import (
        _local_scratch_free_bytes,
    )

    assert _local_scratch_free_bytes(spark) > 0


def test_triangle_guard_conf_scratch_override(spark):
    """Pins the r13 cluster-aware pricing knob (VERDICT r12 #6): a
    declared spark.dmt.scratchBytesPerExecutor takes precedence over
    the driver-local filesystem probe, so the auto guard prices
    against the declared per-executor capacity — here a tiny declared
    scratch forces a refusal even though the real volume has room."""
    import pytest

    from data_migration_tool_spark.operators.graph import (
        _local_scratch_free_bytes,
        triangle_count,
    )

    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    spark.conf.set("spark.dmt.scratchBytesPerExecutor", "100")
    try:
        assert _local_scratch_free_bytes(spark) == 100
        with pytest.raises(RuntimeError, match="wedge exchange would spill"):
            triangle_count(df)  # auto: cap = 0.8 × 100 B declared
    finally:
        spark.conf.unset("spark.dmt.scratchBytesPerExecutor")
    # with the conf cleared, auto prices against the real volume again
    row = triangle_count(df).first()
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)


def test_triangle_guard_bound_short_circuit(spark, monkeypatch):
    """Pins the r13 provable short-circuit (VERDICT r12 #5 /
    ADVICE r12): when the worst-case wedge bound E·√(2E)/2 already
    fits under the cap, the exact pricing aggregate must NOT run (the
    bound proves the exact count fits too); when the bound exceeds
    the cap, the exact pass must run and decide."""
    import pytest

    from data_migration_tool_spark.operators import graph as G

    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    # K4: E=6, s=isqrt(12)+1=4 → bound 12 wedges = 1152 B at 96 B/row

    calls = {"n": 0}
    real = G._exact_wedge_rows

    def counting(oriented):
        calls["n"] += 1
        return real(oriented)

    monkeypatch.setattr(G, "_exact_wedge_rows", counting)

    # cap comfortably above the bound → skipped, census still exact
    row = G.triangle_count(df, max_spill_bytes=2000).first()
    assert calls["n"] == 0
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)

    # cap below the bound but above the exact implied bytes (384) →
    # the exact pass runs and ALLOWS (the bound alone would have
    # refused — pinning that the bound is never used to refuse)
    row = G.triangle_count(df, max_spill_bytes=500).first()
    assert calls["n"] == 1
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)

    # cap below the exact implied bytes → exact pass runs and refuses
    with pytest.raises(RuntimeError, match="wedge exchange would spill"):
        G.triangle_count(df, max_spill_bytes=300)
    assert calls["n"] == 2


def test_incremental_agg_state_roundtrip_equals_full_recompute(spark, tmp_path):
    """Partial states persisted to parquet, then merged with a later
    delta's partials, must equal a from-scratch aggregate — counts,
    exact sums, mean, variance, min/max."""
    from data_migration_tool_spark.operators import incremental_agg as IA

    base = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 51)]
        + [("b", float(i * 3)) for i in range(1, 31)],
        "k string, x double",
    )
    delta = spark.createDataFrame(
        [("a", 99.25), ("b", 0.5), ("c", 7.0), ("c", 9.0)], "k string, x double"
    )
    state_path = str(tmp_path / "state")
    IA.partials(base, ["k"], "x").write.parquet(state_path)
    restored = spark.read.parquet(state_path)
    merged = IA.finalize(
        IA.merge_partials([restored, IA.partials(delta, ["k"], "x")], ["k"]),
        ["k"],
    )
    direct = IA.finalize(
        IA.partials(base.unionByName(delta), ["k"], "x"), ["k"]
    )
    got = {r["k"]: r.asDict() for r in merged.collect()}
    want = {r["k"]: r.asDict() for r in direct.collect()}
    assert got == want
    assert got["c"]["n_rows"] == 2 and float(got["c"]["total"]) == 16.0


def test_incremental_agg_single_row_group_null_variance(spark):
    """A one-row group must yield NULL variance (sample variance is
    undefined at n=1), not a DIVIDE_BY_ZERO under Spark-4 ANSI mode."""
    from data_migration_tool_spark.operators import incremental_agg as IA

    df = spark.createDataFrame(
        [("solo", 42.0), ("pair", 1.0), ("pair", 3.0)], "k string, x double"
    )
    out = {
        r["k"]: r.asDict()
        for r in IA.finalize(IA.partials(df, ["k"], "x"), ["k"]).collect()
    }
    assert out["solo"]["variance"] is None
    assert out["solo"]["mean"] == 42.0
    assert abs(out["pair"]["variance"] - 2.0) < 1e-12


def test_zorder_interleave_matches_python_reference(spark):
    from data_migration_tool_spark.sources.zorder import zorder_by

    rows = [(a, b) for a in range(0, 16) for b in range(0, 16)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in zorder_by(df, ["a", "b"], bits=4).collect()
    }

    def ref_z(a, b, bits=4):  # a at even bits, b at odd — matches interleave()
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    # domain is [0,15] so min-max scaling to 4 bits is identity
    assert all(got[(a, b)] == ref_z(a, b) for a, b in rows)


def test_zorder_buckets_bound_both_dimensions(spark):
    """Top-k z-bits split BOTH dimensions: every 4-bucket (2 bits/dim)
    envelope must span at most ~half of each dimension's domain."""
    from data_migration_tool_spark.sources.zorder import zorder_by
    from pyspark.sql import functions as F

    rows = [(a, b) for a in range(64) for b in range(64)]
    df = spark.createDataFrame(rows, "a long, b long")
    z = zorder_by(df, ["a", "b"], bits=6, out="z")
    env = (
        z.withColumn("bucket", F.shiftright("z", 8))
        .groupBy("bucket")
        .agg(
            F.min("a").alias("mna"), F.max("a").alias("mxa"),
            F.min("b").alias("mnb"), F.max("b").alias("mxb"),
        )
        .collect()
    )
    assert len(env) == 16  # 4 top bits → 16 buckets
    for r in env:
        assert r["mxa"] - r["mna"] <= 31
        assert r["mxb"] - r["mnb"] <= 31
    # and the plan stays JVM-side
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = z._jdf.queryExecution().explainString(jmode)
    assert "Python" not in plan


def test_span_dedup_clean_semantics(spark, tmp_path):
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_migration_tool_spark.plans.textq import doc_span_dedup_clean

    # block "a b c d e" appears in 3 distinct docs -> boilerplate (>=3)
    docs = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e x y z w v"),
        (3, "a b c d e p q"),
        (4, "unique words only here now"),
        (5, "a b c d e"),  # pure boilerplate -> everything dropped
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs]),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["s"] * len(docs)),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq_.write_table(tbl, f"{tmp_path}/documents.parquet")

    out = {r.doc_id: r for r in doc_span_dedup_clean(spark, str(tmp_path)).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731

    assert out[1].n_blocks == 2 and out[1].n_dropped == 1
    assert out[1].clean_n_tokens == 5
    assert out[1].clean_md5 == md5("f g h i j")
    # partial last block survives and keeps its own token count
    assert out[3].n_blocks == 2 and out[3].n_dropped == 1
    assert out[3].clean_n_tokens == 2
    assert out[3].clean_md5 == md5("p q")
    # untouched doc: nothing dropped, hash of the full text
    assert out[4].n_dropped == 0
    assert out[4].clean_md5 == md5(docs[3][1])
    # fully-boilerplate doc: everything dropped, NULL hash (not md5(''))
    assert out[5].n_blocks == 1 and out[5].n_dropped == 1
    assert out[5].clean_n_tokens == 0 and out[5].clean_md5 is None


def _exact_substr_brute(docs, K=5):
    """Python reference for doc_exact_substring_dedup: overlapping
    K-token windows, canonical (min doc_id, min pos) occurrence kept,
    every other occurrence covers its K positions; islands merge."""
    import hashlib
    from collections import defaultdict

    toks = {d: [t for t in txt.split(" ") if t] for d, txt in docs}
    occ = defaultdict(list)
    for d, t in toks.items():
        for p in range(len(t) - K + 1):
            occ[" ".join(t[p : p + K])].append((d, p))
    covered = defaultdict(set)
    for lst in occ.values():
        lst.sort()
        for d, p in lst[1:]:
            covered[d].update(range(p, p + K))
    out = {}
    for d, t in toks.items():
        cov = sorted(covered.get(d, ()))
        spans = sum(
            1 for i, p in enumerate(cov) if i == 0 or p != cov[i - 1] + 1
        )
        kept = [tok for i, tok in enumerate(t) if i not in covered.get(d, ())]
        clean = (
            hashlib.md5(" ".join(kept).encode()).hexdigest() if kept else None
        )
        out[d] = (len(t), len(cov), spans, clean)
    return out


def test_exact_substring_dedup_semantics(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_migration_tool_spark.plans.textq import doc_exact_substring_dedup

    docs = [
        (1, "a b c d e f g h i j"),  # canonical owner of every window
        (2, "x a b c d e f y z w"),  # two overlapping dup windows -> 1 span
        (3, "a b c d e q r s t u a b c d e"),  # cross-doc AND intra-doc dup
        (4, "short one two"),  # < 5 tokens: no windows, untouched
        (5, "a b c d e"),  # fully duplicated -> NULL hash
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs]),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["s"] * len(docs)),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq_.write_table(tbl, f"{tmp_path}/documents.parquet")

    out = {
        r.doc_id: r
        for r in doc_exact_substring_dedup(spark, str(tmp_path)).collect()
    }
    ref = _exact_substr_brute(docs)
    for d in ref:
        r = out[d]
        assert (r.n_tokens, r.n_removed, r.n_spans, r.clean_md5) == ref[d], d

    # pin the interesting cases explicitly, independent of the brute
    assert out[1].n_removed == 0  # first occurrence retained
    assert out[2].n_removed == 6 and out[2].n_spans == 1  # overlap merged
    assert out[3].n_removed == 10 and out[3].n_spans == 2  # intra-doc too
    assert out[4].n_removed == 0
    assert out[5].clean_md5 is None and out[5].n_removed == 5


def test_exact_substring_dedup_random_vs_brute(spark, tmp_path):
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_migration_tool_spark.plans.textq import doc_exact_substring_dedup

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(8)]  # tiny vocab forces collisions
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(40)
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs]),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["s"] * len(docs)),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq_.write_table(tbl, f"{tmp_path}/documents.parquet")

    out = {
        r.doc_id: (r.n_tokens, r.n_removed, r.n_spans, r.clean_md5)
        for r in doc_exact_substring_dedup(spark, str(tmp_path)).collect()
    }
    assert out == _exact_substr_brute(docs)


def test_exact_substring_incremental_equals_full_restricted(spark, tmp_path):
    """The family contract (same as the LSH/dHash twins): incremental
    output == full-corpus run restricted to batch docs, under the
    append contract (batch ids sort after every indexed id)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_migration_tool_spark.plans.textq import (
        doc_exact_substring_incremental,
    )

    rng = random.Random(131)
    vocab = [f"w{i}" for i in range(8)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(50)
    ]
    # planted cross-boundary dup: batch doc 49 repeats corpus doc 0's
    # opening span; batch-only dup: 48 and 47 share a fresh span
    docs[0] = (0, "p q r s t u v " + docs[0][1])
    docs[49] = (49, docs[49][1] + " p q r s t u v")
    docs[48] = (48, "n1 n2 n3 n4 n5 " + docs[48][1])
    docs[47] = (47, docs[47][1] + " n1 n2 n3 n4 n5")
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs]),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["s"] * len(docs)),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq_.write_table(tbl, f"{tmp_path}/documents.parquet")

    split = 49 * 4 // 5  # the query's integer-exact split scalar
    out = {
        r.doc_id: (r.n_tokens, r.n_removed, r.n_spans, r.clean_md5)
        for r in doc_exact_substring_incremental(spark, str(tmp_path)).collect()
    }
    full = _exact_substr_brute(docs)
    expected = {d: v for d, v in full.items() if d > split}
    assert out == expected
    # the planted dups actually fired: 49's corpus-indexed span is
    # covered; 48 loses the batch-only span to canonical owner 47
    assert out[49][1] >= 7 and out[48][1] >= 5 and full[47][1] == out[47][1]
    assert all(d > split for d in out)


def test_knn_label_vote_majority_and_tiebreak(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_migration_tool_spark.plans.vectorq import knn_label_vote

    # two tight clusters: label 1 near e0, label 2 near e1.
    # queries are ids < 50: q0 sits in cluster 1 (true label 1),
    # q1 sits in cluster 1 too but carries true label 2 (misclassified).
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0], 1),
        (1, [0.99, 0.1, 0.0, 0.0], 2),
        (100, [1.0, 0.01, 0.0, 0.0], 1),
        (101, [1.0, 0.02, 0.0, 0.0], 1),
        (102, [1.0, 0.03, 0.0, 0.0], 1),
        (103, [0.0, 1.0, 0.0, 0.0], 2),
        (104, [0.0, 1.0, 0.01, 0.0], 2),
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
            "label": pa.array([v[2] for v in vecs], pa.int32()),
        }
    )
    pq_.write_table(tbl, f"{tmp_path}/embeddings.parquet")

    out = {r.vec_id: r for r in knn_label_vote(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1}
    # q0's 5-NN: q1, 100, 101, 102 (label 1 x3 + label 2 x1) + 103 -> label 1 wins 3-2
    assert out[0].true_label == 1 and out[0].pred_label == 1 and out[0].votes == 3
    # q1's 5-NN: q0, 100, 101, 102 are label 1 -> majority label 1, truth is 2
    assert out[1].true_label == 2 and out[1].pred_label == 1 and out[1].votes == 4


def test_simhash_near_dups_exact_vs_bruteforce(spark):
    # pigeonhole claim: 4 bands over 32 bits lose NO pair at hamming<=3.
    # brute-force all-pairs over the collected signatures is the oracle.
    rows = []
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    for i in range(24):
        toks = [words[(i + j) % len(words)] for j in range(6)]
        if i % 3 == 0:
            toks[0] = "mutant"  # inject small signature perturbations
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sig = DD.simhash(df, bits=32)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in DD.hamming_near_dup_pairs(
            sig, sig_col="simhash", bits=32, bands=4, max_hamming=3
        ).collect()
    }

    sigs = {r.doc_id: r.simhash for r in sig.collect()}
    want = {}
    ids = sorted(sigs)
    for x in ids:
        for y in ids:
            if x < y and bin(sigs[x] ^ sigs[y]).count("1") <= 3:
                want[(x, y)] = bin(sigs[x] ^ sigs[y]).count("1")
    assert got == want and len(want) > 0


def test_budget_allocation_sums_exactly_and_is_hamilton(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_migration_tool_spark.plans.textq import (
        _BUDGET,
        corpus_budget_allocation,
    )

    # masses chosen so floor allocations UNDER-fill and remainders
    # decide the last seats: 3/7/11 of 21 total
    docs, did = [], 0
    for src, chars in (("a", 3), ("b", 7), ("c", 11)):
        docs.append((did, "x", "en", src, chars))
        did += 1
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs]),
            "lang": pa.array([d[2] for d in docs]),
            "source": pa.array([d[3] for d in docs]),
            "n_chars": pa.array([d[4] for d in docs], pa.int64()),
        }
    )
    pq_.write_table(tbl, f"{tmp_path}/documents.parquet")

    out = {
        r.source: r.alloc_tokens
        for r in corpus_budget_allocation(spark, str(tmp_path)).collect()
    }
    assert sum(out.values()) == _BUDGET  # Hamilton invariant: exact fill
    # python reference: floor seats + largest remainders
    masses = {"a": 3, "b": 7, "c": 11}
    total = sum(masses.values())
    base = {s: (_BUDGET * m) // total for s, m in masses.items()}
    rem = {s: (_BUDGET * m) % total for s, m in masses.items()}
    left = _BUDGET - sum(base.values())
    for s in sorted(masses, key=lambda s: (-rem[s], s))[:left]:
        base[s] += 1
    assert out == base


def test_lsh_incremental_equals_full_run_restricted(spark):
    # contract: incremental(batch, index(standing)) == full-corpus LSH
    # pairs restricted to pairs touching the batch
    rows = []
    base = "the quick brown fox jumps over the lazy dog near the river"
    for i in range(12):
        words = base.split()
        if i % 4 == 0:
            words[-1] = f"variant{i // 4}"  # three near-dup families
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = df.filter(F.col("doc_id") % 3 == 0)
    standing = df.filter(F.col("doc_id") % 3 != 0)

    inc = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in DD.minhash_lsh_incremental(
            batch, DD.lsh_index(standing), standing, threshold=0.3
        ).collect()
    }
    full = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in DD.minhash_lsh_dedup(df, threshold=0.3).collect()
        if r.id_a % 3 == 0 or r.id_b % 3 == 0
    }
    assert inc == full and len(full) > 0


def test_pca_power_exact_converges_to_top_component(spark, tmp_path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_migration_tool_spark.plans.vectorq import (
        embedding_pca_power_exact,
    )

    # synthetic corpus with a PLANTED dominant direction: strong
    # variance along u, isotropic noise elsewhere
    rng = np.random.RandomState(7)
    d, n = 16, 300
    u = rng.randn(d)
    u /= np.linalg.norm(u)
    X = rng.randn(n, 1) * 0.5 @ u[None, :] + rng.randn(n, d) * 0.05
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [row.astype("float32") for row in X], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * n, pa.int32()),
        }
    )
    pq_.write_table(tbl, f"{tmp_path}/embeddings.parquet")

    got = {
        r.vec_id: r.pc1_raw
        for r in embedding_pca_power_exact(spark, str(tmp_path)).collect()
    }
    proj = np.array([got[i] for i in range(n)], dtype="float64")
    Xc = X - X.mean(0)
    true_p = Xc @ np.linalg.eigh(np.cov(Xc.T))[1][:, -1]
    corr = abs(np.corrcoef(proj, true_p)[0, 1])
    assert corr > 0.999, corr


def test_pca_power2_exact_converges_to_top_two_components(spark, tmp_path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_migration_tool_spark.plans.vectorq import (
        embedding_pca_power2_exact,
    )

    # two PLANTED orthogonal directions with separated variances, small
    # isotropic noise — the fixed-point iteration must recover both
    rng = np.random.RandomState(11)
    d, n = 16, 300
    q, _ = np.linalg.qr(rng.randn(d, 2))
    u1, u2 = q[:, 0], q[:, 1]
    X = (
        rng.randn(n, 1) * 0.8 @ u1[None, :]
        + rng.randn(n, 1) * 0.4 @ u2[None, :]
        + rng.randn(n, d) * 0.03
    )
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [row.astype("float32") for row in X], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * n, pa.int32()),
        }
    )
    pq_.write_table(tbl, f"{tmp_path}/embeddings.parquet")

    got = {
        r.vec_id: (r.pc1_raw, r.pc2_raw)
        for r in embedding_pca_power2_exact(spark, str(tmp_path)).collect()
    }
    p1 = np.array([got[i][0] for i in range(n)], dtype="float64")
    p2 = np.array([got[i][1] for i in range(n)], dtype="float64")
    Xc = X - X.mean(0)
    evecs = np.linalg.eigh(np.cov(Xc.T))[1]
    t1, t2 = Xc @ evecs[:, -1], Xc @ evecs[:, -2]
    assert abs(np.corrcoef(p1, t1)[0, 1]) > 0.999
    assert abs(np.corrcoef(p2, t2)[0, 1]) > 0.99
    # and the recovered directions are genuinely distinct
    assert abs(np.corrcoef(p1, p2)[0, 1]) < 0.2


def test_semantic_packing_topic_coherent_and_dense(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_migration_tool_spark.plans.windowq import doc_semantic_packing

    # 6 docs, 2 topics; each doc 1000 tokens -> within a topic, docs
    # pack contiguously at 2048/window (offsets 0, 1000, 2000->pack 0
    # spill layout: third doc starts at 2000 in pack 0)
    docs = [(i, " ".join(["w"] * 1000)) for i in range(6)]
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs]),
            "lang": pa.array(["en"] * 6),
            "source": pa.array(["s"] * 6),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq_.write_table(tbl, f"{tmp_path}/documents.parquet")
    emb = pa.table(
        {
            "vec_id": pa.array(range(6), pa.int64()),
            "embedding": pa.array([[0.0] * 4] * 6, pa.list_(pa.float32())),
            "label": pa.array([i % 2 for i in range(6)], pa.int32()),
        }
    )
    pq_.write_table(emb, f"{tmp_path}/embeddings.parquet")

    rows = doc_semantic_packing(spark, str(tmp_path)).collect()
    assert len(rows) == 6
    by_topic = {}
    for r in rows:
        by_topic.setdefault(r.topic, []).append(r)
    assert set(by_topic) == {0, 1}
    for topic, rs in by_topic.items():
        # dense within topic: starts are 0, 1000, 2000 in md5 order
        starts = sorted(r.pack_id * 2048 + r.offset for r in rs)
        assert starts == [0, 1000, 2000]
        # third doc crosses into pack 0's tail (contiguous packing)
        assert {(r.pack_id, r.offset) for r in rs} == {
            (0, 0), (0, 1000), (0, 2000)
        }


def test_span_dedup_survives_universal_boilerplate_block(spark, tmp_path):
    """Degenerate hot-key case: ONE block appears in EVERY document
    (the docstring's AQE-skew scenario). The verdict join must still
    produce exact per-doc accounting — the universal block dropped
    everywhere, each doc's unique tail kept."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_migration_tool_spark.plans.textq import doc_span_dedup_clean

    boiler = "subscribe to our newsletter now1"  # one 5-token block
    docs = [
        (i, f"{boiler} unique{i} tail{i}") for i in range(200)
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs]),
            "lang": pa.array(["en"] * 200),
            "source": pa.array(["s"] * 200),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq_.write_table(tbl, f"{tmp_path}/documents.parquet")

    out = {r.doc_id: r for r in doc_span_dedup_clean(spark, str(tmp_path)).collect()}
    assert len(out) == 200
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    for i in (0, 57, 199):
        r = out[i]
        assert r.n_blocks == 2 and r.n_dropped == 1
        assert r.clean_n_tokens == 2
        assert r.clean_md5 == md5(f"unique{i} tail{i}")


def test_bm25_matches_python_reference(spark):
    """doc_bm25_topk vs an independent pure-Python scorer over sf0.001.

    The Python path replicates the integer num/den construction and the
    IEEE floor(q * 1e6) fixed-point step with Python floats (which ARE
    IEEE doubles), so every rank and score must match bit-for-bit."""
    import math

    import pyarrow.parquet as pq

    from data_migration_tool_spark.plans import textq as TQ
    from tests.conftest import SF_DIR

    tab = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    docs = {
        r["doc_id"]: [t for t in r["text"].split(" ") if t]
        for r in tab.to_pylist()
    }
    n_docs = len(docs)
    l_tot = sum(len(ts) for ts in docs.values())
    qterms = sorted({t for _, t in TQ._BM25_QUERIES})
    tf = {}  # (doc, term) -> count
    for d, ts in docs.items():
        for t in ts:
            if t in qterms:
                tf[(d, t)] = tf.get((d, t), 0) + 1
    df = {}
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    scores = {}  # (query_id, doc) -> (micro_sum, n_terms)
    for qid, t in TQ._BM25_QUERIES:
        for (d, tt), f in tf.items():
            if tt != t:
                continue
            dl = len(docs[d])
            num = float((2 * n_docs - 2 * df[t] + 1) * (22 * l_tot * f))
            den = float(
                (2 * df[t] + 1) * (10 * l_tot * f + 3 * l_tot + 9 * dl * n_docs)
            )
            micro = math.floor(num / den * float(TQ._BM25_SCALE))
            s, c = scores.get((qid, d), (0, 0))
            scores[(qid, d)] = (s + micro, c + 1)
    expect = set()
    by_q = {}
    for (qid, d), (s, c) in scores.items():
        by_q.setdefault(qid, []).append((-s, d, c))
    for qid, rows in by_q.items():
        for rk, (neg_s, d, c) in enumerate(sorted(rows)[: TQ._BM25_TOPK], 1):
            expect.add((qid, d, rk, -neg_s, c))

    got = {
        (r.query_id, r.doc_id, r.rk, r.bm25_micro, r.n_terms)
        for r in TQ.doc_bm25_topk(spark, SF_DIR).collect()
    }
    assert got == expect


def test_lsh_mask_ladder_and_prefix_property(spark):
    """The corpus-derived sign-LSH width: (a) the integer ladder picks
    the smallest p in [4,16] with n <= 64*2^p; (b) the md5-keyed sign
    matrix makes the 16-bit bucket's low-p bits EQUAL to the p-bit
    bucket, so masking is exactly re-bucketing at width p."""
    ladder = SIM.lsh_mask_ladder()
    # (a) derivation: walk the ladder the way both engines' CASE does
    def derived_mask(n):
        for max_n, mask in ladder:
            if n <= max_n:
                return mask
        return (1 << SIM.LSH_MAX_BITS) - 1

    assert derived_mask(500) == (1 << 4) - 1      # gate scale: unchanged
    assert derived_mask(2000) == (1 << 5) - 1     # sf0.1
    assert derived_mask(20_000) == (1 << 9) - 1   # sf1 upsample
    assert derived_mask(100_000) == (1 << 11) - 1
    assert derived_mask(10**9) == (1 << 16) - 1   # capped

    # (b) prefix property on real vectors
    import pyarrow.parquet as pq
    from tests.conftest import SF_DIR

    rows = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pylist()[:32]
    df = spark.createDataFrame([(r["vec_id"], r["embedding"]) for r in rows],
                               "vec_id long, embedding array<float>")
    s16 = SIM.hyperplane_signs(n_bits=SIM.LSH_MAX_BITS, dim=64)
    s4 = SIM.hyperplane_signs(n_bits=4, dim=64)
    assert s16[:4] == s4  # the matrix is width-independent
    got = df.select(
        (SIM.hyperplane_lsh_bucket("embedding", s16).bitwiseAND(F.lit(15)))
        .alias("masked"),
        SIM.hyperplane_lsh_bucket("embedding", s4).alias("narrow"),
    ).collect()
    assert all(r.masked == r.narrow for r in got)


def test_signlsh_hot_bucket_valve(spark):
    """cap_bucket_size on the sign-LSH lane: a hot bucket (many copies
    of one vector) is dropped while a small bucket's pair survives —
    the B^2-in-one-task guard for adversarially duplicated embeddings."""
    import math

    dim = 64
    base = [math.sin(i + 1) for i in range(dim)]      # family A: 2 near-dups
    hot = [math.cos(i + 1) for i in range(dim)]       # family B: 5 exact dups
    rows = [(1, base), (2, [x * 1.001 for x in base])] + [
        (10 + k, hot) for k in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    signs = SIM.hyperplane_signs(n_bits=SIM.LSH_MAX_BITS, dim=dim)
    b = df.select(
        "vec_id",
        "embedding",
        SIM.hyperplane_lsh_bucket("embedding", signs)
        .bitwiseAND(F.lit(15))
        .alias("bucket"),
    )
    capped = SIM.cap_bucket_size(b, "bucket", 4)
    ids = {r.vec_id for r in capped.collect()}
    assert not any(i >= 10 for i in ids)  # hot bucket dropped whole
    assert {1, 2} <= ids                  # small bucket intact


def test_hot_bucket_valve_audit_row(spark, tmp_path):
    """Engaging the valve with an audit sink leaves a dmt_guard_events
    row (the reference's 16 TB-guard observability contract: every
    skip is recorded, hive_bq_load_utils.py:154-173) — and a run with
    no hot bucket leaves none."""
    import math

    from data_migration_tool_spark.audit.log import AuditLog

    dim = 64
    hot = [math.cos(i + 1) for i in range(dim)]
    rows = [(10 + k, hot) for k in range(5)] + [
        (1, [math.sin(i + 1) for i in range(dim)])
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    signs = SIM.hyperplane_signs(n_bits=SIM.LSH_MAX_BITS, dim=dim)
    b = df.select(
        "vec_id",
        SIM.hyperplane_lsh_bucket("embedding", signs)
        .bitwiseAND(F.lit(15))
        .alias("bucket"),
    )
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    SIM.cap_bucket_size(b, "bucket", 4, audit=audit, context="unit-hot").count()
    got = audit.table("dmt_guard_events").collect()
    assert len(got) == 1
    row = got[0]
    assert row.guard == "cap_bucket_size"
    assert row.action == "reroute"
    assert row.subject == "unit-hot"
    assert row.cap == 4 and row.implied_cost == 25  # 5-row bucket → 5²
    # cap above every bucket: valve silent, no new row
    SIM.cap_bucket_size(b, "bucket", 50, audit=audit, context="unit-cold").count()
    assert audit.table("dmt_guard_events").count() == 1


def test_jaccard_guard_refusal_audit_row(spark, tmp_path):
    """The exact-Jaccard guard's refusal and its auto_candidates
    degrade both leave dmt_guard_events rows quoting the statistics
    the decision was made on."""
    import pytest as _pytest

    from data_migration_tool_spark.audit.log import AuditLog
    from data_migration_tool_spark.operators import dedup as DD

    # every doc shares the same text → one hot shingle per position,
    # implied pair volume n²-shaped; a static cap of 1 forces the guard
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    with _pytest.raises(RuntimeError, match="shingle self-join"):
        DD.ngram_jaccard_pairs(df, max_join_pairs=1, audit=audit)
    refusals = audit.table("dmt_guard_events").collect()
    assert len(refusals) == 1 and refusals[0].action == "refuse"
    assert refusals[0].guard == "ngram_jaccard_pairs"
    assert refusals[0].implied_cost > refusals[0].cap == 1
    DD.ngram_jaccard_pairs(
        df, max_join_pairs=1, auto_candidates=True, audit=audit
    ).count()
    actions = sorted(
        r.action for r in audit.table("dmt_guard_events").collect()
    )
    assert actions == ["degrade", "refuse"]


def test_containment_guard_prices_saturated_corpus(spark, tmp_path):
    """The r10 containment cost guard: on a corpus whose shingle domain
    saturates (tiny vocabulary → every posting list ~n), the implied
    prefix-candidate volume Σ pc·df is quadratic and the operator must
    refuse BEFORE the join, quoting both statistics and writing a
    dmt_guard_events row; on an open-vocabulary corpus the same budget
    stays silent and results are unchanged."""
    import pytest as _pytest

    from data_migration_tool_spark.audit.log import AuditLog
    from data_migration_tool_spark.operators import dedup as DD

    # saturated: 40 docs over a 3-word vocabulary — 27 possible
    # shingles, mean posting length ~doc count, prefix filter powerless
    sat = spark.createDataFrame(
        [
            (i, " ".join(["abc"[(i * 7 + j * 3) % 3] * 2 for j in range(12)]))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    with _pytest.raises(RuntimeError, match="saturated shingle domain"):
        DD.containment_pairs(sat, linear_budget=4, audit=audit)
    got = audit.table("dmt_guard_events").collect()
    assert len(got) == 1 and got[0].action == "refuse"
    assert got[0].guard == "containment_pairs"
    assert got[0].implied_cost > got[0].cap == 4 * 40

    # open vocabulary: every doc unique words + one doc contained in
    # another — same budget, no refusal, the pair is found exactly
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(10))) for i in range(20)]
    rows.append((100, rows[0][1] + " extra trailing words here now"))
    opened = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.containment_pairs(opened, linear_budget=4, audit=audit)
    pairs = {(r.contained_id, r.container_id) for r in out.collect()}
    assert (0, 100) in pairs
    assert audit.table("dmt_guard_events").count() == 1  # no new rows

    # static-cap semantics and the opt-out
    with _pytest.raises(RuntimeError, match="max_candidates=2"):
        DD.containment_pairs(sat, max_candidates=2)
    assert (
        DD.containment_pairs(sat, max_candidates=None, threshold=0.9).count()
        > 0
    )  # quadratic opt-in still computes exact containment


def test_containment_auto_sample_degrade(spark, tmp_path):
    """auto_sample=True converts the refusal into a self-sized
    deterministic sample: the degrade writes a dmt_guard_events row
    naming the chosen k/256 rate, and the output equals running the
    guard-free operator on the same manual md5 slice."""
    import re

    from data_migration_tool_spark.audit.log import AuditLog
    from data_migration_tool_spark.operators import dedup as DD

    sat = spark.createDataFrame(
        [
            (i, " ".join(["abc"[(i * 7 + j * 3) % 3] * 2 for j in range(12)]))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    out = DD.containment_pairs(
        sat, linear_budget=4, auto_sample=True, audit=audit
    ).collect()
    events = audit.table("dmt_guard_events").collect()
    assert {e.action for e in events} >= {"degrade"}
    # each degrade level re-prices the slice and may degrade again with
    # a strictly lower absolute cut; the OUTPUT corresponds to the
    # final (smallest) rate across the recorded degrade rows
    rates = [
        int(m.group(1))
        for e in events
        if e.action == "degrade"
        for m in [re.search(r"rate (\d+)/256", e.detail)]
        if m
    ]
    assert rates, [e.detail for e in events]
    # strict progress: every degrade level records a DISTINCT absolute
    # cut (the audit sink doesn't guarantee read order, so distinctness
    # is the order-free form of "strictly decreasing")
    assert len(set(rates)) == len(rates), rates
    cut = format(min(rates), "02x")
    manual = (
        DD.containment_pairs(
            sat.filter(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < cut
            ),
            max_candidates=None,
        )
        .collect()
    )
    key = lambda r: (r.contained_id, r.container_id, r.containment)  # noqa: E731
    assert sorted(map(key, out)) == sorted(map(key, manual))
    # every returned id is inside the declared slice
    for r in out:
        for i in (r.contained_id, r.container_id):
            import hashlib

            assert hashlib.md5(str(i).encode()).hexdigest()[:2] < cut


def test_containment_adaptive_full_when_under_budget(spark):
    """Under budget the adaptive operator runs the FULL prefix-filtered
    join (no slice) and stamps sample_k=256 on every row — identical
    pairs to the plain guarded operator."""
    from data_migration_tool_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h i j"),
            (3, "x y z w v u"),
        ],
        "doc_id long, text string",
    )
    out = DD.containment_pairs_adaptive(docs).collect()
    assert out and all(r.sample_k == 256 for r in out)
    base = DD.containment_pairs(docs).collect()
    key = lambda r: (r.contained_id, r.container_id, r.containment)  # noqa: E731
    assert sorted(map(key, out)) == sorted(map(key, base))


def test_containment_adaptive_degrades_with_full_budget(spark, tmp_path):
    """Past the budget the adaptive operator derives the power-of-two
    ladder rate against the FULL corpus cap (not the slice's shrunken
    cap — the reason the fixed-rate twin refuses where this one
    answers), audits the degrade, stamps the derived k, and matches
    the guard-free operator on the same manual md5 slice."""
    import hashlib

    from data_migration_tool_spark.audit.log import AuditLog
    from data_migration_tool_spark.operators import dedup as DD

    sat = spark.createDataFrame(
        [
            (i, " ".join(["abc"[(i * 7 + j * 3) % 3] * 2 for j in range(12)]))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    out = DD.containment_pairs_adaptive(
        sat, linear_budget=8, audit=audit
    ).collect()
    events = audit.table("dmt_guard_events").collect()
    degrades = [e for e in events if e.action == "degrade"]
    assert len(degrades) == 1, [e.detail for e in events]
    ks = {r.sample_k for r in out}
    assert len(ks) == 1
    k = ks.pop()
    assert k in {128, 64, 32, 16, 8, 4, 2, 1}
    assert f"rate {k}/256" in degrades[0].detail
    # ladder arithmetic: k is the LARGEST power-of-two rate with
    # implied·(k/256)² ≤ cap — recompute from the audited statistics
    implied, cap = degrades[0].implied_cost, degrades[0].cap
    j = 0
    while j <= 8 and implied > cap * (4**j):
        j += 1
    assert k == 256 >> j
    cut = format(k, "02x")
    manual = DD.containment_pairs(
        sat.filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < cut
        ),
        max_candidates=None,
    ).collect()
    key = lambda r: (r.contained_id, r.container_id, r.containment)  # noqa: E731
    assert sorted(key(r) for r in out) == sorted(map(key, manual))
    for r in out:
        for i in (r.contained_id, r.container_id):
            assert hashlib.md5(str(i).encode()).hexdigest()[:2] < cut


def test_containment_adaptive_refuses_past_ladder(spark, tmp_path):
    """If even rate 1/256 leaves the estimated volume over budget the
    adaptive operator refuses loudly with an audited refuse row —
    guard-as-result, not a silent over-budget run."""
    import pytest

    from data_migration_tool_spark.audit.log import AuditLog
    from data_migration_tool_spark.operators import dedup as DD

    sat = spark.createDataFrame(
        [(i, "a a b b c c a b c a b c") for i in range(60)],
        "doc_id long, text string",
    )
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    with pytest.raises(RuntimeError, match="1/256"):
        DD.containment_pairs_adaptive(sat, linear_budget=0, audit=audit)
    events = audit.table("dmt_guard_events").collect()
    assert {e.action for e in events} == {"refuse"}


def test_containment_thresholds_match_bruteforce(spark):
    """The operator's exact-rational prefix sizing generalizes past the
    registry's t=0.9: at several thresholds the prefix-filtered result
    must equal a brute-force all-pairs computation (losslessness of the
    pigeonhole prefix is threshold-dependent — this is the test that
    catches an off-by-one in ceil(t·n) for thresholds whose (1−t)
    expansion is not a finite binary float, e.g. 0.8)."""
    from data_migration_tool_spark.operators import dedup as DD

    texts = {
        1: "a b c d e f g h i j k l",          # 10 shingles
        2: "a b c d e f g h i j k l m n o p",  # superset container
        3: "x y z a b c d e f g h i j",        # partial overlap
        4: "p q r s t u v w",                  # disjoint-ish
        5: "a b c d e f g h i j k l",          # exact dup of 1
    }
    rows = [(i, t) for i, t in texts.items()]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {i: shingles(t) for i, t in texts.items()}
    for thr in (0.5, 0.8, 0.9, 1.0):
        expect = set()
        for a in sets:
            for b in sets:
                if a != b and round(len(sets[a] & sets[b]) / len(sets[a]), 6) >= thr:
                    expect.add((a, b))
        got = {
            (r.contained_id, r.container_id)
            for r in DD.containment_pairs(df, threshold=thr).collect()
        }
        assert got == expect, f"threshold {thr}: {got ^ expect}"


def test_rrf_fuse_overlapping_and_single_arm(spark):
    """RRF fusion on planted frames where the arms OVERLAP (the gate
    corpus's arms happen not to, so the both-arms sum path needs this
    pin): a doc ranked 1 in both arms must score 2·(1e6 div 61) and
    outrank single-arm docs; ties break by doc_id; single-arm docs get
    exactly their own arm's floor contribution."""
    from data_migration_tool_spark.plans.textq import rrf_fuse

    sparse = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rk_sparse long"
    )
    dense = spark.createDataFrame(
        [(1, 10, 1), (1, 12, 2)], "query_id long, doc_id long, rk_dense long"
    )
    rows = {r.doc_id: r for r in rrf_fuse(sparse, dense).collect()}
    both = 1_000_000 // 61
    single2 = 1_000_000 // 62
    assert rows[10].rrf_micro == 2 * both and rows[10].fused_rank == 1
    assert rows[11].rrf_micro == single2 and rows[11].rk_dense is None
    assert rows[12].rrf_micro == single2 and rows[12].rk_sparse is None
    # equal fused scores -> doc_id ascending breaks the tie
    assert (rows[11].fused_rank, rows[12].fused_rank) == (2, 3)


def test_broadcast_cap_guards_audit_rows(spark, tmp_path, monkeypatch):
    """The 262k-vector broadcast caps (VERDICT r8 ask #4) write
    dmt_guard_events refusal rows when an oversized operand lands on
    the broadcast side — one row per engagement, quoting the implied
    row count vs the cap, same sink as the dedup/valve guards."""
    import math

    import pytest as _pytest

    from data_migration_tool_spark.audit.log import AuditLog

    monkeypatch.setattr(SIM, "MAX_BROADCAST_VECTORS", 4)
    dim = 8
    rows = [
        (i, [math.cos(i * dim + j + 1) for j in range(dim)]) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))

    with _pytest.raises(RuntimeError, match="broadcast side"):
        SIM.brute_force_topk(df, df, k=1, audit=audit)
    got = audit.table("dmt_guard_events").collect()
    assert len(got) == 1
    assert got[0].guard == "brute_force_topk" and got[0].action == "refuse"
    assert got[0].implied_cost == 5 and got[0].cap == 4  # limit(cap+1)

    # ivf_topk's own guard: queries × nprobe over the cap, with a
    # small centroid set so ivf_assign's guard stays silent
    cents = spark.createDataFrame(rows[:2], "vec_id long, embedding array<float>")
    with _pytest.raises(RuntimeError, match="queries × nprobe"):
        SIM.ivf_topk(df, df, cents, k=1, nprobe=2, audit=audit)
    guards = sorted(r.guard for r in audit.table("dmt_guard_events").collect())
    assert guards == ["brute_force_topk", "ivf_topk"]

    # under the cap: no new rows
    monkeypatch.setattr(SIM, "MAX_BROADCAST_VECTORS", 262_144)
    SIM.brute_force_topk(cents, df, k=1, audit=audit).count()
    assert audit.table("dmt_guard_events").count() == 2


def test_bulk_load_size_guard_audit_row(spark, tmp_path):
    """The 16 TB size skip records BOTH observability rows: the
    per-table FAIL in hive_bqload_audit (reference parity,
    hive_bq_load_utils.py:154-173) and a dmt_guard_events refusal."""
    from data_migration_tool_spark.audit.log import AuditLog
    from data_migration_tool_spark.sources.bulk_load import (
        TableLoadSpec,
        load_table,
    )

    src = tmp_path / "src"
    spark.createDataFrame([(1, "x")], "id int, v string").write.parquet(
        str(src / "t1")
    )
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    st = load_table(
        spark,
        TableLoadSpec("db", "big", str(src / "t1")),
        str(tmp_path / "wh"),
        audit,
        max_bytes=10,
    )
    assert st == "FAIL"
    fail = audit.table("hive_bqload_audit").first()
    assert fail.load_status == "FAIL" and "exceeds" in fail.reason_for_failure
    g = audit.table("dmt_guard_events").collect()
    assert len(g) == 1
    assert g[0].guard == "bulk_load_max_bytes" and g[0].action == "refuse"
    assert g[0].subject == "db.big" and g[0].cap == 10
    assert g[0].implied_cost > 10


def test_pca_int64_guard_boundary():
    """The fixed-point scatter guard's threshold is pinned EXACTLY:
    2·n²·qmax² one below 2^63 passes, at/above refuses (VERDICT r8
    ask #6 — the docstring's n ≤ ~2e5 headroom priced as a runtime
    check instead of prose)."""
    import pytest as _pytest

    from data_migration_tool_spark.plans.vectorq import _pca_int64_guard

    # 2·n²·qmax² = 2^62·2 = 2^63 exactly → refuse
    n, qmax = 2**16, 2**15
    assert 2 * n * n * qmax * qmax == 2**63
    with _pytest.raises(RuntimeError, match="exceeds int64"):
        _pca_int64_guard(n, qmax, "unit")
    # one quantization unit under: passes
    _pca_int64_guard(n, qmax - 1, "unit")
    _pca_int64_guard(0, 0, "unit")  # empty corpus: trivially safe


def test_pca_exact_refuses_on_headroom_blowout(spark, tmp_path):
    """End-to-end: a corpus whose coordinate magnitudes blow the int64
    scatter bound makes embedding_pca_power_exact refuse loudly (with
    the decimal(38,0) escape named) instead of silently wrapping the
    gram sums."""
    import pyarrow as pa
    import pyarrow.parquet as pq_
    import pytest as _pytest

    from data_migration_tool_spark.plans.vectorq import (
        embedding_pca_power_exact,
    )

    # |val| ~ 1e7 → q ~ 4.1e10; 2·n²·qmax² ≈ 5e22 >> 2^63 with n=4
    vecs = [(i, [1.0e7 * (1 if (i + j) % 2 else -1) for j in range(8)]) for i in range(4)]
    tbl = pa.table(
        {
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
        }
    )
    pq_.write_table(tbl, f"{tmp_path}/embeddings.parquet")
    with _pytest.raises(RuntimeError, match="decimal\\(38,0\\)"):
        embedding_pca_power_exact(spark, str(tmp_path)).count()


def test_quantize_vec_domain_guard(spark):
    """quantize_vec enforces its [-2, 2] domain inline (assert_true in
    the same codegen stage — no extra scan): boundary values pass with
    the exact expected integers, an out-of-domain coordinate fails the
    job loudly."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    ok = spark.createDataFrame(
        [(1, [-2.0, 0.0, 2.0])], "vec_id long, embedding array<float>"
    ).select(SIM.quantize_vec("embedding").alias("q"))
    assert ok.first().q == [0, 2 * 2**20, 4 * 2**20]

    bad = spark.createDataFrame(
        [(1, [0.0, 5.0])], "vec_id long, embedding array<float>"
    ).select(SIM.quantize_vec("embedding").alias("q"))
    with _pytest.raises((SparkRuntimeException, Exception), match="outside \\[-2, 2\\]"):
        bad.collect()


def test_dhash_bits_reference_and_edges():
    import numpy as np

    # 16x18 gray image, 2x2 tiles -> 8 rows x 9 cols grid; brute-force
    # the expected signature from the same tile means
    px = np.array(
        [[(3 * x * x + 7 * y + (x * y) % 5) % 256 for x in range(18)]
         for y in range(16)],
        dtype=np.uint8,
    )
    got = MM.dhash_bits(px, grid_w=8, grid_h=8)
    grid = px.astype(np.int64).reshape(8, 2, 9, 2).sum(axis=(1, 3)) // 4
    want = 0
    for by in range(8):
        for bx in range(8):
            if grid[by, bx] > grid[by, bx + 1]:
                want |= 1 << (by * 8 + bx)
    if want >= 1 << 63:
        want -= 1 << 64
    assert got == want

    # RGB collapses by exact floor channel mean BEFORE tiling
    rgb = np.stack([px, px, px], axis=2)
    assert MM.dhash_bits(rgb) == got

    # bit 63 forces the two's-complement negative branch: row-major bit
    # 63 is (by=7, bx=7), i.e. grid[7][7] > grid[7][8]
    hi = np.zeros((16, 18), dtype=np.uint8)
    hi[14:, 14:16] = 255  # tile (7,7) bright, (7,8) zero
    sig = MM.dhash_bits(hi)
    assert sig < 0 and (sig >> 63) & 1 == -1 & 1

    # dims that don't tile into the (grid_w+1) x grid_h lattice -> None
    assert MM.dhash_bits(np.zeros((15, 18), dtype=np.uint8)) is None
    assert MM.dhash_bits(None) is None


def test_hamming_near_dup_pairs_vs_brute_force(spark):
    import itertools

    from data_migration_tool_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    # planted 64-bit signatures incl. a negative one (bit 63 set) and
    # pairs at hamming 0 / 1 / 2 / far
    sigs = [
        (1, 0x8123456789ABCDEF - (1 << 64)),  # negative long (bit 63)
        (2, 0x8123456789ABCDEF - (1 << 64)),  # ham 0 with id 1
        (3, (0x8123456789ABCDEF ^ 1) - (1 << 64)),  # ham 1 with 1,2
        (4, (0x8123456789ABCDEF ^ 3) - (1 << 64)),  # ham 2 with 1,2
        (5, 0x00000000000000FF),
        (6, 0x00000000000000FE),  # ham 1 with 5
        (7, 0x7FFFFFFFFFFFFFFF),
    ]
    df = spark.createDataFrame(sigs, "id long, sig long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_dup_pairs(
            df, id_col="id", sig_col="sig", bits=64, bands=4, max_hamming=2
        ).collect()
    }
    def pc(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    want = {
        (a, b, pc(sa, sb))
        for (a, sa), (b, sb) in itertools.combinations(sigs, 2)
        if pc(sa, sb) <= 2
    }
    assert got == want


def test_scene_changes_sad_and_flags(spark):
    # one AVI whose frame pixels are known; SAD brute-forced per pair
    w, h, nf = 5, 4, 4

    def fn(x, y, f):
        return (3 + 2 * x + 7 * y + 90 * f) % 256

    avi = MM.encode_avi(w, h, nf, 5, fn)
    media = spark.createDataFrame(
        [(1, "video", bytearray(avi)), (2, "video", bytearray(b"junk"))],
        "media_id long, kind string, content binary",
    )
    rows = {
        r["frame_idx"]: r
        for r in MM.scene_changes(media, threshold=1000).collect()
    }
    assert set(rows) == {1, 2, 3}  # junk blob skipped, frame 0 has no prev
    for f in (1, 2, 3):
        want = 3 * sum(
            abs(fn(x, y, f) - fn(x, y, f - 1))
            for x in range(w) for y in range(h)
        )
        assert rows[f]["sad"] == want
        assert rows[f]["is_cut"] == (want > 1000)


def test_vad_segments_islands(spark):
    # active pattern per media 7: frames 0,1 active; 3 active; 2,4 quiet
    frames = spark.createDataFrame(
        [
            (7, 0, 8, 9_000_000),
            (7, 1, 8, 5_000_000),
            (7, 2, 8, 10),          # quiet
            (7, 3, 8, 4_000_000),
            (7, 4, 4, 100),         # quiet
            (8, 0, 8, 1),           # all quiet -> no segment
        ],
        "media_id long, frame_idx int, n_samples int, sq_sum long",
    )
    segs = {
        (r["media_id"], r["seg_start"]): r
        for r in MM.vad_segments(
            frames, energy_num=400_000, energy_den=1
        ).collect()
    }
    assert set(segs) == {(7, 0), (7, 3)}
    a = segs[(7, 0)]
    assert (a["seg_end"], a["n_frames"], a["total_sq"]) == (1, 2, 14_000_000)
    b = segs[(7, 3)]
    assert (b["seg_end"], b["n_frames"], b["total_sq"]) == (3, 1, 4_000_000)


def test_hamming_incremental_equals_full_restricted(spark):
    """hamming_near_dups_incremental == full hamming_near_dup_pairs
    restricted to batch-touching pairs, on planted 64-bit signatures
    with pairs inside the batch, inside the standing set (must be
    EXCLUDED), and across the split."""
    from data_migration_tool_spark.operators.dedup import (
        hamming_index,
        hamming_near_dup_pairs,
        hamming_near_dups_incremental,
    )

    base = 0x4123456789ABCDEF
    sigs = [
        (1, base),            # batch
        (2, base ^ 1),        # standing: cross pair with 1, 8
        (3, base ^ (1 << 40) ^ (1 << 20) ^ (1 << 5)),  # standing, far
        (4, 0x0F0F0F0F0F0F0F0F),   # standing
        (5, 0x0F0F0F0F0F0F0F0E),   # standing: standing-only pair w/ 4
        (8, base ^ 2),        # batch: batch-internal pair with 1
    ]
    df = spark.createDataFrame(sigs, "id long, sig long")
    batch = df.filter(F.col("id").isin(1, 8))
    standing = df.filter(~F.col("id").isin(1, 8))
    idx = hamming_index(standing, "id", "sig", bits=64, bands=4)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_dups_incremental(
            batch, idx, "id", "sig", bits=64, bands=4, max_hamming=2
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_dup_pairs(
            df, "id", "sig", bits=64, bands=4, max_hamming=2
        ).collect()
    }
    want = {t for t in full if t[0] in (1, 8) or t[1] in (1, 8)}
    assert got == want
    assert (1, 8, 1) in got and (1, 2, 1) in got       # internal + cross
    assert (4, 5, 1) in full and (4, 5, 1) not in got  # standing-only excluded


def test_join_delta_equals_direct(spark):
    """join_delta's three-term delta rule reproduces the direct join
    EXACTLY as a multiset — duplicate join keys on both sides so row
    multiplicities are exercised, plus keys that exist only in a base,
    only in a delta, and in both."""
    from collections import Counter

    from data_migration_tool_spark.operators.incremental_agg import (
        join_delta,
    )

    base_a = spark.createDataFrame(
        [(1, "a1"), (1, "a2"), (2, "a3"), (5, "a4")], "k long, av string"
    )
    delta_a = spark.createDataFrame(
        [(2, "a5"), (3, "a6"), (3, "a7")], "k long, av string"
    )
    base_b = spark.createDataFrame(
        [(1, "b1"), (2, "b2"), (2, "b3"), (7, "b4")], "k long, bv string"
    )
    delta_b = spark.createDataFrame(
        [(1, "b5"), (3, "b6"), (5, "b7")], "k long, bv string"
    )
    direct = (
        base_a.unionByName(delta_a)
        .join(base_b.unionByName(delta_b), ["k"])
        .collect()
    )
    maintained = (
        base_a.join(base_b, ["k"])
        .unionByName(join_delta(base_a, delta_a, base_b, delta_b, ["k"]))
        .collect()
    )
    key = lambda r: (r["k"], r["av"], r["bv"])  # noqa: E731
    assert Counter(map(key, maintained)) == Counter(map(key, direct))


def test_join_retract_equals_direct(spark):
    """view.exceptAll(join_retract(...)) reproduces the direct join of
    the post-delete tables as a multiset — rows deleted from one side,
    the other, and BOTH (the double-retraction trap), with duplicate
    keys throughout."""
    from collections import Counter

    from data_migration_tool_spark.operators.incremental_agg import (
        join_retract,
    )

    base_a = spark.createDataFrame(
        [(1, "a1"), (1, "a2"), (2, "a3"), (3, "a4"), (3, "a4")],
        "k long, av string",
    )
    del_a = spark.createDataFrame(
        [(1, "a2"), (3, "a4")], "k long, av string"
    )
    base_b = spark.createDataFrame(
        [(1, "b1"), (2, "b2"), (2, "b3"), (3, "b4")], "k long, bv string"
    )
    del_b = spark.createDataFrame(
        [(2, "b3"), (3, "b4")], "k long, bv string"
    )
    view = base_a.join(base_b, ["k"])
    maintained = view.exceptAll(
        join_retract(base_a, del_a, base_b, del_b, ["k"])
    ).collect()
    direct = (
        base_a.exceptAll(del_a)
        .join(base_b.exceptAll(del_b), ["k"])
        .collect()
    )
    key = lambda r: (r["k"], r["av"], r["bv"])  # noqa: E731
    assert Counter(map(key, maintained)) == Counter(map(key, direct))


def test_apply_view_changes_pruned_touches_only_retracted_buckets(
    spark, tmp_path
):
    """The r12 partition-pruned retraction apply (VERDICT r11 #3):
    (a) value contract — the maintained on-disk view equals the full
    ``exceptAll``-then-union semantics as a multiset; (b) scale
    contract — untouched partition DIRECTORIES are bit-identical after
    the apply (same files, same mtimes: never read, never rewritten),
    and the touched-slice scan carries a PartitionFilters entry, so
    the pruning happens at the file source, not post-scan."""
    import os
    from collections import Counter

    from data_migration_tool_spark.operators.incremental_agg import (
        apply_view_changes_pruned,
    )

    view = spark.createDataFrame(
        [(k, f"v{k}_{i}", k % 5) for k in range(20) for i in range(3)],
        "k long, val string, pb long",
    )
    path = str(tmp_path / "view")
    view.write.partitionBy("pb").parquet(path)

    # retract one row from bucket 2, insert two rows into bucket 4
    retract = spark.createDataFrame(
        [(2, "v2_0", 2), (7, "v7_1", 2)], "k long, val string, pb long"
    )
    inserts = spark.createDataFrame(
        [(4, "new_a", 4), (19, "new_b", 4)], "k long, val string, pb long"
    )

    def snap(bucket):
        d = os.path.join(path, f"pb={bucket}")
        return sorted(
            (n, os.stat(os.path.join(d, n)).st_mtime_ns)
            for n in os.listdir(d)
            if not n.startswith(".")
        )

    before = {b: snap(b) for b in (0, 1, 3)}
    touched = apply_view_changes_pruned(
        spark, path, retract=retract, inserts=inserts, bucket_col="pb"
    )
    assert touched == [2, 4]
    for b in (0, 1, 3):
        assert snap(b) == before[b], f"untouched bucket {b} was rewritten"

    got = spark.read.parquet(path).collect()
    want = (
        view.exceptAll(retract).unionByName(inserts).collect()
    )
    key = lambda r: (r["k"], r["val"], r["pb"])  # noqa: E731
    assert Counter(map(key, got)) == Counter(map(key, want))

    # the pruned scan is partition-pruned at the source
    plan = (
        spark.read.parquet(path)
        .filter(F.col("pb").isin([2, 4]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "pb" in plan

    # no deltas → explicit no-op
    assert apply_view_changes_pruned(spark, path, bucket_col="pb") == []

    # whole-bucket retraction: dynamic overwrite alone would silently
    # keep a bucket whose rows are ALL retracted (it only replaces
    # partitions present in the written frame) — the operator must
    # delete the emptied directory explicitly
    cur = spark.read.parquet(path)
    all_b1 = cur.filter(F.col("pb") == 1)
    touched = apply_view_changes_pruned(
        spark, path, retract=all_b1, bucket_col="pb"
    )
    assert touched == [1]
    assert not os.path.isdir(os.path.join(path, "pb=1"))
    got2 = spark.read.parquet(path).collect()
    want2 = [r for r in want if r["pb"] != 1]
    assert Counter(map(key, got2)) == Counter(map(key, want2))


def test_retract_partials_all_group_fates(spark):
    """Delete maintenance for non-invertible aggregates, one group per
    fate: extreme TOUCHED (min deleted → lazy recompute), untouched
    (arithmetic subtract), fully deleted (vanishes), no deletes
    (passes through). finalize() of the maintained state must equal
    finalize() of partials on the post-delete rows — variance, min,
    and max included."""
    from data_migration_tool_spark.operators import incremental_agg as IA

    base = spark.createDataFrame(
        [
            # g=A: min row (1.00) deleted → recompute path
            ("A", "1.00"), ("A", "5.00"), ("A", "9.00"),
            # g=B: middle row deleted → subtract path, extremes survive
            ("B", "2.00"), ("B", "4.00"), ("B", "8.00"),
            # g=C: everything deleted → group vanishes
            ("C", "3.00"), ("C", "7.00"),
            # g=D: untouched entirely
            ("D", "6.00"),
        ],
        "g string, x string",
    ).select("g", F.col("x").cast("decimal(12,2)").alias("x"))
    deletes = spark.createDataFrame(
        [("A", "1.00"), ("B", "4.00"), ("C", "3.00"), ("C", "7.00")],
        "g string, x string",
    ).select("g", F.col("x").cast("decimal(12,2)").alias("x"))

    state = IA.partials(base, ["g"], "x")
    maintained = IA.finalize(
        IA.retract_partials(state, deletes, base, ["g"], "x"), ["g"]
    ).collect()
    direct = IA.finalize(
        IA.partials(base.exceptAll(deletes), ["g"], "x"), ["g"]
    ).collect()
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(map(key, maintained)) == sorted(map(key, direct))
    gs = {r["g"] for r in maintained}
    assert gs == {"A", "B", "D"}  # C vanished
    byg = {r["g"]: r for r in maintained}
    assert str(byg["A"]["min_value"]) == "5.00"  # recomputed past the delete
    assert byg["B"]["n_rows"] == 2  # arithmetic subtract


def test_retract_partials_null_measures_and_null_keys(spark):
    """ADVICE r11 NULL hygiene: (a) a delete batch whose rows for a
    group carry only NULL measures must leave that group's sums intact
    (previously sx − NULL silently NULLed them); (b) deletes on a
    NULL-keyed group must be applied, not dropped by a null-unsafe key
    join. Ground truth = partials() over base minus deletes."""
    from collections import Counter

    from data_migration_tool_spark.operators import incremental_agg as IA

    base = spark.createDataFrame(
        [
            ("a", 1.0), ("a", 2.0), ("a", None),
            (None, 5.0), (None, 7.0), (None, 9.0),
            ("b", 3.0), ("b", 4.0),
        ],
        "k string, x double",
    )
    # group a: delete ONLY the NULL-measure row (dn=0, dsx/dsxx NULL);
    # group NULL: delete its min row (extreme-touched, null key);
    # group b untouched
    deletes = spark.createDataFrame(
        [("a", None), (None, 5.0)], "k string, x double"
    )
    state = IA.partials(base, ["k"], "x")
    got = IA.retract_partials(state, deletes, base, ["k"], "x").collect()

    retained = base.exceptAll(deletes)
    want = IA.partials(retained, ["k"], "x").collect()
    key = lambda r: (r["k"], r["n"], r["sx"], r["sxx"], r["mn"], r["mx"])  # noqa: E731
    assert Counter(map(key, got)) == Counter(map(key, want))
    by_k = {r["k"]: r for r in got}
    # the NULL-measure delete left a's exact sums intact
    assert by_k["a"]["n"] == 2 and float(by_k["a"]["sx"]) == 3.0
    # the NULL-keyed group recomputed after losing its min
    assert by_k[None]["n"] == 2 and by_k[None]["mn"] == 7.0


def test_retract_partials_over_merged_state(spark):
    """retract_partials must also accept a state that came from
    merge_partials (whose decimal sums are WIDER than partials' — the
    adjusted/recomputed branches cast back to the state's own types,
    or the three-way union would fail on type mismatch)."""
    from data_migration_tool_spark.operators import incremental_agg as IA

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "g string, x string"
    ).select("g", F.col("x").cast("decimal(12,2)").alias("x"))
    base1 = mk([("A", "1.00"), ("A", "5.00"), ("B", "2.00")])
    base2 = mk([("A", "9.00"), ("B", "4.00"), ("B", "8.00")])
    base = base1.unionByName(base2)
    deletes = mk([("A", "1.00"), ("B", "4.00")])
    state = IA.merge_partials(
        [IA.partials(base1, ["g"], "x"), IA.partials(base2, ["g"], "x")],
        ["g"],
    )
    maintained = IA.finalize(
        IA.retract_partials(state, deletes, base, ["g"], "x"), ["g"]
    ).collect()
    direct = IA.finalize(
        IA.partials(base.exceptAll(deletes), ["g"], "x"), ["g"]
    ).collect()
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(map(key, maintained)) == sorted(map(key, direct))


def test_ivm_composition_join_delta_into_partials(spark):
    """The full incremental pipeline composes: an aggregate OVER a join
    view stays correct when maintained as
    merge(partials(base view), partials(join_delta(...))) — i.e. the
    join delta feeds the partial-aggregate algebra without ever
    rescanning or re-joining the bases. Checked against the direct
    aggregate of the direct full join."""
    from data_migration_tool_spark.operators import incremental_agg as IA

    base_a = spark.createDataFrame(
        [(1, "X"), (2, "Y"), (3, "X"), (3, "X")], "k long, grp string"
    )
    delta_a = spark.createDataFrame([(2, "Y"), (4, "X")], "k long, grp string")
    base_b = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    delta_b = spark.createDataFrame([(3, 40.0), (4, 50.0)], "k long, v double")

    keys = ["grp"]
    base_view = base_a.join(base_b, ["k"])
    delta_view = IA.join_delta(base_a, delta_a, base_b, delta_b, ["k"])
    state = IA.merge_partials(
        [IA.partials(base_view, keys, "v"), IA.partials(delta_view, keys, "v")],
        keys,
    )
    got = {
        r["grp"]: (r["n_rows"], r["mean"])
        for r in IA.finalize(state, keys).collect()
    }
    direct_rows = (
        base_a.unionByName(delta_a)
        .join(base_b.unionByName(delta_b), ["k"])
        .groupBy("grp")
        .agg(F.count("v").alias("n"), F.avg("v").alias("mean"))
        .collect()
    )
    direct = {r["grp"]: (r["n"], r["mean"]) for r in direct_rows}
    assert set(got) == set(direct)
    for g in direct:
        assert got[g][0] == direct[g][0]
        assert abs(got[g][1] - direct[g][1]) < 1e-9


def test_containment_adaptive_oracle_mirrors_refusal():
    """ADVICE r11: the DuckDB oracle used to compute k = 256>>9 = 0 and
    return an EMPTY result in the j≥9 regime where the Spark operator
    raises — a silent engine disagreement. The oracle now raises via
    error() in the same regime; this pins that on a corpus whose
    pricing lands j≥9 at the query's hard-coded 4096 budget (3
    identical 40k-shingle docs: implied ≈ 0.9·K² ≈ 1.4e9 >
    cap·4^8 ≈ 8.1e8)."""
    import duckdb
    import pytest

    from data_migration_tool_spark.plans.textq import (
        DOC_CONTAINMENT_ADAPTIVE_SQL,
    )

    con = duckdb.connect()
    text = " ".join(f"w{i}" for i in range(40_002))
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [(1, text), (2, text), (3, text)],
    )
    with pytest.raises(duckdb.Error, match="1/256"):
        con.sql(DOC_CONTAINMENT_ADAPTIVE_SQL).fetchall()


def test_fuzzy_name_pairs_guard_and_values(spark, tmp_path):
    """r12 fuzzy-match guard: Σ C(block,2) is priced before the
    Levenshtein self-join; past the cap the operator refuses loudly
    with an audited row; under it (or unguarded) results match the
    brute-force blocked join."""
    import pytest

    from data_migration_tool_spark.audit.log import AuditLog
    from data_migration_tool_spark.operators.textops import fuzzy_name_pairs

    df = spark.createDataFrame(
        [(i, f"tone{i % 4} shade item{i}") for i in range(12)]
        + [(100, "tone0 shade item0x")],  # 1 edit from "tone0 shade item0"
        "pk long, nm string",
    )
    # blocks: all share blk="shade" → C(13,2) = 78 implied comparisons
    out = fuzzy_name_pairs(df, "nm", max_comparisons=78).collect()
    assert ("tone0 shade item0", "tone0 shade item0x", 1) in {
        (r.name_a, r.name_b, r.dist) for r in out
    }
    audit = AuditLog(spark, str(tmp_path), run_id="fz")
    with pytest.raises(RuntimeError, match="Levenshtein comparisons"):
        fuzzy_name_pairs(df, "nm", max_comparisons=77, audit=audit)
    ev = audit.table("dmt_guard_events").collect()
    assert len(ev) == 1 and ev[0].guard == "fuzzy_name_pairs"
    assert ev[0].implied_cost == 78 and ev[0].cap == 77
    # auto budget at this size passes and equals the static-cap run
    assert sorted(
        (r.name_a, r.name_b, r.dist)
        for r in fuzzy_name_pairs(df, "nm").collect()
    ) == sorted((r.name_a, r.name_b, r.dist) for r in out)


def test_mask_columns_semantics(spark):
    """r13 deterministic pseudonymization: tokens are stable per
    (salt, value) so equality joins survive masking; NULL masks to
    NULL (outer-join semantics preserved, no invented values); a salt
    rotation unlinks two exports; numerics canonicalize through the
    string cast; unknown columns are refused loudly."""
    import pytest

    from data_migration_tool_spark.operators.masking import mask_columns

    a = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None)], "pk long, k long"
    )
    b = spark.createDataFrame(
        [(100, 10), (101, 10), (102, 30)], "fk long, k long"
    )
    ma = mask_columns(a, ["k"], "s1")
    mb = mask_columns(b, ["k"], "s1")
    # joinability: the masked equi-join matches exactly the raw one
    raw = sorted(
        (r.pk, r.fk) for r in a.join(b, "k").select("pk", "fk").collect()
    )
    masked = sorted(
        (r.pk, r.fk) for r in ma.join(mb, "k").select("pk", "fk").collect()
    )
    assert masked == raw == [(1, 100), (1, 101)]
    # NULL preserved, everything else tokenized to 32-hex strings
    rows = {r.pk: r.k for r in ma.collect()}
    assert rows[3] is None
    assert all(
        v is None or (len(v) == 32 and set(v) <= set("0123456789abcdef"))
        for v in rows.values()
    )
    # tokens are not the raw values, and a salt rotation unlinks
    assert rows[1] != "10"
    rot = {r.pk: r.k for r in mask_columns(a, ["k"], "s2").collect()}
    assert rot[1] != rows[1]
    # deterministic: same salt, same value, different frame → same token
    assert {r.fk: r.k for r in mb.collect()}[100] == rows[1]
    with pytest.raises(ValueError, match="not in frame"):
        mask_columns(a, ["nope"], "s1")


def test_resolve_entities_semantics(spark):
    """r13 entity resolution: transitive chains collapse to one
    entity under the component min, unmatched names resolve to
    themselves, and blockless (single-token) names are singletons —
    the edge cases TPC-H part names never exercise."""
    from data_migration_tool_spark.operators.textops import resolve_entities

    df = spark.createDataFrame(
        [
            # chain: aa->ab->ac (each 1 edit apart, same block)
            (0, "aa blk x"), (1, "ab blk x"), (2, "ac blk x"),
            # unmatched two-token name in its own block
            (3, "zz other y"),
            # blockless single-token name
            (4, "solo"),
            # duplicate rows must not double-count members
            (5, "aa blk x"),
        ],
        "pk long, nm string",
    )
    rows = {
        r.name: (r.canonical_name, r.cluster_size)
        for r in resolve_entities(df, "nm").collect()
    }
    assert rows == {
        "aa blk x": ("aa blk x", 3),
        "ab blk x": ("aa blk x", 3),
        "ac blk x": ("aa blk x", 3),
        "zz other y": ("zz other y", 1),
        "solo": ("solo", 1),
    }


def test_fuzzy_name_pairs_single_token_names_excluded(spark):
    """r13 (ADVICE r12): names with no usable blocking key — single
    tokens under the default block expr — are excluded from the match
    AND the pricing histogram, identically to the DuckDB mirror's
    `WHERE blk <> ''`. Previously Spark's split(nm,' ')[1] yielded
    NULL (rows silently dropped by the non-null-safe join, yet their
    C(b,2) pairs still priced) while DuckDB's split_part yielded ''
    and PAIRED them — a latent engine divergence."""
    from data_migration_tool_spark.operators.textops import fuzzy_name_pairs

    df = spark.createDataFrame(
        [(0, "alpha"), (1, "alphb"), (2, "alphc"),  # single-token trio
         (3, "x shade y"), (4, "x shade z")],
        "pk long, nm string",
    )
    out = fuzzy_name_pairs(df, "nm").collect()
    # the single-token near-identical trio must NOT pair; the blocked
    # two-token pair must
    assert sorted((r.name_a, r.name_b, r.dist) for r in out) == [
        ("x shade y", "x shade z", 1)
    ]
    # pricing excludes the blockless names: with only the 2-name
    # 'shade' block, Σ C(b,2) = 1; a cap of 1 must pass even though
    # counting the excluded trio's C(3,2)=3 would refuse
    assert len(fuzzy_name_pairs(df, "nm", max_comparisons=1).collect()) == 1


def test_apply_view_changes_pruned_marker_replay(spark, tmp_path):
    """Replay protection for the pruned apply: with a batch_marker the
    second delivery of the same batch is a no-op (returns [] and
    leaves the view unchanged), a DIFFERENT marker applies normally,
    and a no-delta batch still records its marker."""
    from collections import Counter

    from data_migration_tool_spark.operators.incremental_agg import (
        apply_view_changes_pruned,
    )

    view = spark.createDataFrame(
        [(k, f"v{k}", k % 3) for k in range(9)],
        "k long, val string, pb long",
    )
    path = str(tmp_path / "view")
    view.write.partitionBy("pb").parquet(path)

    ins = spark.createDataFrame([(100, "new", 1)], "k long, val string, pb long")
    assert apply_view_changes_pruned(
        spark, path, inserts=ins, bucket_col="pb", batch_marker="b0"
    ) == [1]
    after_first = spark.read.parquet(path).collect()

    # same marker redelivered → no-op
    assert apply_view_changes_pruned(
        spark, path, inserts=ins, bucket_col="pb", batch_marker="b0"
    ) == []
    key = lambda r: (r["k"], r["val"], r["pb"])  # noqa: E731
    assert Counter(map(key, spark.read.parquet(path).collect())) == Counter(
        map(key, after_first)
    )

    # a different marker applies
    ins2 = spark.createDataFrame([(101, "new2", 2)], "k long, val string, pb long")
    assert apply_view_changes_pruned(
        spark, path, inserts=ins2, bucket_col="pb", batch_marker="b1"
    ) == [2]

    # empty batch still marks (replay of it stays a no-op)
    assert apply_view_changes_pruned(
        spark, path, bucket_col="pb", batch_marker="b2"
    ) == []
    import os

    assert os.path.exists(os.path.join(path, "_applied", "b2"))


def test_apply_view_changes_pruned_anti_keys_matches_exceptall(
    spark, tmp_path
):
    """r13: the whole-key broadcast-anti fast path (retract_anti_keys)
    must be multiset-identical to the default exceptAll path when the
    retraction removes EVERY view row of each retracted key — the
    stream-IVM CDC contract. The view deliberately carries multiple
    rows per key (a join view's shape) and duplicate (k, val) rows so
    multiset semantics are actually exercised."""
    from collections import Counter

    from pyspark.sql import functions as F

    from data_migration_tool_spark.operators.incremental_agg import (
        apply_view_changes_pruned,
    )

    rows = [
        (k, f"v{k}_{i}", k % 3) for k in range(6) for i in range(2)
    ] + [(2, "v2_0", 2), (5, "v5_1", 2)]  # duplicate rows on keys 2, 5
    view = spark.createDataFrame(rows, "k long, val string, pb long")
    path_a = str(tmp_path / "via_exceptall")
    path_b = str(tmp_path / "via_antikeys")
    view.write.partitionBy("pb").parquet(path_a)
    view.write.partitionBy("pb").parquet(path_b)

    # whole-key retraction: every row of keys 2 and 5
    retract = view.filter(F.col("k").isin(2, 5))
    ins = spark.createDataFrame(
        [(100, "new", 0)], "k long, val string, pb long"
    )
    touched_a = apply_view_changes_pruned(
        spark, path_a, retract=retract, inserts=ins, bucket_col="pb"
    )
    touched_b = apply_view_changes_pruned(
        spark,
        path_b,
        retract=retract,
        inserts=ins,
        bucket_col="pb",
        retract_anti_keys=["k"],
    )
    assert touched_a == touched_b

    key = lambda r: (r["k"], r["val"], r["pb"])  # noqa: E731
    ca = Counter(map(key, spark.read.parquet(path_a).collect()))
    cb = Counter(map(key, spark.read.parquet(path_b).collect()))
    assert ca == cb
    assert all(k != 2 and k != 5 for k, _, _ in ca)
    assert (100, "new", 0) in ca


def test_apply_view_changes_pruned_refuses_to_empty_view(spark, tmp_path):
    """r13 (ADVICE r12): a batch that would retract the view's last
    remaining rows is refused BEFORE any deletion — an
    all-partitions-deleted parquet dir fails schema inference on the
    next read, so 'maintained to empty' must not be producible. The
    view stays intact and readable, and the batch marker is NOT
    written, so a redelivery refuses identically instead of silently
    skipping."""
    import os

    import pytest

    from data_migration_tool_spark.operators.incremental_agg import (
        apply_view_changes_pruned,
    )

    view = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 1)], "k long, val string, pb long"
    )
    path = str(tmp_path / "view")
    view.write.partitionBy("pb").parquet(path)

    # retracting EVERYTHING (both partitions) → refuse, nothing deleted
    ret_all = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 1)], "k long, val string, pb long"
    )
    with pytest.raises(RuntimeError, match="last remaining rows"):
        apply_view_changes_pruned(
            spark, path, retract=ret_all, bucket_col="pb", batch_marker="kill"
        )
    assert not os.path.exists(os.path.join(path, "_applied", "kill"))
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == [1, 2, 3]
    # redelivery refuses identically (marker was withheld)
    with pytest.raises(RuntimeError, match="last remaining rows"):
        apply_view_changes_pruned(
            spark, path, retract=ret_all, bucket_col="pb", batch_marker="kill"
        )

    # retracting ONE whole partition with a survivor left → fine
    ret_pb1 = spark.createDataFrame([(3, "c", 1)], "k long, val string, pb long")
    assert apply_view_changes_pruned(
        spark, path, retract=ret_pb1, bucket_col="pb", batch_marker="ok"
    ) == [1]
    assert not os.path.isdir(os.path.join(path, "pb=1"))
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == [1, 2]

    # emptying the last partition while the same batch re-fills the
    # view (inserts into another bucket) → allowed: survivors exist
    # in the written frame
    ret_pb0 = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)], "k long, val string, pb long"
    )
    ins_pb2 = spark.createDataFrame([(9, "z", 2)], "k long, val string, pb long")
    assert apply_view_changes_pruned(
        spark, path, retract=ret_pb0, inserts=ins_pb2,
        bucket_col="pb", batch_marker="swap",
    ) == [0, 2]
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == [9]


def test_sweep_state_versions_retention_and_replay(spark, tmp_path):
    """r13 state-version retention (VERDICT r12 #2): keep-last-k
    deletes only COMMITTED versions beyond the newest k, leaves
    uncommitted crash debris to the redelivery path, bounds the
    latest-state listing, and preserves replay protection — after the
    sweep, the newest batches' versions still exist so their
    _SUCCESS-existence skip check still fires."""
    import os

    import pytest

    from data_migration_tool_spark.operators.incremental_agg import (
        sweep_state_versions,
    )

    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    one = spark.createDataFrame([(1,)], "x long")
    for i in range(4):
        one.write.parquet(os.path.join(state_dir, f"v{i:05d}"))
    # uncommitted crash debris: a dir WITHOUT _SUCCESS
    os.makedirs(os.path.join(state_dir, "v00099"))
    with open(os.path.join(state_dir, "v00099", "part-crash.parquet"), "w"):
        pass

    assert sweep_state_versions(state_dir, keep_last=2) == [
        "v00000", "v00001"
    ]
    left = sorted(os.listdir(state_dir))
    assert left == ["v00002", "v00003", "v00099"]  # debris untouched
    # survivors stay readable; replay skip check still fires for the
    # newest versions
    assert spark.read.parquet(os.path.join(state_dir, "v00003")).count() == 1
    assert os.path.exists(os.path.join(state_dir, "v00003", "_SUCCESS"))
    assert os.path.exists(os.path.join(state_dir, "v00002", "_SUCCESS"))

    # idempotent: nothing more to sweep
    assert sweep_state_versions(state_dir, keep_last=2) == []

    # retention may never delete the current version
    with pytest.raises(ValueError, match="keep_last"):
        sweep_state_versions(state_dir, keep_last=0)

    # NUMERIC order, not lexicographic (code-review r13): with
    # unpadded v{batch} names, "v10" < "v9" as strings — a string
    # sort would sweep the just-committed newest version and the
    # stream would recompute every later trigger from stale state
    unpadded = str(tmp_path / "unpadded")
    os.makedirs(unpadded)
    for i in (8, 9, 10, 11):
        one.write.parquet(os.path.join(unpadded, f"v{i}"))
    assert sweep_state_versions(unpadded, keep_last=2) == ["v8", "v9"]
    assert sorted(os.listdir(unpadded)) == ["v10", "v11"]


def test_sweep_applied_markers_retention_and_replay(spark, tmp_path):
    """r13 marker retention — the _applied/ twin of the state-version
    sweep: a months-long stream lands one marker per trigger forever;
    keep-last-k bounds the directory while the newest batches' markers
    (the only ones a foreachBatch redelivery can ever re-check) still
    fire the skip-if-seen path."""
    import os

    import pytest

    from data_migration_tool_spark.operators.incremental_agg import (
        apply_view_changes_pruned,
        sweep_applied_markers,
    )

    path = str(tmp_path / "view")
    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "k long, val string, pb long"
    ).write.partitionBy("pb").parquet(path)

    # no _applied/ dir yet: no-op, not an error
    assert sweep_applied_markers(spark, path, keep_last=2) == []

    for bid in range(4):
        apply_view_changes_pruned(
            spark,
            path,
            inserts=spark.createDataFrame(
                [(10 + bid, "x", 0)], "k long, val string, pb long"
            ),
            bucket_col="pb",
            batch_marker=f"batch-{bid}",
        )
    marker_dir = os.path.join(path, "_applied")

    def _markers():
        # ignore RawLocalFileSystem's .crc checksum sidecars
        return sorted(
            n for n in os.listdir(marker_dir) if not n.startswith(".")
        )

    assert _markers() == ["batch-0", "batch-1", "batch-2", "batch-3"]
    assert sweep_applied_markers(spark, path, keep_last=2) == [
        "batch-0", "batch-1"
    ]
    assert _markers() == ["batch-2", "batch-3"]

    # replay protection intact after the sweep: re-delivering the
    # newest batch is still a no-op (its marker survived)
    before = sorted(
        (r.k, r.val) for r in spark.read.parquet(path).collect()
    )
    assert apply_view_changes_pruned(
        spark,
        path,
        inserts=spark.createDataFrame(
            [(13, "x", 0)], "k long, val string, pb long"
        ),
        bucket_col="pb",
        batch_marker="batch-3",
    ) == []
    after = sorted(
        (r.k, r.val) for r in spark.read.parquet(path).collect()
    )
    assert after == before

    # idempotent; numeric tail ordering (batch-10 must outrank batch-9)
    assert sweep_applied_markers(spark, path, keep_last=2) == []
    for bid in (9, 10):
        apply_view_changes_pruned(
            spark,
            path,
            inserts=spark.createDataFrame(
                [(20 + bid, "y", 1)], "k long, val string, pb long"
            ),
            bucket_col="pb",
            batch_marker=f"batch-{bid}",
        )
    assert sweep_applied_markers(spark, path, keep_last=2) == [
        "batch-2", "batch-3"
    ]
    # numeric tail ordering: a string sort would keep {batch-3,
    # batch-9} and sweep the just-written batch-10
    assert _markers() == ["batch-10", "batch-9"]

    with pytest.raises(ValueError, match="keep_last"):
        sweep_applied_markers(spark, path, keep_last=0)


def test_apply_view_changes_pruned_null_bucket(spark, tmp_path):
    """NULL bucket values (a key-derived bucket of a NULL join key)
    are first-class: touched-set collection must not TypeError on
    None, the pruned scan must include the NULL partition, and an
    emptied NULL partition maps to Hive's default-partition dir."""
    import os
    from collections import Counter

    from data_migration_tool_spark.operators.incremental_agg import (
        apply_view_changes_pruned,
    )

    view = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "n1", None), (4, "n2", None)],
        "k long, val string, pb int",
    )
    path = str(tmp_path / "view")
    view.write.partitionBy("pb").parquet(path)
    assert os.path.isdir(os.path.join(path, "pb=__HIVE_DEFAULT_PARTITION__"))

    # retract one NULL-bucket row, insert into bucket 0
    retract = spark.createDataFrame(
        [(3, "n1", None)], "k long, val string, pb int"
    )
    inserts = spark.createDataFrame(
        [(9, "c", 0)], "k long, val string, pb int"
    )
    touched = apply_view_changes_pruned(
        spark, path, retract=retract, inserts=inserts, bucket_col="pb"
    )
    assert touched == [None, 0]
    got = spark.read.parquet(path).collect()
    want = view.exceptAll(retract).unionByName(inserts).collect()
    key = lambda r: (r["k"], r["val"], r["pb"])  # noqa: E731
    assert Counter(map(key, got)) == Counter(map(key, want))

    # retract the LAST NULL-bucket row → the default-partition dir is
    # deleted explicitly (dynamic overwrite alone would keep it)
    rest = spark.createDataFrame(
        [(4, "n2", None)], "k long, val string, pb int"
    )
    assert apply_view_changes_pruned(
        spark, path, retract=rest, bucket_col="pb"
    ) == [None]
    assert not os.path.isdir(
        os.path.join(path, "pb=__HIVE_DEFAULT_PARTITION__")
    )
    assert {r["k"] for r in spark.read.parquet(path).collect()} == {1, 2, 9}


def test_fuzzy_oracle_mirrors_refusal():
    """The fuzzy-match oracle raises via error() in the same regime the
    Spark guard refuses (Σ C(block,2) > 1024·n_names) — engines agree
    instead of error-vs-result. 2 names sharing one block imply 1
    comparison > 1024·2 is impossible, so force it with a tiny n and a
    mass-shared block: 70 names, one block → C(70,2)=2415 < 71680…
    need implied > 1024·n → block of b names: b(b-1)/2 > 1024·b →
    b > 2049. Build 2050 names in one block via generate_series."""
    import duckdb
    import pytest

    from data_migration_tool_spark.plans.textq import PART_NAME_FUZZY_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS SELECT 'w' || i || ' shade tail' AS p_name "
        "FROM generate_series(1, 2051) t(i)"
    )
    with pytest.raises(duckdb.Error, match="over budget"):
        con.sql(PART_NAME_FUZZY_SQL).fetchall()

    # under budget the guard clause is inert
    con2 = duckdb.connect()
    con2.execute(
        "CREATE VIEW part AS SELECT 'w' || i || ' shade tail' AS p_name "
        "FROM generate_series(1, 30) t(i)"
    )
    rows = con2.sql(PART_NAME_FUZZY_SQL).fetchall()
    assert rows  # w1..w9 etc. are within distance 4 of each other


def test_retract_partials_anti_keys_matches_exceptall(spark):
    """r14: retract_partials' whole-entity anti_keys fast path must be
    multiset-identical to the default exceptAll path when every base
    row of each deleted key is being deleted (one-row-per-key base —
    the stream-rollup CDC contract). Covers every group fate: extreme
    TOUCHED (recompute runs through the anti-join), untouched
    (arithmetic), fully deleted, and no-deletes."""
    from collections import Counter

    from data_migration_tool_spark.operators import incremental_agg as IA

    rows = [
        # g=A: min row (id 10) deleted → recompute path
        (10, "A", "1.00"), (11, "A", "5.00"), (12, "A", "9.00"),
        # g=B: middle row deleted → subtract path
        (20, "B", "2.00"), (21, "B", "4.00"), (22, "B", "8.00"),
        # g=C: everything deleted → vanishes
        (30, "C", "3.00"), (31, "C", "7.00"),
        # g=D: untouched
        (40, "D", "6.00"),
    ]
    base = spark.createDataFrame(
        rows, "id long, g string, x string"
    ).select("id", "g", F.col("x").cast("decimal(12,2)").alias("x"))
    deletes = base.filter(F.col("id").isin(10, 21, 30, 31))

    state = IA.partials(base, ["g"], "x")
    got = IA.retract_partials(
        state, deletes, base, ["g"], "x", anti_keys=["id"]
    ).collect()
    want = IA.retract_partials(state, deletes, base, ["g"], "x").collect()
    key = lambda r: (r["g"], r["n"], str(r["sx"]), str(r["sxx"]), str(r["mn"]), str(r["mx"]))  # noqa: E731
    assert Counter(map(key, got)) == Counter(map(key, want))
    assert {r["g"] for r in got} == {"A", "B", "D"}


def test_retract_partials_anti_keys_null_key_raises(spark):
    """r14 (ADVICE r13 enforcement): a NULL value in an anti_keys
    column must raise loudly — anti-join NULL semantics would silently
    retain the rows that key should retract."""
    import pytest

    from data_migration_tool_spark.operators import incremental_agg as IA

    base = spark.createDataFrame(
        [(1, "A", 5.0), (None, "A", 1.0), (3, "A", 9.0)],
        "id long, g string, x double",
    )
    # the NULL-id row IS the group min → the extreme-touch probe keeps
    # the recompute branch (the only consumer of the anti-join), which
    # must hit the NULL guard while the broadcast key set builds
    deletes = base.filter(F.col("id").isNull())
    state = IA.partials(base, ["g"], "x")
    with pytest.raises(Exception, match="anti_keys"):
        IA.retract_partials(
            state, deletes, base, ["g"], "x", anti_keys=["id"]
        ).collect()


def test_apply_view_changes_pruned_anti_keys_null_raises(spark, tmp_path):
    """r14 (ADVICE r13 enforcement): NULL retract_anti_keys values must
    raise while the broadcast key set builds, not silently retain the
    rows."""
    import pytest

    from data_migration_tool_spark.operators.incremental_agg import (
        apply_view_changes_pruned,
    )

    view = spark.createDataFrame(
        [(1, "a", 0), (None, "b", 0), (3, "c", 1)],
        "k long, val string, pb long",
    )
    path = str(tmp_path / "view_nullkey")
    view.write.partitionBy("pb").parquet(path)
    retract = view.filter(F.col("k").isNull())
    with pytest.raises(Exception, match="retract_anti_keys"):
        apply_view_changes_pruned(
            spark, path, retract=retract, bucket_col="pb",
            retract_anti_keys=["k"],
        )


def test_ngram_jaccard_prefix_filter_identical(spark):
    """r14 (guide §3): the lossless prefix-filter path must return the
    SAME rows (ids and double jaccard values, bit-exact) as the direct
    inverted-index join — the prefix theorem says no qualifying pair
    can be pruned, and the verify stage reuses the identical double
    division. Corpus built with heavy shingle overlap so boundary
    pairs (jaccard exactly at/near the threshold) exist."""
    from data_migration_tool_spark.operators import dedup as DD

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),     # near-dup of 1
        (3, "alpha beta gamma delta epsilon zeta"),    # exact dup of 1
        (4, "one two three four five six seven"),
        (5, "one two three four five six eight"),      # near-dup of 4
        (6, "totally different text with no overlap"),
        (7, "alpha beta gamma x y z"),                 # partial overlap
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.5, 0.8):
        direct = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in DD.ngram_jaccard_pairs(
                d, threshold=t, max_join_pairs=None
            ).collect()
        )
        pref = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in DD.ngram_jaccard_pairs(
                d, threshold=t, max_join_pairs=None, prefix_filter=True
            ).collect()
        )
        assert pref == direct and direct  # non-vacuous


def test_ivf_routing_shared_centroids_identical(spark):
    """r14 (VERDICT r13 #5): the shared-collect routing chain
    (collect_centroids tuple + driver-side query routing in ivf_topk)
    must reproduce the DataFrame-centroid path exactly — same
    assignment rows, same top-k."""
    import numpy as np

    from data_migration_tool_spark.operators import similarity as SIM

    rows = [
        (i, [float(np.cos(i * 0.7 + j * 0.3)) for j in range(8)])
        for i in range(40)
    ]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents_df = v.filter(F.col("vec_id") < 3)
    tup = SIM.collect_centroids(cents_df)

    key = lambda r: tuple(r)  # noqa: E731
    a_df = sorted(
        map(key, SIM.ivf_assign(v, cents_df).select("vec_id", "cell_id").collect())
    )
    a_tup = sorted(
        map(key, SIM.ivf_assign(v, tup).select("vec_id", "cell_id").collect())
    )
    assert a_df == a_tup

    q = v.filter(F.col("vec_id") < 5)
    assigned = SIM.ivf_assign(v, tup)
    t_df = sorted(
        map(key, SIM.ivf_topk(q, assigned, cents_df, k=2, nprobe=2).collect())
    )
    t_tup = sorted(
        map(key, SIM.ivf_topk(q, assigned, tup, k=2, nprobe=2).collect())
    )
    assert t_df == t_tup and t_df


def test_kmeans_fit_exact_as_rows_identical(spark):
    """r14: as_rows returns the identical centroid table the DataFrame
    form collects — the routing chain skips a createDataFrame→collect
    round trip, nothing else changes."""
    from data_migration_tool_spark.operators.similarity import kmeans_fit_exact

    rows = [
        (i, [((i * 7 + j * 3) % 11) / 11.0 - 0.5 for j in range(4)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    via_df = sorted(
        (r["cell"], list(r["q"]))
        for r in kmeans_fit_exact(df, k=3, iters=2).collect()
    )
    via_rows = sorted(kmeans_fit_exact(df, k=3, iters=2, as_rows=True))
    assert via_rows == via_df
