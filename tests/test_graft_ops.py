"""Graft operators: dedup family, ANN, text analysis, pages, multimodal
plumbing, lineage/restart."""

import struct

import numpy as np
import pyspark.sql.functions as F
import pytest

from osm_pbf2json_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    regex_token_count,
    token_count,
)
from osm_pbf2json_spark.operators import ann, dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (3, "The quick brown fox jumps over the lazy dog!", "en"),  # normalized dup
        (4, "the quick brown fox leaps over the lazy dog", "en"),  # near dup
        (5, "der schnelle braune fuchs springt über den faulen hund und das ist gut", "de"),
        (6, "completely different content about spark distributed computing engines", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).collect()
    groups = {r["survivor_id"]: r["n_dups"] for r in out}
    assert groups[1] == 3  # docs 1,2,3 normalize identically
    assert groups[4] == 1 and groups[5] == 1 and groups[6] == 1


def test_ngram_jaccard_pairs(docs):
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.3, n=3)
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in out.collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 1.0
    # one word differs: 3 of 7 shingles change → J = 4/10 exactly
    assert pairs[(1, 4)] == pytest.approx(0.4)
    assert (1, 6) not in pairs


def test_minhash_lsh_pairs(docs):
    out = dedup.minhash_lsh_pairs(docs, threshold=0.5, num_perm=64, bands=16)
    pairs = {(r["a"], r["b"]) for r in out.collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    assert (1, 6) not in pairs


def test_minhash_vs_exact_jaccard_estimate(docs):
    """Signature agreement rate approximates true Jaccard."""
    sigs = {r["id"]: r["sig"] for r in dedup.minhash_signatures(docs, 128).collect()}
    agree = np.mean(np.array(sigs[1]) == np.array(sigs[4]))
    # true 3-gram jaccard of docs 1 and 4:
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    t1 = "the quick brown fox jumps over the lazy dog"
    t4 = "the quick brown fox leaps over the lazy dog"
    true_j = len(sh(t1) & sh(t4)) / len(sh(t1) | sh(t4))
    assert abs(agree - true_j) < 0.15


def test_simhash_neardup(docs):
    out = dedup.simhash_neardup_pairs(docs, max_hamming=8)
    pairs = {(r["a"], r["b"]): r["hamming"] for r in out.collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0
    assert (1, 6) not in pairs


def test_embedding_neardup(spark):
    rng = np.random.Generator(np.random.PCG64(5))
    base = rng.normal(size=8)
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in base * 2.0]),  # same direction → cosine 1
        (3, [float(x) for x in base + rng.normal(size=8) * 0.01]),
        (4, [float(x) for x in rng.normal(size=8)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dedup.embedding_neardup_pairs(df, threshold=0.99, n_planes=4)
    pairs = {(r["a"], r["b"]) for r in out.collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert (1, 4) not in pairs


def test_ann_bruteforce_topk(spark):
    rng = np.random.Generator(np.random.PCG64(11))
    vecs = rng.normal(size=(100, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    q = vecs[7] + rng.normal(size=8) * 0.01
    out = ann.cosine_topk_bruteforce(df, [(0, list(map(float, q)))], k=3)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    cos = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    expect = list(np.argsort(-cos, kind="stable")[:3])
    assert [r["neighbor_id"] for r in rows] == [int(i) for i in expect]
    assert rows[0]["neighbor_id"] == 7


def test_ann_lsh_recall_at_top1(spark):
    rng = np.random.Generator(np.random.PCG64(13))
    vecs = rng.normal(size=(300, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    hits = 0
    queries = [(qi, list(map(float, vecs[qi] + rng.normal(size=16) * 0.05))) for qi in (3, 42, 99)]
    out = ann.cosine_topk_lsh(df, queries, k=1, n_planes=6)
    for r in out.collect():
        hits += int(r["qid"] == r["neighbor_id"])
    assert hits >= 2  # multi-probe LSH recall on easy self-queries


def test_text_functions(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and it was good for the dog", "en"),
            ("der hund ist gut und die katze ist nicht da", "de"),
            ("le chat est dans la maison et les chiens sont dans le jardin", "fr"),
        ],
        "text string, expected string",
    )
    out = df.select(
        "expected",
        lang_id(F.col("text")).alias("lang"),
        token_count(F.col("text")).alias("tc"),
        regex_token_count(F.col("text")).alias("rtc"),
        quality_score(F.col("text")).alias("q"),
        fingerprint(F.col("text")).alias("fp"),
    ).collect()
    for r in out:
        assert r["lang"] == r["expected"], r
        assert r["tc"] > 5 and r["rtc"] >= r["tc"]
        assert 0.0 <= r["q"] <= 1.0
        assert r["fp"] is not None


def test_text_functions_are_jvm_only(spark):
    df = spark.createDataFrame([("x y z",)], "text string")
    plan = (
        df.select(lang_id(F.col("text")), quality_score(F.col("text")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_winnowing_fingerprints(spark):
    from osm_pbf2json_spark.functions.text import winnowing_fingerprints

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different sentence with other words entirely"),
            (4, "PREFIX then the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    fps = {
        r["doc_id"]: set(r["fp"])
        for r in df.select("doc_id", winnowing_fingerprints(F.col("text")).alias("fp")).collect()
    }
    assert fps[1] == fps[2]  # identical docs → identical fingerprint sets
    # long shared substring guarantees shared fingerprints (winnowing bound)
    overlap_14 = len(fps[1] & fps[4]) / len(fps[1] | fps[4])
    overlap_13 = len(fps[1] & fps[3]) / len(fps[1] | fps[3])
    assert overlap_14 > 0.5 > overlap_13


def test_kgram_hash_vectorized_parity_and_speed():
    """The winnowing k-gram kernel is branch-free NumPy (Mersenne-prime
    folding), not a per-character Python loop: bit-exact vs the rolling
    reference, ≥10× faster on a 100 KB doc (measured ~11×)."""
    import time

    import numpy as np

    from osm_pbf2json_spark.functions.text import _kgram_hashes

    mod = (1 << 61) - 1
    base = 257

    def ref(codes, k):
        n = len(codes)
        basek = pow(base, k, mod)
        hs = np.empty(n - k + 1, dtype=np.int64)
        h = 0
        for c in codes[:k]:
            h = (h * base + int(c)) % mod
        hs[0] = h
        for i in range(1, n - k + 1):
            h = (h * base - int(codes[i - 1]) * basek + int(codes[i + k - 1])) % mod
            hs[i] = h
        return hs

    rng = np.random.default_rng(7)
    for n, k in [(1, 1), (5, 5), (37, 5), (300, 11), (6000, 3000)]:
        codes = rng.integers(1, 0x10FFFF, size=n).astype(np.uint32)
        assert (ref(codes, k) == _kgram_hashes(codes, k)).all(), (n, k)

    doc = rng.integers(32, 1000, size=100_000).astype(np.uint32)
    _kgram_hashes(doc, 5)  # warm numpy
    t_new = min(
        (lambda t0=time.perf_counter(): (_kgram_hashes(doc, 5), time.perf_counter() - t0)[1])()
        for _ in range(7)
    )
    t_ref = min(
        (lambda t0=time.perf_counter(): (ref(doc, 5), time.perf_counter() - t0)[1])()
        for _ in range(3)
    )
    # measured ~11x on a quiet box; assert 6x so co-tenant load spikes
    # (this VM shows load-avg 4+ windows with no local process) cannot
    # flake the suite while still proving the loop is gone
    assert t_ref / t_new >= 6, f"speedup {t_ref / t_new:.1f}x"


def test_pages_text_identity(spark):
    from osm_pbf2json_spark.sources.fixtures import synth_pages
    from osm_pbf2json_spark.sources.pages import verify_text_identity

    pages = synth_pages(spark, 200)
    assert verify_text_identity(pages) == 0  # byte-identical per url


def test_page_geo_deterministic(spark, alexanderplatz):
    from osm_pbf2json_spark.sources.fixtures import synth_pages
    from osm_pbf2json_spark.sources.pages import attach_page_geo

    pages = synth_pages(spark, 50)
    g1 = {r["url"]: r["entity_id"] for r in attach_page_geo(pages, alexanderplatz.nodes).collect()}
    g2 = {r["url"]: r["entity_id"] for r in attach_page_geo(pages, alexanderplatz.nodes).collect()}
    assert g1 == g2 and len(g1) == 50


def test_multimodal_plumbing(spark):
    from osm_pbf2json_spark.operators.multimodal import (
        decode_features,
        frame_sample_plan,
        synth_media,
    )

    media = synth_media(spark, 30)
    feats = decode_features(media, fake=True).collect()
    assert len(feats) == 30
    assert all(len(r["features"]) == 16 for r in feats)
    # deterministic across runs
    feats2 = decode_features(media, fake=True).collect()
    assert {r["media_id"]: r["features"] for r in feats} == {
        r["media_id"]: r["features"] for r in feats2
    }
    plan = frame_sample_plan(media, every_ms=2000)
    assert plan.count() > 0
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        decode_features(media, fake=False).collect()


def test_lineage_restart(spark, tmp_path):
    from osm_pbf2json_spark.plans.lineage import LineageWriter, run_partitioned

    df = spark.range(100).withColumn("part", (F.col("id") % 4).cast("int"))
    out_dir = str(tmp_path / "out")
    recs = run_partitioned(df, "part", out_dir, input_fingerprint="fp1")
    assert len(recs) == 4 and all(r["rows"] == 25 for r in recs)
    # restart: nothing left to do
    recs2 = run_partitioned(df, "part", out_dir, input_fingerprint="fp1")
    assert recs2 == []
    # simulate a lost partition: drop one manifest line
    w = LineageWriter(out_dir)
    lines = open(w.manifest_path).read().strip().split("\n")
    with open(w.manifest_path, "w") as f:
        f.write("\n".join(lines[:-1]) + "\n")
    recs3 = run_partitioned(df, "part", out_dir, input_fingerprint="fp1")
    assert len(recs3) == 1
    total = spark.read.parquet(out_dir + "/part=*").count()
    assert total == 100


def test_catalog_table_seam(spark, tmp_path):
    """spark.table() and spark.read.parquet() must be interchangeable
    entry points (Iceberg-catalog seam, SURVEY.md §1.3): same rows, same
    extracted text, through load_pages."""
    from osm_pbf2json_spark.sources.fixtures import synth_pages
    from osm_pbf2json_spark.sources.pages import extract_text, load_pages

    pages = synth_pages(spark, 50)
    loc = str(tmp_path / "pages_tbl")
    pages.write.parquet(loc)
    spark.sql(f"CREATE TABLE pages_seam USING parquet LOCATION '{loc}'")
    try:
        a = sorted(
            (r["url"], r["text_extracted"])
            for r in extract_text(load_pages(spark, "pages_seam")).collect()
        )
        b = sorted(
            (r["url"], r["text_extracted"])
            for r in extract_text(load_pages(spark, loc)).collect()
        )
        assert a == b and len(a) == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_seam")


def test_dedup_clusters_connected_components(spark):
    """Chains, triangles, isolated pairs: cluster_id = component min id,
    checked against a brute-force flood fill."""
    from osm_pbf2json_spark.operators.dedup import dedup_clusters

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),        # chain -> all label 1
        (10, 11), (11, 12), (10, 12),          # triangle -> label 10
        (20, 21),                              # pair -> label 20
        (30, 31), (32, 31), (33, 30), (34, 33) # star-ish chain -> 30
    ]
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}

    # brute-force flood fill
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    seen = set()
    for start in sorted(adj):
        if start in seen:
            continue
        comp, stack = set(), [start]
        while stack:
            v = stack.pop()
            if v in comp:
                continue
            comp.add(v)
            stack.extend(adj[v] - comp)
        for v in comp:
            want[v] = min(comp)
        seen |= comp
    assert got == want


def test_tfidf_top_terms_properties(spark):
    """Rare terms must outrank ubiquitous ones; rank is deterministic."""
    from osm_pbf2json_spark.operators.corpus import tfidf_top_terms

    rows = [
        (1, "common rare"),
        (2, "common other words"),
        (3, "common filler text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(docs, k=2).collect()
    top1 = {r["id"]: r["term"] for r in out if r["rank"] == 1}
    # equal tf: the rare term's idf beats the every-doc term's idf floor
    assert top1[1] == "rare"
    assert all(r["tfidf"] > 0 for r in out)


def test_source_stats_dup_rate(spark):
    from osm_pbf2json_spark.operators.corpus import source_stats

    rows = [
        (1, "alpha beta", "en", "s1"),
        (2, "alpha beta", "en", "s1"),   # exact dup of 1
        (3, "gamma delta", "de", "s1"),
        (4, "unique text", "en", "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = {r["source"]: r for r in source_stats(docs).collect()}
    assert got["s1"]["n_docs"] == 3 and got["s1"]["n_unique"] == 2
    assert abs(got["s1"]["dup_rate"] - (1 - 2 / 3)) < 1e-6
    assert got["s1"]["n_langs"] == 2
    assert got["s2"]["dup_rate"] == 0.0


def test_asof_join_semantics(spark):
    """Backward as-of: inclusive <= on ties, NULL before any snapshot,
    tolerance nulls stale matches."""
    import datetime as dt

    import pyspark.sql.functions as F

    from osm_pbf2json_spark.operators.asof import asof_join

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    right = spark.createDataFrame(
        [(1, t("2024-01-01 00:00:10"), 10.0), (1, t("2024-01-01 00:01:00"), 20.0),
         (2, t("2024-01-01 00:00:30"), 99.0)],
        "user_id long, ts timestamp, value double",
    )
    left = spark.createDataFrame(
        [(100, 1, t("2024-01-01 00:00:05")),   # before any -> NULL
         (101, 1, t("2024-01-01 00:00:10")),   # tie -> inclusive, 10.0
         (102, 1, t("2024-01-01 00:00:40")),   # -> 10.0
         (103, 1, t("2024-01-01 00:02:00")),   # -> 20.0
         (104, 2, t("2024-01-01 00:05:00")),   # -> 99.0
         (105, 3, t("2024-01-01 00:05:00"))],  # no key -> NULL
        "event_id long, user_id long, ts timestamp",
    )
    got = {r["event_id"]: r["asof_value"] for r in asof_join(left, right).collect()}
    assert got == {100: None, 101: 10.0, 102: 10.0, 103: 20.0, 104: 99.0, 105: None}

    tol = F.expr("INTERVAL 30 SECONDS")
    got_tol = {
        r["event_id"]: r["asof_value"]
        for r in asof_join(left, right, tolerance=tol).collect()
    }
    # 103 is 60s after its match -> stale; 104 is 270s after -> stale
    assert got_tol == {100: None, 101: 10.0, 102: 10.0, 103: None, 104: None, 105: None}


def test_interval_overlap_join_matches_bruteforce(spark):
    import numpy as np

    from osm_pbf2json_spark.operators.ranges import interval_overlap_join

    rng = np.random.Generator(np.random.PCG64(17))
    n = 500
    k = rng.integers(0, 5, n)
    s = rng.integers(0, 1000, n)
    e = s + rng.integers(0, 50, n)
    df = spark.createDataFrame(
        [(int(k[i]), i, int(s[i]), int(e[i])) for i in range(n)],
        "k long, id long, s long, e long",
    )
    got = {(r["a"], r["b"]) for r in interval_overlap_join(df, "k", "id", "s", "e", bin_size=32).collect()}
    want = {
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if k[i] == k[j] and s[i] <= e[j] and s[j] <= e[i]
    }
    assert got == want and len(want) > 1000


def test_hash_split_disjoint_exhaustive_stable(spark):
    from osm_pbf2json_spark.operators.sampling import hash_sample, hash_split

    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"]: r["split"] for r in hash_split(df, (0.8, 0.1, 0.1)).collect()}
    s2 = {r["doc_id"]: r["split"] for r in hash_split(df, (0.8, 0.1, 0.1)).collect()}
    assert s1 == s2 and len(s1) == 20000              # deterministic, exhaustive
    from collections import Counter
    c = Counter(s1.values())
    assert set(c) == {0, 1, 2}                        # disjoint index space
    assert abs(c[0] / 20000 - 0.8) < 0.02
    assert abs(c[1] / 20000 - 0.1) < 0.01

    # growth stability: a key keeps its split when the table grows
    bigger = spark.range(0, 40000).withColumnRenamed("id", "doc_id")
    s3 = {r["doc_id"]: r["split"] for r in hash_split(bigger, (0.8, 0.1, 0.1)).collect()}
    assert all(s3[k] == v for k, v in s1.items())

    samp = hash_sample(df, 0.25).count()
    assert abs(samp / 20000 - 0.25) < 0.02


def test_stratified_sample_exact_counts(spark):
    from osm_pbf2json_spark.operators.sampling import stratified_sample_exact

    rows = [(i, "en" if i % 3 else "de") for i in range(999)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample_exact(df, 0.1, strata_cols=("lang",))
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    import math
    assert got["en"] == math.ceil(666 * 0.1) and got["de"] == math.ceil(333 * 0.1)
    # deterministic membership
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in stratified_sample_exact(df, 0.1, strata_cols=("lang",)).collect())
    assert a == b


def test_real_bmp_decode_roundtrip(spark):
    """encode_bmp -> decode_bmp is exact, and decode_media reports true
    dimensions + mean RGB for a known image."""
    from osm_pbf2json_spark.operators.multimodal import (
        decode_bmp,
        decode_media,
        encode_bmp,
    )

    rgb = np.zeros((2, 3, 3), dtype=np.uint8)
    rgb[:, :, 0] = 255  # pure red
    rgb[0, 0] = (0, 255, 0)  # one green pixel
    payload = encode_bmp(rgb)
    w, h, back = decode_bmp(payload)
    assert (w, h) == (3, 2) and (back == rgb).all()

    media = spark.createDataFrame(
        [(1, "image", payload, {"width": 3, "height": 2, "sample_rate": None, "duration_ms": None})],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,duration_ms:int>",
    )
    r = decode_media(media).collect()[0]
    assert r["format"] == "bmp" and r["width"] == 3 and r["height"] == 2
    # mean R = 5/6, mean G = 1/6, mean B = 0
    assert abs(r["features"][0] - 5 / 6) < 1e-6
    assert abs(r["features"][1] - 1 / 6) < 1e-6
    assert r["features"][2] == 0.0


def test_real_wav_decode(spark):
    """A known sine: decode_media reports true rate/duration and RMS ~ a/sqrt(2)."""
    from osm_pbf2json_spark.operators.multimodal import decode_media, encode_wav

    rate = 8000
    t = np.arange(rate) / rate  # 1 second
    payload = encode_wav(0.5 * np.sin(2 * np.pi * 440 * t), rate)
    media = spark.createDataFrame(
        [(7, "audio", payload, {"width": None, "height": None, "sample_rate": rate, "duration_ms": 1000})],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,duration_ms:int>",
    )
    r = decode_media(media).collect()[0]
    assert r["format"] == "wav" and r["sample_rate"] == rate and r["duration_ms"] == 1000
    assert abs(r["features"][0] - 0.5 / np.sqrt(2)) < 0.01  # RMS
    assert abs(r["features"][1] - 0.5) < 0.01               # peak


def test_decode_media_mixed_formats_and_fallback(spark):
    """BMP/WAV/JPEG rows decode for real; opaque payloads come back
    format-NULL and still flow through decode_features(fake=True) —
    fake is no longer needed for any real image format in the mix."""
    from osm_pbf2json_spark.operators.multimodal import (
        decode_features,
        decode_media,
        synth_media_real,
    )

    media = synth_media_real(spark, 24)
    out = {r["media_id"]: r for r in decode_media(media).collect()}
    assert len(out) == 24
    for i, r in out.items():
        if i % 4 == 0:
            assert r["format"] == "bmp" and r["width"] == 16 + (i % 4) * 8
        elif i % 4 == 1:
            assert r["format"] == "wav" and r["sample_rate"] == 8000 and r["duration_ms"] == 250
        elif i % 4 == 3:
            assert r["format"] == "jpeg" and (r["width"], r["height"]) == (24, 16)
        else:
            assert r["format"] is None and r["features"] == []
    # real formats decode even with fake=False; opaque ones use the stub
    feats = decode_features(media, fake=True).collect()
    assert len(feats) == 24 and all(len(r["features"]) == 16 for r in feats)


def test_ppm_decode():
    from osm_pbf2json_spark.operators.multimodal import decode_ppm, sniff_format

    rgb = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    payload = b"P6\n# comment\n2 2\n255\n" + rgb.tobytes()
    assert sniff_format(payload) == "ppm"
    w, h, back = decode_ppm(payload)
    assert (w, h) == (2, 2) and (back == rgb).all()


def test_repetition_stats(spark):
    """Gopher-style repetition goldens: crafted docs with known
    duplicate-word and top-bigram fractions."""
    from osm_pbf2json_spark.functions.text import repetition_stats

    rows = [
        (1, "a b c d"),            # all distinct: dup 0, top bigram 1/3
        (2, "spam spam spam spam"),  # dup 3/4, bigram 'spam spam' 3/3
        (3, "x y x y x"),          # dup 3/5; bigrams: xy yx xy yx -> 2/4
        (4, "solo"),               # single word: no bigrams
    ]
    import pyspark.sql.functions as F

    df = spark.createDataFrame(rows, "doc_id long, text string")
    s = repetition_stats(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            s["n_words"].alias("n"),
            F.round(s["dup_word_frac"], 6).alias("dw"),
            F.round(s["top_bigram_frac"], 6).alias("tb"),
        ).collect()
    }
    assert got[1]["dw"] == 0.0 and abs(got[1]["tb"] - 1 / 3) < 1e-6
    assert got[2]["dw"] == 0.75 and got[2]["tb"] == 1.0
    assert got[3]["dw"] == 0.6 and got[3]["tb"] == 0.5
    assert got[4]["n"] == 1 and got[4]["tb"] == 0.0


def test_contamination_and_decontaminate(spark):
    """Eval docs and their superstrings are flagged; unrelated docs
    survive decontamination."""
    from osm_pbf2json_spark.operators.dedup import contamination_hits, decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "an entirely different sentence about spark and shuffles here"),
            (3, "prefix words then the quick brown fox jumps over more text"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    hits = {r["id"]: r["n_hits"] for r in contamination_hits(train, ev, n=5).collect()}
    assert hits.get(1) == 1 and hits.get(3) == 1 and 2 not in hits
    clean = sorted(r["doc_id"] for r in decontaminate(train, ev, n=5).collect())
    assert clean == [2]


def test_merge_signatures_equals_full(spark):
    """Mergeability: signatures of two shingle-table halves, elementwise
    min-merged, equal the signatures of the full table."""
    import pyspark.sql.functions as F
    from osm_pbf2json_spark.operators.dedup import (
        _shingle_table,
        merge_signatures,
        minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    sh = _shingle_table(docs, "text", "doc_id", 3).cache()
    half_a = sh.filter(F.pmod(F.col("h"), 2) == 0)
    half_b = sh.filter(F.pmod(F.col("h"), 2) != 0)
    full = minhash_signatures(docs, shingle_df=sh)
    merged = merge_signatures(
        minhash_signatures(docs, shingle_df=half_a),
        minhash_signatures(docs, shingle_df=half_b),
    )
    diff = (
        full.alias("f")
        .join(merged.alias("m"), "id")
        .filter(F.col("f.sig") != F.col("m.sig"))
        .count()
    )
    assert diff == 0
    assert full.count() == merged.count()


def test_url_canonicalize_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) over the full combinatorial
    grid of schemes x hosts x ports x paths x queries x fragments."""
    import itertools

    import pyspark.sql.functions as F

    from osm_pbf2json_spark.functions.urls import canonicalize_url

    parts = itertools.product(
        ["http", "HTTPS", "ftp"],
        ["Example.COM", "www.a.b.co.uk", "x.org"],
        ["", ":80", ":443", ":8080"],
        ["", "/", "/P/q", "/a%20b"],
        ["", "?b=2&a=1", "?utm_source=x", "?utm_source=x&z=9&y=8"],
        ["", "#Frag"],
    )
    urls = [(f"{s}://{h}{po}{pa}{q}{fr}",) for s, h, po, pa, q, fr in parts]
    df = spark.createDataFrame(urls, "url string")
    out = df.select(
        canonicalize_url(F.col("url")).alias("c1"),
        canonicalize_url(canonicalize_url(F.col("url"))).alias("c2"),
    )
    bad = out.filter(F.col("c1") != F.col("c2")).collect()
    assert not bad, bad[:5]


def test_hash_split_md5_saturated_boundary(spark):
    """(0.5, 0.5, 0.0): cumulative boundary hits 1.0 — every row must
    land in splits 0/1 (a 9-char hex threshold would dump ~half the rows
    into the empty split 2)."""
    import pyspark.sql.functions as F
    from osm_pbf2json_spark.operators.sampling import hash_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    counts = {
        r["split"]: r["count"]
        for r in hash_split(docs, (0.5, 0.5, 0.0), method="md5")
        .groupBy("split").count().collect()
    }
    total = sum(counts.values())
    assert counts.get(2, 0) == 0, counts
    assert 0.35 < counts[0] / total < 0.65, counts


def test_contamination_eval_different_id_column(spark):
    """Eval tables keyed differently than train must work — eval ids are
    irrelevant to the gram set."""
    from osm_pbf2json_spark.operators.dedup import contamination_hits

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over things")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [("ex-a", "the quick brown fox jumps")], "example_id string, question string"
    )
    hits = contamination_hits(train, ev, n=5, eval_text_col="question").collect()
    assert len(hits) == 1 and hits[0]["n_hits"] == 1


def test_png_decode_roundtrip_all_filters(spark):
    """PNG decode: exact round-trip through every scanline filter type
    (0=None, 1=Sub, 2=Up, 3=Average, 4=Paeth), plus RGBA alpha drop and
    Spark-side routing through decode_media."""
    from osm_pbf2json_spark.operators.multimodal import (
        decode_media,
        decode_png,
        encode_png,
        sniff_format,
    )

    rng = np.random.Generator(np.random.PCG64(11))
    rgb = rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
    for ft in range(5):
        payload = encode_png(rgb, filter_type=ft)
        assert sniff_format(payload) == "png"
        w, h, back = decode_png(payload)
        assert (w, h) == (13, 9) and (back == rgb).all(), f"filter {ft}"

    # RGBA (color type 6): alpha dropped, RGB returned
    import struct
    import zlib

    h_, w_ = 3, 4
    rgba = rng.integers(0, 256, size=(h_, w_, 4), dtype=np.uint8)
    lines = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h_))

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w_, h_, 8, 6, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(lines)) + chunk(b"IEND", b""))
    w2, h2, back2 = decode_png(payload)
    assert (w2, h2) == (w_, h_) and (back2 == rgba[:, :, :3]).all()

    # Spark-side: decode_media routes PNG for real
    media = spark.createDataFrame(
        [(0, "image", encode_png(rgb, 4),
          {"width": 13, "height": 9, "sample_rate": None, "duration_ms": None})],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,duration_ms:int>",
    )
    row = decode_media(media).collect()[0]
    assert row["format"] == "png" and (row["width"], row["height"]) == (13, 9)
    assert len(row["features"]) == 16


def test_distributed_pbf_decode_matches_single(spark):
    """Blob-parallel decode (executors) is row-identical to the
    single-process decoder, and feeds objects() to the reference golden."""
    from osm_pbf2json_spark.operators.objects import objects
    from osm_pbf2json_spark.sources.pbf import decode_pbf, load_pbf_distributed

    path = "/root/reference/tests/data/alexanderplatz.pbf"
    t = load_pbf_distributed(spark, path, parallelism=8)
    single = decode_pbf(path)
    assert t.nodes.count() == len(single.nodes)
    assert t.ways.count() == len(single.ways)
    assert t.relations.count() == len(single.relations)
    # bit-exact coords: compare one known node set hash-free
    got = {r["id"]: (r["lat"], r["lon"]) for r in t.nodes.limit(200000).collect()}
    for nid, lat, lon, _tags in single.nodes[:500]:
        assert got[nid] == (lat, lon)
    # end-to-end: the reference integration golden through the
    # distributed source
    ids = sorted(
        r["id"]
        for r in objects(t, "amenity~fountain+tourism,amenity~townhall").collect()
    )
    assert ids == [4211905, 23813204, 24045180, 52564405]


def test_png_invalid_filter_raises():
    """Corrupt scanline filter types (spec allows 0-4 only) must raise,
    not silently unfilter as Paeth."""
    import struct
    import zlib

    import pytest as _pytest

    from osm_pbf2json_spark.operators.multimodal import decode_png

    w, h = 2, 1
    line = b"\x07" + bytes(6)  # filter byte 7 = invalid

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(line)) + chunk(b"IEND", b""))
    with _pytest.raises(ValueError):
        decode_png(payload)


def test_pq_trainers_share_the_sample_size():
    import inspect

    trainers = (ann.train_ivf_centroids, ann.train_pq_codebooks, ann.train_pq_codebooks_residual, ann.train_opq)
    assert {inspect.signature(f).parameters["sample_rows"].default for f in trainers} == {ann.PQ_SAMPLE_ROWS}


def test_pq_recall_and_self_hit(spark):
    """Trained PQ (m=8 subspaces, 16 codes) vs brute force: self-query
    ranks itself first; recall@10 clears a sane floor for random-ish
    64-d embeddings; codes stay within the codebook range."""
    import numpy as np
    import pyspark.sql.functions as F
    from osm_pbf2json_spark.operators.ann import (
        cosine_topk_bruteforce,
        cosine_topk_pq,
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["neighbor_id"] for r in cosine_topk_bruteforce(emb, [(0, qv)], k=10).collect()}
    # random-ish embeddings are PQ's worst case (no cluster structure);
    # 64 codes/subspace keeps reconstruction usable even there
    approx = cosine_topk_pq(emb, [(0, qv)], k=10, m=8, k_codes=64)
    rows = approx.orderBy("rank").collect()
    assert rows[0]["neighbor_id"] == 0  # reconstruction keeps self on top
    got = {r["neighbor_id"] for r in rows}
    assert len(exact & got) >= 3, (exact, got)  # recall@10 >= 0.3

    books = train_pq_codebooks(emb, m=8, k_codes=16)
    codes = pq_encode(emb, books).collect()
    assert all(0 <= c < 16 for r in codes for c in r["codes"])
    assert all(len(r["codes"]) == 8 for r in codes)


def test_ivfpq_self_hit_and_rerank(spark):
    """IVF-PQ composition: probed-cell ADC finds the self-query; exact
    re-rank returns true cosines and improves agreement with brute
    force."""
    import pyspark.sql.functions as F
    from osm_pbf2json_spark.operators.ann import (
        cosine_topk_bruteforce,
        cosine_topk_ivfpq,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    adc = cosine_topk_ivfpq(emb, [(0, qv)], k=5, n_probe=8, m=8, k_codes=64)
    assert adc.orderBy("rank").first()["neighbor_id"] == 0
    rr = cosine_topk_ivfpq(
        emb, [(0, qv)], k=5, n_probe=8, m=8, k_codes=64, rerank=50
    ).orderBy("rank").collect()
    assert rr[0]["neighbor_id"] == 0 and rr[0]["cosine"] > 0.999
    exact = [r["neighbor_id"] for r in
             cosine_topk_bruteforce(emb, [(0, qv)], k=5).collect()]
    got = [r["neighbor_id"] for r in rr]
    assert len(set(exact) & set(got)) >= 2


def test_ivfpq_residual_beats_raw(spark):
    """Residual PQ (encode v - centroid[cell]) captures more variance
    than raw-vector PQ with the same code budget — recall must not
    regress, and the self-query still tops the ranking."""
    import pyspark.sql.functions as F
    from osm_pbf2json_spark.operators.ann import (
        cosine_topk_bruteforce,
        cosine_topk_ivfpq,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["neighbor_id"] for r in cosine_topk_bruteforce(emb, [(0, qv)], k=10).collect()}

    def recall(res):
        out = cosine_topk_ivfpq(
            emb, [(0, qv)], k=10, n_probe=16, m=8, k_codes=64, residual=res
        ).orderBy("rank").collect()
        assert out[0]["neighbor_id"] == 0
        return len(exact & {r["neighbor_id"] for r in out})

    raw, resid = recall(False), recall(True)
    assert resid >= raw, (raw, resid)
    assert resid >= 5, resid


def test_ivfpq_opq_rotation_improves_recall(spark):
    """OPQ (learned orthonormal rotation before PQ) must beat raw-vector
    PQ and at least match residual-only recall@10 on the deterministic
    training setup (measured: raw 0.43, residual 0.475, opq 0.52 over 12
    queries). The rotation is orthonormal by construction and the
    self-query still ranks itself first."""
    import pyspark.sql.functions as F
    from osm_pbf2json_spark.operators.ann import (
        cosine_topk_bruteforce,
        cosine_topk_ivfpq,
        train_opq,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    R, books = train_opq(emb, m=8, k_codes=16)
    assert np.abs(R @ R.T - np.eye(R.shape[0])).max() < 1e-9

    qrows = emb.filter(F.col("vec_id") < 12).collect()
    queries = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows]
    ex = {}
    for r in cosine_topk_bruteforce(emb, queries, k=10).collect():
        ex.setdefault(r["qid"], set()).add(r["neighbor_id"])

    def recall(**kw):
        got = {}
        out = cosine_topk_ivfpq(
            emb, queries, k=10, n_probe=16, m=8, k_codes=64, **kw
        ).collect()
        for r in out:
            got.setdefault(r["qid"], set()).add(r["neighbor_id"])
        for q in ex:
            assert q in got[q]  # self-hit survives rotation
        return sum(len(ex[q] & got.get(q, set())) for q in ex) / (10 * len(ex))

    raw = recall()
    opq = recall(opq=True)
    resid = recall(residual=True)
    assert opq > raw, (raw, opq)
    assert opq >= resid, (resid, opq)


def test_png_mixed_filters_roundtrip():
    """Per-scanline filter mixing (libpng adaptive style) round-trips."""
    from osm_pbf2json_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.Generator(np.random.PCG64(21))
    rgb = rng.integers(0, 256, size=(17, 11, 3), dtype=np.uint8)
    w, h, back = decode_png(encode_png(rgb, filter_type=None))
    assert (w, h) == (11, 17) and (back == rgb).all()


def test_pbf_index_truncated_files():
    """scan_blob_index on truncated files returns a prefix of the full
    index or raises — never hangs, never fabricates blobs."""
    import pytest as _pytest

    from osm_pbf2json_spark.sources.pbf import scan_blob_index

    path = "/root/reference/tests/data/alexanderplatz.pbf"
    full = scan_blob_index(path)
    data = open(path, "rb").read()
    import tempfile

    for cut in (0, 3, 17, len(data) // 3, len(data) - 5):
        with tempfile.NamedTemporaryFile(suffix=".pbf") as f:
            f.write(data[:cut])
            f.flush()
            try:
                idx = scan_blob_index(f.name)
            except Exception:
                continue  # clean failure is acceptable
            assert idx == full[: len(idx)], cut


def test_jpeg_decode_spec_literal_golden():
    """Decoder pinned by a HAND-CONSTRUCTED baseline JPEG (independent of
    our encoder): grayscale 8x8 solid 130, unit quant table, standard
    Annex K luma Huffman tables. DC coefficient = 8*(130-128) = 16
    (category 5), AC = EOB. Also asserts the spec-documented code words
    (DC cat-5 = 110b, AC EOB = 1010b) so the table builder itself is
    checked against T.81 Annex K, not just self-consistent."""
    import struct

    from osm_pbf2json_spark.operators.jpeg import (
        _AC_LUMA_SPEC,
        _DC_LUMA_SPEC,
        ZIGZAG,
        _huff_codes,
        decode_jpeg,
    )

    assert _huff_codes(_DC_LUMA_SPEC)[5] == (0b110, 3)
    assert _huff_codes(_AC_LUMA_SPEC)[0x00] == (0b1010, 4)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(tc, th, spec):
        bits, vals = spec
        return bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)

    data = bytearray(b"\xff\xd8")
    data += seg(0xDB, bytes([0]) + bytes([1] * 64))  # unit quant
    data += seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    data += seg(0xC4, dht(0, 0, _DC_LUMA_SPEC))
    data += seg(0xC4, dht(1, 0, _AC_LUMA_SPEC))
    data += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # entropy bits: DC cat5 '110' + value 16 '10000' + EOB '1010',
    # padded with 1s: 1101 0000 1010 1111 = 0xD0 0xAF
    data += bytes([0xD0, 0xAF])
    data += b"\xff\xd9"

    w, h, rgb = decode_jpeg(bytes(data))
    assert (w, h) == (8, 8)
    assert (rgb == 130).all()
    assert ZIGZAG[0] == 0  # sanity: zigzag starts at DC


def test_jpeg_decode_420_subsampled_hand_built():
    """Hand-built 4:2:0 stream (MCU = 4 Y blocks + Cb + Cr): 16x16 solid
    gray 100 through the full color pipeline must decode exactly —
    validates MCU block ordering, chroma upsampling, and YCbCr→RGB."""
    import struct

    from osm_pbf2json_spark.operators.jpeg import (
        _AC_CHROMA_SPEC,
        _AC_LUMA_SPEC,
        _BitWriter,
        _DC_CHROMA_SPEC,
        _DC_LUMA_SPEC,
        _huff_codes,
        decode_jpeg,
    )

    dc_l = _huff_codes(_DC_LUMA_SPEC)
    ac_l = _huff_codes(_AC_LUMA_SPEC)
    dc_c = _huff_codes(_DC_CHROMA_SPEC)
    ac_c = _huff_codes(_AC_CHROMA_SPEC)

    bw = _BitWriter()
    # Y: DC = 8*(100-128) = -224 (cat 8, bits = -224 + 255 = 31)
    code, ln = dc_l[8]
    bw.write(code, ln)
    bw.write(31, 8)
    code, ln = ac_l[0x00]
    bw.write(code, ln)
    for _ in range(3):  # remaining Y blocks: diff 0 + EOB
        code, ln = dc_l[0]
        bw.write(code, ln)
        code, ln = ac_l[0x00]
        bw.write(code, ln)
    for _ in range(2):  # Cb, Cr: DC 0 + EOB
        code, ln = dc_c[0]
        bw.write(code, ln)
        code, ln = ac_c[0x00]
        bw.write(code, ln)
    bw.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(tc, th, spec):
        bits, vals = spec
        return bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)

    data = bytearray(b"\xff\xd8")
    data += seg(0xDB, bytes([0]) + bytes([1] * 64))
    data += seg(0xDB, bytes([1]) + bytes([1] * 64))
    data += seg(
        0xC0,
        bytes([8]) + struct.pack(">HH", 16, 16)
        + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    data += seg(0xC4, dht(0, 0, _DC_LUMA_SPEC))
    data += seg(0xC4, dht(1, 0, _AC_LUMA_SPEC))
    data += seg(0xC4, dht(0, 1, _DC_CHROMA_SPEC))
    data += seg(0xC4, dht(1, 1, _AC_CHROMA_SPEC))
    data += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    data += bytes(bw.out) + bytes([bw.cur]) if bw.nbits else bytes(bw.out)
    data += b"\xff\xd9"

    w, h, rgb = decode_jpeg(bytes(data))
    assert (w, h) == (16, 16)
    assert (rgb == 100).all()


def test_jpeg_round_trip():
    """encode_jpeg → decode_jpeg: solid exact; smooth gradients within
    tight error; q100 noise ~exact (quant steps all small)."""
    from osm_pbf2json_spark.operators.jpeg import decode_jpeg, encode_jpeg

    solid = np.full((8, 8, 3), 100, np.uint8)
    w, h, back = decode_jpeg(encode_jpeg(solid, quality=95))
    assert (w, h) == (8, 8) and (back == 100).all()

    x = np.linspace(0, 4 * np.pi, 48)
    y = np.linspace(0, 3 * np.pi, 32)
    gx, gy = np.meshgrid(x, y)
    img = np.stack(
        [
            (127 + 120 * np.sin(gx)).astype(np.uint8),
            (127 + 120 * np.cos(gy)).astype(np.uint8),
            (127 + 100 * np.sin(gx + gy)).astype(np.uint8),
        ],
        axis=-1,
    )
    w, h, back = decode_jpeg(encode_jpeg(img, quality=92))
    err = np.abs(back.astype(int) - img.astype(int))
    assert (w, h) == (48, 32) and err.max() <= 24 and err.mean() < 4

    # non-multiple-of-8 dims exercise edge-block padding + crop
    img2 = img[:27, :41]
    w2, h2, back2 = decode_jpeg(encode_jpeg(img2, quality=85))
    assert (w2, h2) == (41, 27)
    assert np.abs(back2.astype(int) - img2.astype(int)).mean() < 6

    rng = np.random.Generator(np.random.PCG64(9))
    noise = rng.integers(0, 256, size=(24, 24, 3)).astype(np.uint8)
    _, _, back3 = decode_jpeg(encode_jpeg(noise, quality=100))
    assert np.abs(back3.astype(int) - noise.astype(int)).max() <= 4


def test_jpeg_arithmetic_raises_and_routes_to_stub(spark):
    """SOF9 (arithmetic-coded) raises NotImplementedError from
    decode_jpeg; through decode_media it routes to format-NULL, and
    through decode_features(fake=True) to the deterministic stub."""
    import struct

    import pytest

    from osm_pbf2json_spark.operators.jpeg import decode_jpeg
    from osm_pbf2json_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_features,
        decode_media,
        sniff_format,
    )

    body = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    arith = (
        b"\xff\xd8"
        + bytes([0xFF, 0xC9]) + struct.pack(">H", len(body) + 2) + body
        + b"\xff\xd9"
    )
    assert sniff_format(arith) == "jpeg"
    with pytest.raises(NotImplementedError, match="coding process"):
        decode_jpeg(arith)
    media = spark.createDataFrame(
        [(1, "image", arith, None)], MEDIA_SCHEMA
    )
    r = decode_media(media).collect()[0]
    assert r["format"] is None and r["features"] == []
    f = decode_features(media, fake=True).collect()[0]
    assert len(f["features"]) == 16


def test_jpeg_corrupt_payload_contract(spark):
    """Malformed JPEG streams raise ValueError (one exception contract —
    truncation and missing-DHT used to leak IndexError/KeyError), and a
    corrupt payload in a decode_media batch routes to format-NULL
    instead of failing the Spark job."""
    import pytest

    from osm_pbf2json_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from osm_pbf2json_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
    )

    rng = np.random.Generator(np.random.PCG64(7))
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    good = encode_jpeg(img, quality=80)

    with pytest.raises(ValueError):
        decode_jpeg(good[:3])  # truncated inside the first marker
    # strip every DHT segment -> referenced-but-missing Huffman table
    no_dht = bytearray()
    pos = 0
    while pos < len(good):
        if good[pos] == 0xFF and pos + 1 < len(good) and good[pos + 1] == 0xC4:
            (ln,) = struct.unpack(">H", good[pos + 2 : pos + 4])
            pos += 2 + ln
            continue
        no_dht.append(good[pos])
        pos += 1
    with pytest.raises(ValueError):
        decode_jpeg(bytes(no_dht))

    media = spark.createDataFrame(
        [(1, "image", good, None), (2, "image", bytes(good[:40]), None)],
        MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in decode_media(media).collect()}
    assert rows[1]["format"] == "jpeg" and rows[1]["width"] == 16
    assert rows[2]["format"] is None and rows[2]["features"] == []


def test_jpeg_progressive_spec_literal():
    """Progressive decoder pinned by a HAND-CONSTRUCTED SOF2 stream
    (independent of any encoder): grayscale 8x8 solid 130 in three
    scans — DC first at Al=1 (diff 8, category 4 = '101' + '1000'),
    DC refinement (one 0 bit), AC first 1..63 (EOB = '1010'). The
    successive-approximation reconstruction (8<<1)|0 = 16 must equal
    the baseline stream's DC coefficient, so the pixels match the
    baseline spec-literal golden exactly."""
    import struct

    from osm_pbf2json_spark.operators.jpeg import (
        _AC_LUMA_SPEC,
        _DC_LUMA_SPEC,
        decode_jpeg,
    )

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(tc, th, spec):
        bits, vals = spec
        return bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)

    data = bytearray(b"\xff\xd8")
    data += seg(0xDB, bytes([0]) + bytes([1] * 64))  # unit quant
    data += seg(0xC2, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    data += seg(0xC4, dht(0, 0, _DC_LUMA_SPEC))
    data += seg(0xC4, dht(1, 0, _AC_LUMA_SPEC))
    # scan 1: DC first, Ss=0 Se=0 Ah=0 Al=1 — codes 16>>1 = 8 (cat 4):
    # '101' + '1000' = 1011000, 1-padded to 0xB1
    data += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01])) + bytes([0xB1])
    # scan 2: DC refine, Ah=1 Al=0 — one 0 bit (16 & 1), padded 0x7F
    data += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10])) + bytes([0x7F])
    # scan 3: AC first 1..63, all zero — EOB '1010', padded 0xAF
    data += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + bytes([0xAF])
    data += b"\xff\xd9"

    w, h, rgb = decode_jpeg(bytes(data))
    assert (w, h) == (8, 8)
    assert (rgb == 130).all()


def _jpeg_seg(marker, body):
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _jpeg_dht(tc, th, spec):
    bits, vals = spec
    return bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)


def _enc_dc(bw, diff, codes):
    t = int(abs(diff)).bit_length()
    c, ln = codes[t]
    bw.write(c, ln)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)


def _enc_block_baseline(bw, zz, pred, cid, dc, ac):
    _enc_dc(bw, int(zz[0]) - pred[cid], dc)
    pred[cid] = int(zz[0])
    nz = [k for k in range(1, 64) if zz[k]]
    last = nz[-1] if nz else 0
    run = 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac[0xF0]
            bw.write(c, ln)
            run -= 16
        s = abs(v).bit_length()
        c, ln = ac[(run << 4) | s]
        bw.write(c, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        c, ln = ac[0x00]
        bw.write(c, ln)


def _enc_ac_first_scan(bw, blocks, ss, se, al, ac):
    """Progressive AC first scan (T.81 G.1.2.2) with cross-block EOB-run
    accumulation, so the decoder's multi-block EOBRUN skip is exercised."""
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            c, ln = ac[r << 4]
            bw.write(c, ln)
            if r:
                bw.write(eobrun - (1 << r), r)
            eobrun = 0

    for zz in blocks:
        if not any(abs(int(zz[k])) >> al for k in range(ss, se + 1)):
            eobrun += 1
            continue
        flush_eob()
        r = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            av = abs(v) >> al
            if av == 0:
                r += 1
                continue
            while r > 15:
                c, ln = ac[0xF0]
                bw.write(c, ln)
                r -= 16
            s = av.bit_length()
            c, ln = ac[(r << 4) | s]
            bw.write(c, ln)
            sv = av if v >= 0 else -av
            bw.write(sv if sv >= 0 else sv + (1 << s) - 1, s)
            r = 0
        if r > 0:
            eobrun = 1
    flush_eob()


def _enc_ac_refine_scan(bw, blocks, ss, se, al, ac):
    """Progressive AC refinement (T.81 G.1.2.3): per-block EOB, buffered
    correction bits flushed after each symbol, libjpeg bit order."""
    for zz in blocks:
        r = 0
        pending = []
        for k in range(ss, se + 1):
            v = int(zz[k])
            t = abs(v) >> al
            if t == 0:
                r += 1
                continue
            # ZRL emission must precede buffering THIS position's bit
            # (libjpeg order): pending bits flushed with a ZRL are read
            # by the decoder while it advances over that ZRL's 16 zeros,
            # so they may only come from positions before those zeros
            while r > 15:
                c, ln = ac[0xF0]
                bw.write(c, ln)
                for b in pending:
                    bw.write(b, 1)
                pending = []
                r -= 16
            if t > 1:
                pending.append((abs(v) >> al) & 1)
                continue
            c, ln = ac[(r << 4) | 1]
            bw.write(c, ln)
            bw.write(1 if v > 0 else 0, 1)
            for b in pending:
                bw.write(b, 1)
            pending = []
            r = 0
        if r > 0 or pending:
            c, ln = ac[0x00]
            bw.write(c, ln)
            for b in pending:
                bw.write(b, 1)


def test_jpeg_progressive_matches_baseline():
    """Baseline and progressive streams built from the SAME synthesized
    quantized coefficients must decode to identical pixels — grayscale
    and 3-component 4:2:0 (24x16: the luma MCU-padded grid is 4x2
    blocks but its own grid is 3x2, so non-interleaved AC scans must
    use the component grid). The progressive stream uses successive
    approximation (Al=1 first scans + Al=0 refinements) with band
    splits and cross-block EOB runs; DC scans are interleaved."""
    from osm_pbf2json_spark.operators.jpeg import (
        _AC_CHROMA_SPEC,
        _AC_LUMA_SPEC,
        _BitWriter,
        _DC_CHROMA_SPEC,
        _DC_LUMA_SPEC,
        _huff_codes,
        decode_jpeg,
    )

    dc_l, ac_l = _huff_codes(_DC_LUMA_SPEC), _huff_codes(_AC_LUMA_SPEC)
    dc_c, ac_c = _huff_codes(_DC_CHROMA_SPEC), _huff_codes(_AC_CHROMA_SPEC)
    # Annex K AC tables carry no EOBn (r>0, s=0) symbols — those exist
    # only in progressive streams, which ship custom tables. Flat table:
    # all 256 symbols at code length 9 (canonical, all-ones unused).
    flat_spec = ([0, 0, 0, 0, 0, 0, 0, 0, 255, 0, 0, 0, 0, 0, 0, 0],
                 list(range(255)))
    flat_ac = _huff_codes(flat_spec)
    rng = np.random.Generator(np.random.PCG64(21))

    def sparse_blocks(n):
        out = []
        for _ in range(n):
            zz = np.zeros(64, np.int64)
            zz[0] = int(rng.integers(-90, 90))
            for _k in range(int(rng.integers(0, 10))):
                zz[int(rng.integers(1, 64))] = int(rng.integers(-80, 80))
            out.append(zz)
        # ensure some all-zero-AC blocks so EOB runs span blocks
        for i in range(0, n, 3):
            out[i][1:] = 0
        return out

    # --- grayscale 8 blocks wide x 1 high (64x8) -------------------------
    gy = sparse_blocks(8)
    hdr = bytearray(b"\xff\xd8")
    hdr += _jpeg_seg(0xDB, bytes([0]) + bytes([1] * 64))
    sof_body = bytes([8]) + struct.pack(">HH", 8, 64) + bytes([1, 1, 0x11, 0])
    hdr += _jpeg_seg(0xC4, _jpeg_dht(0, 0, _DC_LUMA_SPEC))
    hdr += _jpeg_seg(0xC4, _jpeg_dht(1, 0, _AC_LUMA_SPEC))

    base = bytearray(hdr)
    base += _jpeg_seg(0xC0, sof_body)
    bw = _BitWriter()
    pred = {1: 0}
    for zz in gy:
        _enc_block_baseline(bw, zz, pred, 1, dc_l, ac_l)
    bw.flush()
    base += _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0])) + bytes(bw.out)
    base += b"\xff\xd9"

    prog = bytearray(hdr)
    prog += _jpeg_seg(0xC4, _jpeg_dht(1, 0, flat_spec))  # flat AC w/ EOBn
    prog += _jpeg_seg(0xC2, sof_body)
    # DC first at Al=1
    bw = _BitWriter()
    pred = {1: 0}
    for zz in gy:
        _enc_dc(bw, (int(zz[0]) >> 1) - pred[1], dc_l)
        pred[1] = int(zz[0]) >> 1
    bw.flush()
    prog += _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01])) + bytes(bw.out)
    # AC first, two bands, Al=1
    for ss, se in ((1, 20), (21, 63)):
        bw = _BitWriter()
        _enc_ac_first_scan(bw, gy, ss, se, 1, flat_ac)
        bw.flush()
        prog += _jpeg_seg(0xDA, bytes([1, 1, 0x00, ss, se, 0x01])) + bytes(bw.out)
    # DC refine
    bw = _BitWriter()
    for zz in gy:
        bw.write(int(zz[0]) & 1, 1)
    bw.flush()
    prog += _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10])) + bytes(bw.out)
    # AC refine, same bands
    for ss, se in ((1, 20), (21, 63)):
        bw = _BitWriter()
        _enc_ac_refine_scan(bw, gy, ss, se, 0, flat_ac)
        bw.flush()
        prog += _jpeg_seg(0xDA, bytes([1, 1, 0x00, ss, se, 0x10])) + bytes(bw.out)
    prog += b"\xff\xd9"

    wb, hb, rgb_base = decode_jpeg(bytes(base))
    wp, hp, rgb_prog = decode_jpeg(bytes(prog))
    assert (wb, hb) == (64, 8) == (wp, hp)
    assert (rgb_base == rgb_prog).all()

    # --- 3-component 4:2:0, 24x16 ---------------------------------------
    # luma padded grid 4x2 (MCU-interleaved), own grid 3x2 (AC scans);
    # chroma grids 2x1. Padded-only luma blocks (column 3) are coded by
    # the baseline scan but not by progressive AC scans — they are
    # cropped away, so outputs still match on the visible 24x16.
    yb = sparse_blocks(8)  # 4x2 row-major padded grid
    cb = sparse_blocks(2)
    cr = sparse_blocks(2)
    y_own = [yb[ry * 4 + rx] for ry in range(2) for rx in range(3)]
    for blk in (yb[3], yb[7]):  # padded column: DC only, zero AC
        blk[1:] = 0

    hdr3 = bytearray(b"\xff\xd8")
    hdr3 += _jpeg_seg(0xDB, bytes([0]) + bytes([1] * 64))
    hdr3 += _jpeg_seg(0xDB, bytes([1]) + bytes([1] * 64))
    for tc, th, spec in (
        (0, 0, _DC_LUMA_SPEC), (1, 0, _AC_LUMA_SPEC),
        (0, 1, _DC_CHROMA_SPEC), (1, 1, _AC_CHROMA_SPEC),
    ):
        hdr3 += _jpeg_seg(0xC4, _jpeg_dht(tc, th, spec))
    sof3 = (
        bytes([8]) + struct.pack(">HH", 16, 24)
        + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    )

    def mcu_iter():
        """(cid, zz) in interleaved MCU order for 2x1 MCUs."""
        for mx in range(2):
            for by in range(2):
                for bx in range(2):
                    yield 1, yb[by * 4 + mx * 2 + bx]
            yield 2, cb[mx]
            yield 3, cr[mx]

    base3 = bytearray(hdr3)
    base3 += _jpeg_seg(0xC0, sof3)
    bw = _BitWriter()
    pred = {1: 0, 2: 0, 3: 0}
    for cid, zz in mcu_iter():
        dc, ac = (dc_l, ac_l) if cid == 1 else (dc_c, ac_c)
        _enc_block_baseline(bw, zz, pred, cid, dc, ac)
    bw.flush()
    base3 += _jpeg_seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    ) + bytes(bw.out)
    base3 += b"\xff\xd9"

    prog3 = bytearray(hdr3)
    prog3 += _jpeg_seg(0xC4, _jpeg_dht(1, 0, flat_spec))
    prog3 += _jpeg_seg(0xC4, _jpeg_dht(1, 1, flat_spec))
    prog3 += _jpeg_seg(0xC2, sof3)
    # DC first, interleaved over all three components, Al=1
    bw = _BitWriter()
    pred = {1: 0, 2: 0, 3: 0}
    for cid, zz in mcu_iter():
        dc = dc_l if cid == 1 else dc_c
        _enc_dc(bw, (int(zz[0]) >> 1) - pred[cid], dc)
        pred[cid] = int(zz[0]) >> 1
    bw.flush()
    prog3 += _jpeg_seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 0, 0x01])
    ) + bytes(bw.out)
    # AC first scans per component (luma band-split), Al=1
    for comp_sel, blocks, ac, bands in (
        (1, y_own, flat_ac, ((1, 5), (6, 63))),
        (2, cb, flat_ac, ((1, 63),)),
        (3, cr, flat_ac, ((1, 63),)),
    ):
        tt = 0x00 if comp_sel == 1 else 0x11
        for ss, se in bands:
            bw = _BitWriter()
            _enc_ac_first_scan(bw, blocks, ss, se, 1, ac)
            bw.flush()
            prog3 += _jpeg_seg(
                0xDA, bytes([1, comp_sel, tt, ss, se, 0x01])
            ) + bytes(bw.out)
    # DC refine, interleaved
    bw = _BitWriter()
    for cid, zz in mcu_iter():
        bw.write(int(zz[0]) & 1, 1)
    bw.flush()
    prog3 += _jpeg_seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 0, 0x10])
    ) + bytes(bw.out)
    # AC refine scans
    for comp_sel, blocks, ac, bands in (
        (1, y_own, flat_ac, ((1, 5), (6, 63))),
        (2, cb, flat_ac, ((1, 63),)),
        (3, cr, flat_ac, ((1, 63),)),
    ):
        tt = 0x00 if comp_sel == 1 else 0x11
        for ss, se in bands:
            bw = _BitWriter()
            _enc_ac_refine_scan(bw, blocks, ss, se, 0, ac)
            bw.flush()
            prog3 += _jpeg_seg(
                0xDA, bytes([1, comp_sel, tt, ss, se, 0x10])
            ) + bytes(bw.out)
    prog3 += b"\xff\xd9"

    wb, hb, rgb_base3 = decode_jpeg(bytes(base3))
    wp, hp, rgb_prog3 = decode_jpeg(bytes(prog3))
    assert (wb, hb) == (24, 16) == (wp, hp)
    assert (rgb_base3 == rgb_prog3).all()


def test_simhash_fold_chunk_boundary(spark):
    """The flattened simhash fold chunks rows at ~1M tokens; fingerprints
    must be identical whether docs land in one chunk or split across
    chunks (forced here by many same-size docs vs a tiny chunk limit)."""
    import osm_pbf2json_spark.operators.dedup as D

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(40))) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {r["id"]: r["simhash"] for r in D.simhash(df).collect()}
    # recompute with per-doc token arrays straddling artificial chunk
    # boundaries: monkeypatch the chunk limit via a tiny-token corpus is
    # not possible from outside, so verify against an independent scalar
    # reference instead
    import numpy as np

    from osm_pbf2json_spark.functions.text import normalize
    import pyspark.sql.functions as F

    toks = df.select(
        "doc_id",
        F.transform(
            F.split(normalize(F.col("text")), " "), lambda w: F.xxhash64(w)
        ).alias("hs"),
    ).collect()
    for r in toks:
        h = np.asarray(r["hs"], dtype=np.uint64)
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(int)
        votes = (2 * bits - 1).sum(axis=0)
        word = ((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
            dtype=np.uint64
        )
        assert int(word.astype(np.int64)) == base[r["doc_id"]], r["doc_id"]


def test_jpeg_decoder_never_hangs_on_garbage():
    """Truncations, bit-flips, and random JPEG-magic payloads either
    decode or raise promptly — no hangs, no giant allocations (crafted
    dimension fields are rejected by the max_pixels guard)."""
    import time

    import pytest

    from osm_pbf2json_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.Generator(np.random.PCG64(33))
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    good = bytearray(encode_jpeg(img, quality=80))

    t0 = time.time()
    for cut in (2, 3, 10, 50, len(good) // 2, len(good) - 3):
        try:
            decode_jpeg(bytes(good[:cut]))  # truncations may still decode
        except Exception:
            pass  # ...or raise promptly — either is clean
    for trial in range(30):
        mut = bytearray(good)
        for _ in range(int(rng.integers(1, 6))):
            mut[int(rng.integers(2, len(mut)))] = int(rng.integers(0, 256))
        try:
            w, h, rgb = decode_jpeg(bytes(mut))
            assert rgb.shape == (h, w, 3)
        except Exception:
            pass  # clean failure is acceptable
    for trial in range(20):
        junk = b"\xff\xd8\xff" + bytes(rng.integers(0, 256, size=200, dtype=np.uint8))
        try:
            decode_jpeg(junk)
        except Exception:
            pass
    assert time.time() - t0 < 30  # bounded work on all adversarial inputs


def test_jpeg_restart_markers_and_dc_reset():
    """Hand-built two-MCU grayscale stream with DRI=1: an RST0 marker
    separates the MCUs and resets the DC predictor, so the second block's
    DC diff is absolute. Solid values decode exactly."""
    import struct

    from osm_pbf2json_spark.operators.jpeg import (
        _AC_LUMA_SPEC,
        _BitWriter,
        _DC_LUMA_SPEC,
        _huff_codes,
        decode_jpeg,
    )

    dc = _huff_codes(_DC_LUMA_SPEC)
    ac = _huff_codes(_AC_LUMA_SPEC)

    def block_bits(bw, dc_diff):
        from osm_pbf2json_spark.operators.jpeg import _category

        t = _category(dc_diff)
        code, ln = dc[t]
        bw.write(code, ln)
        if t:
            bw.write(dc_diff if dc_diff >= 0 else dc_diff + (1 << t) - 1, t)
        code, ln = ac[0x00]
        bw.write(code, ln)

    # MCU 1: value 140 → DC = 8*(140-128) = 96 (diff from pred 0)
    bw1 = _BitWriter()
    block_bits(bw1, 96)
    bw1.flush()
    # MCU 2 (after restart, pred reset): value 120 → DC = 8*(120-128) = -64
    bw2 = _BitWriter()
    block_bits(bw2, -64)
    bw2.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(tc, th, spec):
        bits, vals = spec
        return bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)

    data = bytearray(b"\xff\xd8")
    data += seg(0xDB, bytes([0]) + bytes([1] * 64))
    data += seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0]))
    data += seg(0xC4, dht(0, 0, _DC_LUMA_SPEC))
    data += seg(0xC4, dht(1, 0, _AC_LUMA_SPEC))
    data += seg(0xDD, struct.pack(">H", 1))  # DRI = 1 MCU
    data += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    data += bytes(bw1.out) + b"\xff\xd0" + bytes(bw2.out)
    data += b"\xff\xd9"

    w, h, rgb = decode_jpeg(bytes(data))
    assert (w, h) == (16, 8)
    assert (rgb[:, :8] == 140).all()
    assert (rgb[:, 8:] == 120).all()


def _mp4_box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + typ + body


def _build_test_mp4() -> bytes:
    """Minimal ISO-BMFF: mvhd (timescale 1000, duration 5500), one video
    trak (tkhd 640x360 16.16-fixed, hdlr vide, stsd avc1) and one audio
    trak (hdlr soun, stsd mp4a with 44100 Hz 16.16-fixed sample rate)."""
    ftyp = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mvhd = _mp4_box(
        b"mvhd",
        b"\x00\x00\x00\x00" + b"\x00" * 8 + struct.pack(">II", 1000, 5500)
        + b"\x00" * 80,
    )
    tkhd_v = _mp4_box(
        b"tkhd",
        b"\x00\x00\x00\x0f" + b"\x00" * 72
        + struct.pack(">II", 640 << 16, 360 << 16),
    )
    hdlr_v = _mp4_box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    entry_v = struct.pack(">I", 86) + b"avc1" + b"\x00" * 78
    stsd_v = _mp4_box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry_v)
    mdia_v = _mp4_box(
        b"mdia", hdlr_v + _mp4_box(b"minf", _mp4_box(b"stbl", stsd_v))
    )
    trak_v = _mp4_box(b"trak", tkhd_v + mdia_v)
    tkhd_a = _mp4_box(b"tkhd", b"\x00" * 84)
    hdlr_a = _mp4_box(b"hdlr", b"\x00" * 8 + b"soun" + b"\x00" * 12)
    # spec-conformant AudioSampleEntry (ISO 14496-12 §12.2.3): 8 box
    # header + 6 reserved + 2 data_ref + 8 reserved + ch(2) ss(2)
    # predefined(2) reserved(2) + samplerate 16.16 at entry start + 32
    entry_a = (
        struct.pack(">I", 36) + b"mp4a"
        + b"\x00" * 16  # reserved/data_ref/reserved
        + struct.pack(">HHHH", 2, 16, 0, 0)  # ch, samplesize, pre, res
        + struct.pack(">I", 44100 << 16)
    )
    stsd_a = _mp4_box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry_a)
    mdia_a = _mp4_box(
        b"mdia", hdlr_a + _mp4_box(b"minf", _mp4_box(b"stbl", stsd_a))
    )
    trak_a = _mp4_box(b"trak", tkhd_a + mdia_a)
    moov = _mp4_box(b"moov", mvhd + trak_v + trak_a)
    return ftyp + moov + _mp4_box(b"mdat", b"\x00" * 16)


def _build_test_mp3(n_frames: int = 10, id3: bool = False) -> bytes:
    """MPEG-1 Layer III, 128 kbps, 44100 Hz, no padding: frame length
    144*128000//44100 = 417 bytes; 1152 samples/frame."""
    hdr = bytes([0xFF, 0xFB, 0x90, 0x00])
    frame = hdr + b"\x00" * (417 - 4)
    tag = b""
    if id3:
        tag = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 100]) + b"\x00" * 100
    return tag + frame * n_frames


def test_mp4_mp3_container_metadata(spark):
    """MP4/MP3 container metadata is decoded for REAL (box walk / frame
    header walk — public ISO 14496-12 and MPEG frame layouts); only the
    codec-level sample decode stays stubbed, so decode_media reports
    true dimensions/duration/sample-rate with empty features, and
    decode_features still routes these to the fake/stub path."""
    from osm_pbf2json_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_features,
        decode_media,
        parse_mp3,
        parse_mp4,
        sniff_format,
    )

    mp4 = _build_test_mp4()
    assert sniff_format(mp4) == "mp4"
    m = parse_mp4(mp4)
    assert m["duration_ms"] == 5500
    assert (m["width"], m["height"]) == (640, 360)
    assert m["sample_rate"] == 44100
    assert m["codecs"] == ["avc1", "mp4a"]
    assert (m["n_video"], m["n_audio"]) == (1, 1)

    mp3 = _build_test_mp3(10)
    assert sniff_format(mp3) == "mp3"
    a = parse_mp3(mp3)
    assert a["sample_rate"] == 44100 and a["n_frames"] == 10
    assert a["duration_ms"] == round(10 * 1152 * 1000 / 44100)
    a2 = parse_mp3(_build_test_mp3(7, id3=True))
    assert a2["n_frames"] == 7

    media = spark.createDataFrame(
        [(1, "video", mp4, None), (2, "audio", mp3, None)], MEDIA_SCHEMA
    )
    rows = {r["media_id"]: r for r in decode_media(media).collect()}
    assert rows[1]["format"] == "mp4" and rows[1]["width"] == 640
    assert rows[1]["duration_ms"] == 5500
    assert rows[2]["format"] == "mp3" and rows[2]["sample_rate"] == 44100
    assert rows[1]["features"] == [] and rows[2]["features"] == []
    f = {r["media_id"]: r for r in decode_features(media, fake=True).collect()}
    assert len(f[1]["features"]) == 16 and len(f[2]["features"]) == 16


def test_jpeg_progressive_restart_markers():
    """Progressive DC scan with DRI=1: RST0 between the two data units
    resets the DC predictor, so the second unit's diff is absolute
    (same contract as the baseline restart test, through the
    progressive path)."""
    from osm_pbf2json_spark.operators.jpeg import (
        _AC_LUMA_SPEC,
        _BitWriter,
        _DC_LUMA_SPEC,
        _huff_codes,
        decode_jpeg,
    )

    dc = _huff_codes(_DC_LUMA_SPEC)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(tc, th, spec):
        bits, vals = spec
        return bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)

    def dc_bits(vals):
        bw = _BitWriter()
        for v in vals:
            t = int(abs(v)).bit_length()
            c, ln = dc[t]
            bw.write(c, ln)
            if t:
                bw.write(v if v >= 0 else v + (1 << t) - 1, t)
        bw.flush()
        return bytes(bw.out)

    # 16x8 grayscale = 2 blocks; DC values 16 and 24 (solid 130 / 131)
    data = bytearray(b"\xff\xd8")
    data += seg(0xDB, bytes([0]) + bytes([1] * 64))
    data += seg(0xC2, bytes([8]) + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0]))
    data += seg(0xC4, dht(0, 0, _DC_LUMA_SPEC))
    data += seg(0xC4, dht(1, 0, _AC_LUMA_SPEC))
    data += seg(0xDD, struct.pack(">H", 1))  # DRI = 1
    # DC first scan at Al=0: unit 1 codes diff 16; RST0; unit 2 codes
    # ABSOLUTE 24 (predictor reset). AC scan: both blocks all-zero EOB.
    data += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00]))
    data += dc_bits([16]) + b"\xff\xd0" + dc_bits([24])
    # AC scan 1..63: both blocks all-zero — one EOB (0x00) per block;
    # DRI=1 still applies, so an RST0 separates the two data units here
    # too (a real progressive encoder emits restarts in every scan)
    data += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00]))
    ac = _huff_codes(_AC_LUMA_SPEC)

    def eob_unit():
        bw = _BitWriter()
        c, ln = ac[0x00]
        bw.write(c, ln)
        bw.flush()
        return bytes(bw.out)

    data += eob_unit() + b"\xff\xd0" + eob_unit()
    data += b"\xff\xd9"

    w, h, rgb = decode_jpeg(bytes(data))
    assert (w, h) == (16, 8)
    assert (rgb[:, :8] == 130).all() and (rgb[:, 8:] == 131).all()


def test_mp4_mp3_garbage_routes_to_null(spark):
    """Truncated/corrupt MP4 and MP3 payloads never fail the batch —
    they route to format-NULL through decode_media (the parser raises
    ValueError/struct.error, caught at the kernel boundary)."""
    import numpy as np

    from osm_pbf2json_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
    )

    mp4 = _build_test_mp4()
    mp3 = _build_test_mp3(5)
    rng = np.random.Generator(np.random.PCG64(5))
    payloads = [
        mp4[:15],                      # truncated inside ftyp
        mp4[:60],                      # truncated inside moov
        bytes(mp4[:30]) + bytes(rng.integers(0, 256, 64, dtype=np.uint8)),
        b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 200,  # ID3, no frames
        mp3[:100],                     # truncated mid-frame (header walk stops)
    ]
    media = spark.createDataFrame(
        [(i, "video", p, None) for i, p in enumerate(payloads)], MEDIA_SCHEMA
    )
    rows = {r["media_id"]: r for r in decode_media(media).collect()}
    # the truncated-mid-frame mp3 still yields its parsed leading frames
    # OR routes to NULL — both are clean; everything else must be NULL
    for i in (0, 1, 2, 3):
        assert rows[i]["format"] is None, i
        assert rows[i]["features"] == []


def _gif_lzw_encode(min_code_size: int, indices) -> bytes:
    """Compliant GIF-LZW encoder (test oracle): grows the dictionary,
    emits CLEAR at 4096, tracks the DECODER's width-bump rule (table
    size reaching 2^width after its per-read append)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out_codes = []
    state = {}

    def reset():
        state["table"] = {(i,): i for i in range(clear)}
        state["next"] = eoi + 1
        state["width"] = min_code_size + 1
        state["emitted"] = 0
        state["dec_size"] = clear + 2

    def emit(code):
        out_codes.append((code, state["width"]))
        state["emitted"] += 1
        if state["emitted"] >= 2:  # decoder appends from its 2nd read on
            state["dec_size"] += 1
            if state["dec_size"] == (1 << state["width"]) and state["width"] < 12:
                state["width"] += 1

    reset()
    emit(clear)
    state["emitted"] = 0  # clear itself doesn't count as a read-append
    buf = ()
    for px in indices:
        cand = buf + (int(px),)
        if cand in state["table"]:
            buf = cand
            continue
        emit(state["table"][buf])
        if state["next"] < 4096:
            state["table"][cand] = state["next"]
            state["next"] += 1
        else:
            emit(clear)
            reset()
            state["emitted"] = 1  # post-clear: next emit is the 1st read
        buf = (int(px),)
    if buf:
        emit(state["table"][buf])
    emit(eoi)
    # LSB-first bit packing into 255-byte sub-blocks
    acc = nbits = 0
    raw = bytearray()
    for code, width in out_codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            raw.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        raw.append(acc & 0xFF)
    out = bytearray()
    for i in range(0, len(raw), 255):
        blk = raw[i : i + 255]
        out.append(len(blk))
        out += blk
    out.append(0)
    return bytes(out)


def _build_gif(indices2d, palette, interlaced=False, extra_frame=False):
    """Minimal GIF89a: global color table, optional interlace, optional
    second (identical) frame for animation counting."""
    h, w = indices2d.shape
    ncol = len(palette)
    bits = max(1, (ncol - 1).bit_length())
    size_field = max(0, bits - 1)
    gct = bytearray()
    for r, g, b in palette:
        gct += bytes([r, g, b])
    gct += b"\x00" * ((2 << size_field) - ncol) * 3
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h) + bytes([0x80 | size_field, 0, 0]) + gct

    def frame():
        f = bytearray(b"\x2c") + struct.pack("<HHHH", 0, 0, w, h)
        f.append(0x40 if interlaced else 0x00)
        rows = indices2d
        if interlaced:
            order = list(range(0, h, 8)) + list(range(4, h, 8)) + \
                    list(range(2, h, 4)) + list(range(1, h, 2))
            rows = indices2d[order]
        mcs = max(2, bits)
        f.append(mcs)
        f += _gif_lzw_encode(mcs, rows.ravel())
        return f

    out += frame()
    if extra_frame:
        out += frame()
    out += b"\x3b"
    return bytes(out)


def test_gif_decode_lzw_palette_interlace(spark):
    """Real GIF decode: palette LZW (dictionary growth through multiple
    width bumps on a 64x48 16-color noise image), interlaced row order,
    animation frame counting, and the decode_media integration."""
    from osm_pbf2json_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_gif,
        decode_media,
        sniff_format,
    )

    palette4 = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0)]
    idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0], [0, 0, 1, 1], [2, 2, 3, 3]],
                   dtype=np.int64)
    gif = _build_gif(idx, palette4)
    assert sniff_format(gif) == "gif"
    w, h, rgb, nf = decode_gif(gif)
    assert (w, h, nf) == (4, 4, 1)
    want = np.array(palette4, np.uint8)[idx]
    assert (rgb == want).all()

    rng = np.random.Generator(np.random.PCG64(13))
    palette16 = [(i * 16, 255 - i * 16, (i * 37) % 256) for i in range(16)]
    big = rng.integers(0, 16, size=(48, 64), dtype=np.int64)
    for variant in (False, True):
        g2 = _build_gif(big, palette16, interlaced=variant)
        w, h, rgb2, nf = decode_gif(g2)
        assert (w, h, nf) == (64, 48, 1), variant
        assert (rgb2 == np.array(palette16, np.uint8)[big]).all(), variant

    anim = _build_gif(idx, palette4, extra_frame=True)
    w, h, rgb3, nf = decode_gif(anim)
    assert nf == 2 and (rgb3 == want).all()

    media = spark.createDataFrame(
        [(1, "image", gif, None), (2, "image", gif[:20], None)], MEDIA_SCHEMA
    )
    rows = {r["media_id"]: r for r in decode_media(media).collect()}
    assert rows[1]["format"] == "gif" and rows[1]["width"] == 4
    assert len(rows[1]["features"]) == 16
    assert rows[2]["format"] is None  # truncated -> NULL routing

    # bit-flip / truncation fuzz: decode or raise promptly, never hang
    import time

    g3 = bytearray(_build_gif(big, palette16))
    t0 = time.time()
    for _ in range(25):
        mut = bytearray(g3)
        for _k in range(int(rng.integers(1, 5))):
            mut[int(rng.integers(6, len(mut)))] = int(rng.integers(0, 256))
        try:
            decode_gif(bytes(mut))
        except Exception:
            pass
    for cut in (7, 14, 30, len(g3) // 2, len(g3) - 2):
        try:
            decode_gif(bytes(g3[:cut]))
        except Exception:
            pass
    assert time.time() - t0 < 20


def test_webp_container_metadata(spark):
    """WebP dims decoded for real from all three bitstream variants
    (hand-built VP8 lossy frame tag, VP8L lossless 14-bit fields, VP8X
    extended canvas + ANIM flag); sample decode stays stubbed, so
    decode_media reports true dims with empty features and corrupt
    streams route to NULL."""
    from osm_pbf2json_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        parse_webp,
        sniff_format,
    )

    def riff(chunks):
        body = b"WEBP"
        for fourcc, payload in chunks:
            body += fourcc + struct.pack("<I", len(payload)) + payload
            if len(payload) & 1:
                body += b"\x00"
        return b"RIFF" + struct.pack("<I", len(body)) + body

    vp8 = riff([(b"VP8 ", b"\x00\x00\x00\x9d\x01\x2a"
                 + struct.pack("<HH", 320, 240) + b"\x00" * 8)])
    assert sniff_format(vp8) == "webp"
    m = parse_webp(vp8)
    assert (m["width"], m["height"], m["variant"]) == (320, 240, "lossy")

    bits = (127 - 1) | ((63 - 1) << 14)  # w=127, h=63 (14-bit fields)
    vp8l = riff([(b"VP8L", b"\x2f" + struct.pack("<I", bits) + b"\x00" * 4)])
    m = parse_webp(vp8l)
    assert (m["width"], m["height"], m["variant"]) == (127, 63, "lossless")

    vp8x = riff([(b"VP8X", bytes([0x02]) + b"\x00" * 3
                  + (799).to_bytes(3, "little") + (599).to_bytes(3, "little"))])
    m = parse_webp(vp8x)
    assert (m["width"], m["height"], m["animated"]) == (800, 600, True)
    assert m["n_frames"] is None and m["duration_ms"] is None  # no ANMF yet

    # animation: ANMF chunks counted, 24-bit frame durations summed; the
    # frame bitstreams live INSIDE the ANMF bodies so the top-level walk
    # must not mistake them for still-image dims
    def anmf(dur_ms):
        return (b"ANMF", b"\x00" * 12 + dur_ms.to_bytes(3, "little")
                + b"\x00" + b"VP8 " + struct.pack("<I", 0))

    anim = riff([(b"VP8X", bytes([0x02]) + b"\x00" * 3
                  + (799).to_bytes(3, "little") + (599).to_bytes(3, "little")),
                 (b"ANIM", b"\x00" * 6),
                 anmf(100), anmf(200), anmf(50)])
    m = parse_webp(anim)
    assert (m["width"], m["height"], m["variant"]) == (800, 600, "extended")
    assert (m["n_frames"], m["duration_ms"]) == (3, 350)

    media = spark.createDataFrame(
        [(1, "image", vp8, None), (2, "image", vp8[:14], None),
         (3, "image", anim, None)], MEDIA_SCHEMA
    )
    rows = {r["media_id"]: r for r in decode_media(media).collect()}
    assert rows[1]["format"] == "webp"
    assert (rows[1]["width"], rows[1]["height"]) == (320, 240)
    assert rows[1]["features"] == []
    assert rows[2]["format"] is None
    # animated WebP surfaces the ANMF walk through the decode schema
    assert (rows[3]["n_frames"], rows[3]["duration_ms"]) == (3, 350)


def test_avif_container_metadata(spark):
    """AVIF dims via the meta(FullBox)/iprp/ipco/ispe walk; the ftyp
    brand routes avif away from the mp4 parser; truncation -> NULL."""
    from osm_pbf2json_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        parse_avif,
        sniff_format,
    )

    ispe = _mp4_box(b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II", 1024, 768))
    ipco = _mp4_box(b"ipco", ispe)
    iprp = _mp4_box(b"iprp", ipco)
    meta = _mp4_box(b"meta", b"\x00\x00\x00\x00" + bytes(_mp4_box(b"hdlr", b"\x00" * 8 + b"pict" + b"\x00" * 12)) + bytes(iprp))
    avif = _mp4_box(b"ftyp", b"avif\x00\x00\x00\x00avifmif1") + meta \
        + _mp4_box(b"mdat", b"\x00" * 8)
    assert sniff_format(avif) == "avif"
    m = parse_avif(avif)
    assert (m["width"], m["height"]) == (1024, 768)
    media = spark.createDataFrame(
        [(1, "image", avif, None), (2, "image", avif[:20], None)], MEDIA_SCHEMA
    )
    rows = {r["media_id"]: r for r in decode_media(media).collect()}
    assert rows[1]["format"] == "avif" and rows[1]["width"] == 1024
    assert rows[2]["format"] is None


def test_gif_crafted_code_size_and_quad_out_of_world():
    """Review regressions: (1) a crafted GIF LZW minimum-code-size byte
    (e.g. 0xFF) must raise ValueError, not attempt a 2^255-entry root
    table; (2) a bbox entirely beyond the world bounds yields an EMPTY
    quad covering in the batch kernel, matching the scalar one, instead
    of a negative-dimension crash."""
    import pytest

    from osm_pbf2json_spark.functions import tiles as T
    from osm_pbf2json_spark.operators.multimodal import decode_gif

    palette = [(0, 0, 0), (255, 255, 255)]
    idx = np.zeros((2, 2), np.int64)
    gif = bytearray(_build_gif(idx, palette))
    # image descriptor starts after header(6)+LSD(7)+GCT(6): locate 0x2C
    p = gif.index(0x2C, 13)
    mcs_pos = p + 10  # descriptor(10 bytes incl. 0x2C) → min code size
    assert gif[mcs_pos] in (2,)  # sanity: fixture layout
    gif[mcs_pos] = 0xFF
    with pytest.raises(ValueError):
        decode_gif(bytes(gif))

    scalar = T.quad_covering_bbox(190.0, 0.0, 195.0, 1.0, 10, max_cells=None)
    batch = T.quad_covering_bbox_batch(
        np.array([190.0, 0.0]), np.array([0.0, 0.0]),
        np.array([195.0, 1.0]), np.array([1.0, 1.0]), 10,
    )
    assert len(scalar) == 0 and len(batch[0]) == 0
    want = T.quad_covering_bbox(0.0, 0.0, 1.0, 1.0, 10, max_cells=None)
    assert (batch[1] == want).all()
    # empty-batch guard on the hex side
    empty = T.hex_covering_bbox_batch(
        np.zeros(0), np.zeros(0), np.zeros(0), np.zeros(0), 7
    )
    assert empty == []


def test_jpeg_corrupt_dht_and_adobe_rgb(spark):
    """Review regressions: (1) a corrupt DHT mapping a symbol to a huge
    magnitude category raises ValueError (previously OverflowError from
    a 2^200-bit receive, escaping the contract and the Spark kernel's
    catch); (2) Adobe APP14 transform=0 / RGB component ids raise
    NotImplementedError instead of silently applying the YCbCr matrix
    to RGB planes; (3) decode stays fast on larger payloads (the bit
    reader trims consumed bits — was quadratic)."""
    import time

    import pytest

    from osm_pbf2json_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from osm_pbf2json_spark.operators.multimodal import MEDIA_SCHEMA, decode_media

    rng = np.random.Generator(np.random.PCG64(41))
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    good = bytearray(encode_jpeg(img, quality=80))
    # hand-built stream whose DC table maps the (only) code to magnitude
    # category 200 — br.receive(200) previously built a 2^200-bit int
    # and OverflowError escaped the ValueError contract
    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    from osm_pbf2json_spark.operators.jpeg import _AC_LUMA_SPEC

    bad = bytearray(b"\xff\xd8")
    bad += seg(0xDB, bytes([0]) + bytes([1] * 64))
    bad += seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    bad += seg(0xC4, bytes([0x00, 1] + [0] * 15) + bytes([200]))  # DC cat 200!
    bits, vals = _AC_LUMA_SPEC
    bad += seg(0xC4, bytes([0x10]) + bytes(bits) + bytes(vals))
    bad += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    bad += b"\x00\x00" + b"\xff\xd9"
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    media = spark.createDataFrame([(1, "image", bytes(bad), None)], MEDIA_SCHEMA)
    assert decode_media(media).collect()[0]["format"] is None

    # Adobe APP14 transform=0: splice the marker right after SOI
    app14 = b"\xff\xee" + struct.pack(">H", 14) + b"Adobe" + b"\x00" * 6 + b"\x00"
    adobe = bytes(good[:2]) + app14 + bytes(good[2:])
    with pytest.raises(NotImplementedError, match="RGB"):
        decode_jpeg(adobe)
    rows = decode_media(
        spark.createDataFrame([(1, "image", adobe, None)], MEDIA_SCHEMA)
    ).collect()
    assert rows[0]["format"] is None  # stub routing

    # decode time linear-ish in payload size (bit-reader trim)
    big = rng.integers(0, 256, size=(256, 256, 3), dtype=np.uint8)
    payload = encode_jpeg(big, quality=95)  # ~100KB of entropy data
    t0 = time.time()
    w, h, _ = decode_jpeg(payload)
    assert (w, h) == (256, 256)
    assert time.time() - t0 < 20


def test_mp3_sniff_requires_two_consecutive_frames():
    """ADVICE r4: any 0xFF 0xEx byte pair parses as a lone frame header,
    so arbitrary binary used to sniff as mp3 and produce bogus metadata
    rows; the sniffer now demands a second valid header exactly one
    frame length in (ID3-tagged payloads keep their magic-byte route)."""
    from osm_pbf2json_spark.operators.multimodal import sniff_format

    # one valid header followed by garbage where frame 2 should start
    bogus = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x12" * 600
    assert sniff_format(bogus) is None
    assert sniff_format(_build_test_mp3(2)) == "mp3"
    # a single bare frame can't be confirmed; ID3 magic still can
    assert sniff_format(_build_test_mp3(1)) is None
    assert sniff_format(_build_test_mp3(1, id3=True)) == "mp3"


def _build_xing_mp3(xing_count: int, n_data_frames: int, tag: bytes = b"Xing") -> bytes:
    """First frame carries a Xing/Info VBR header (MPEG1 stereo → side
    info 32 bytes; flags bit0 + frame count), then CBR data frames."""
    hdr = bytes([0xFF, 0xFB, 0x90, 0x00])
    first = bytearray(hdr + b"\x00" * (417 - 4))
    off = 4 + 32
    first[off : off + 4] = tag
    first[off + 4 : off + 8] = (0x1).to_bytes(4, "big")
    first[off + 8 : off + 12] = xing_count.to_bytes(4, "big")
    frame = hdr + b"\x00" * (417 - 4)
    return bytes(first) + frame * n_data_frames


def test_mp3_xing_vbr_frame_count():
    """VERDICT r4 #7: a Xing (or Info) header's frame count is
    authoritative for duration — a CBR walk over a VBR file misreads
    frame lengths; the walk result is kept only when no Xing tag is
    present."""
    from osm_pbf2json_spark.operators.multimodal import parse_mp3

    m = parse_mp3(_build_xing_mp3(100, 5))
    assert m["n_frames"] == 100
    assert m["duration_ms"] == round(100 * 1152 * 1000 / 44100)
    m2 = parse_mp3(_build_xing_mp3(100, 5, tag=b"Info"))
    assert m2["n_frames"] == 100
    # zero/absent count → fall back to the frame walk (6 frames total)
    m3 = parse_mp3(_build_xing_mp3(0, 5))
    assert m3["n_frames"] == 6
    # plain CBR unchanged
    m4 = parse_mp3(_build_test_mp3(10))
    assert m4["n_frames"] == 10


def test_mp4_coded_dims_override_tkhd():
    """VERDICT r4 #7: the avc1 VisualSampleEntry's coded width/height
    (what a frame decoder produces) win over tkhd's display dims when
    they disagree (anamorphic streams); zero-filled sample entries keep
    the tkhd fallback (the base golden fixture)."""
    import struct as _s

    from osm_pbf2json_spark.operators.multimodal import parse_mp4

    base = _build_test_mp4()
    assert parse_mp4(base)["width"] == 640  # zero dims → tkhd fallback

    # rebuild with coded 704x480 in the avc1 entry vs tkhd 640x360
    # dims at entry-box offset 32: header(8) + SampleEntry(8) +
    # pre_defined/reserved(16) → width/height u16
    entry_v = bytearray(_s.pack(">I", 86) + b"avc1" + b"\x00" * 78)
    entry_v[32:36] = _s.pack(">HH", 704, 480)
    tkhd_v = _mp4_box(
        b"tkhd",
        b"\x00\x00\x00\x0f" + b"\x00" * 72 + _s.pack(">II", 640 << 16, 360 << 16),
    )
    hdlr_v = _mp4_box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    stsd_v = _mp4_box(b"stsd", b"\x00" * 4 + _s.pack(">I", 1) + bytes(entry_v))
    mdia_v = _mp4_box(b"mdia", hdlr_v + _mp4_box(b"minf", _mp4_box(b"stbl", stsd_v)))
    trak_v = _mp4_box(b"trak", tkhd_v + mdia_v)
    mvhd = _mp4_box(
        b"mvhd",
        b"\x00\x00\x00\x00" + b"\x00" * 8 + _s.pack(">II", 1000, 5500) + b"\x00" * 80,
    )
    moov = _mp4_box(b"moov", mvhd + trak_v)
    ftyp = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    m = parse_mp4(ftyp + moov)
    assert (m["width"], m["height"]) == (704, 480)


def test_decode_media_n_frames_and_error_col(spark):
    """ADVICE r4: (a) the GIF/MP3 frame counts reach the decode_media
    schema as n_frames; (b) error_col surfaces the suppressed decoder
    exception so real regressions are distinguishable from corrupt
    payloads."""
    from osm_pbf2json_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        encode_bmp,
    )
    import numpy as np

    pal = [(10, 20, 30), (200, 100, 50)]
    anim = _build_gif(np.zeros((4, 4), np.uint8), pal, extra_frame=True)
    mp3 = _build_test_mp3(9)
    bmp = encode_bmp(np.full((2, 2, 3), 7, np.uint8))
    # valid PNG magic, corrupt body → recognized format, decoder raises
    bad_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 24
    media = spark.createDataFrame(
        [(1, "image", anim, None), (2, "audio", mp3, None),
         (3, "image", bmp, None), (4, "image", bad_png, None)],
        MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in
            decode_media(media, error_col="decode_err").collect()}
    assert rows[1]["format"] == "gif" and rows[1]["n_frames"] == 2
    assert rows[2]["format"] == "mp3" and rows[2]["n_frames"] == 9
    assert rows[3]["format"] == "bmp" and rows[3]["n_frames"] is None
    assert rows[3]["decode_err"] is None
    assert rows[4]["format"] is None and rows[4]["decode_err"]
    assert "Error" in rows[4]["decode_err"] or ":" in rows[4]["decode_err"]
    # default call keeps the plain schema (no error column)
    plain = decode_media(media).columns
    assert "decode_err" not in plain and "n_frames" in plain


def _imageio_decode_rgb(spark, path):
    """Decode an image through the JVM's javax.imageio (an independent,
    libjpeg-derived codec shipped with the JDK) and hand the pixels back
    losslessly via a temporary BMP parsed by our own (separately golden-
    tested) decode_bmp."""
    import os
    import tempfile

    from osm_pbf2json_spark.operators.multimodal import decode_bmp

    jvm = spark._jvm
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(os.path.abspath(path)))
    # normalize to TYPE_INT_RGB (lossless for opaque sources) so indexed
    # GIF/PNG rasters don't come back as 8-bit palette BMPs
    rgbimg = jvm.java.awt.image.BufferedImage(img.getWidth(), img.getHeight(), 1)
    g = rgbimg.createGraphics()
    g.drawImage(img, 0, 0, None)
    g.dispose()
    tmp = tempfile.mktemp(suffix=".bmp")
    try:
        assert jvm.javax.imageio.ImageIO.write(rgbimg, "bmp", jvm.java.io.File(tmp))
        return decode_bmp(open(tmp, "rb").read())
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def test_jpeg_external_fixtures_match_imageio(spark):
    """ADVICE r4 #5: pin the JPEG decoder against an INDEPENDENT codec
    on files produced by an external encoder (public Rust embedded-book
    doc assets: f3.jpg is progressive/SOF2 with 2x1-subsampled chroma
    and successive approximation; verify.jpeg is baseline/SOF0 4:4:4).
    Every sample must match javax.imageio within IDCT+upsampling
    rounding (±4); a mean drift would betray a coefficient-decode bug
    (the luma plane alone pins the progressive entropy decode, since
    chroma upsampling never touches it)."""
    import os

    from osm_pbf2json_spark.operators.jpeg import decode_jpeg

    here = os.path.dirname(__file__)
    for name, kind in (
        ("external_progressive.jpg", "progressive"),
        ("external_baseline.jpg", "baseline"),
    ):
        path = os.path.join(here, "data", name)
        w, h, ref = _imageio_decode_rgb(spark, path)
        w2, h2, ours = decode_jpeg(open(path, "rb").read())
        assert (w2, h2) == (w, h) == (720, 477), (name, w2, h2)
        ad = np.abs(ours.astype(np.int16) - ref.astype(np.int16))
        assert ad.max() <= 4, (name, kind, int(ad.max()))
        assert ad.mean() < 1.0, (name, kind, float(ad.mean()))
        luma = lambda a: (  # noqa: E731
            0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
        )
        dy = np.abs(luma(ours.astype(np.float64)) - luma(ref.astype(np.float64)))
        assert dy.max() < 4.0 and dy.mean() < 0.5, (name, kind, float(dy.max()))


def test_jpeg_fancy_upsample_kernel():
    """_upsample: factor-2 triangular weights with replicated edges
    (IJG h2v1/h2v2 fancy upsampling); non-2 factors replicate samples,
    matching libjpeg's int_upsample. Constant planes are invariant —
    which is why the hand-built solid-gray 4:2:0 golden pins the exact
    pixel value through either kernel."""
    from osm_pbf2json_spark.operators.jpeg import _upsample

    a = np.array([[0.0, 4.0, 8.0]])
    up = _upsample(a, 2, axis=1)
    assert np.allclose(up, [[0.0, 1.0, 3.0, 5.0, 7.0, 8.0]])
    assert np.allclose(_upsample(a.T, 2, axis=0), up.T)
    # non-2 factor -> replication; constant plane invariant under fancy
    assert np.allclose(_upsample(a, 4, axis=1), np.repeat(a, 4, axis=1))
    c = np.full((2, 5), 7.0)
    assert np.allclose(_upsample(c, 2, axis=0), np.full((4, 5), 7.0))
    # single-sample axis cannot triangulate -> replication
    s = np.array([[3.0]])
    assert np.allclose(_upsample(s, 2, axis=0), [[3.0], [3.0]])


def _imageio_argb(spark, path):
    """ARGB planes from javax.imageio — (rgb uint8 (h,w,3), alpha uint8
    (h,w)). Used only on small icons: getRGB crosses py4j as one int[]."""
    import os

    jvm = spark._jvm
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(os.path.abspath(path)))
    w, h = img.getWidth(), img.getHeight()
    vals = np.array(
        list(img.getRGB(0, 0, w, h, None, 0, w)), dtype=np.int64
    ).reshape(h, w)
    rgb = np.stack(
        [(vals >> 16) & 255, (vals >> 8) & 255, vals & 255], axis=-1
    ).astype(np.uint8)
    return rgb, ((vals >> 24) & 255).astype(np.uint8)


def test_png_gif_external_fixtures_match_imageio(spark):
    """Pin the lossless-image decoders against javax.imageio on files
    from EXTERNAL encoders. PNG/GIF are lossless, so the comparison is
    byte-exact — not a tolerance band:

    - external_rgb.png (Rust-book doc asset, color type 2): every
      sample byte-identical via the BMP return path.
    - external_rgba.png (CPython idlelib icon, color type 6): RGB
      byte-identical wherever alpha == 255 (our decoder drops the
      alpha plane by documented contract).
    - external_transparent.gif (CPython test asset): palette decode
      byte-identical at opaque pixels; transparent pixels render the
      palette color by documented contract, which ImageIO has no
      equivalent for.
    - external_anim.gif (40-frame truncation of a public pyenv screen
      recording, re-terminated at a block boundary): first frame
      byte-identical AND the frame count equals ImageIO's
      getNumImages(true) — pins the LZW + sub-block animation walk
      against an independent reader."""
    import os

    from osm_pbf2json_spark.operators.multimodal import decode_gif, decode_png

    here = os.path.join(os.path.dirname(__file__), "data")
    jvm = spark._jvm

    p = os.path.join(here, "external_rgb.png")
    w, h, ours = decode_png(open(p, "rb").read())
    ref = _imageio_decode_rgb(spark, p)
    assert (w, h) == (ref[0], ref[1]) == (372, 320)
    assert (ours == ref[2]).all()

    p = os.path.join(here, "external_rgba.png")
    w, h, ours = decode_png(open(p, "rb").read())
    rgb, alpha = _imageio_argb(spark, p)
    assert (w, h) == (48, 48) and rgb.shape == ours.shape
    m = alpha == 255
    assert m.any() and (ours[m] == rgb[m]).all()

    p = os.path.join(here, "external_transparent.gif")
    w, h, ours, nf = decode_gif(open(p, "rb").read())
    rgb, alpha = _imageio_argb(spark, p)
    assert nf == 1 and rgb.shape == ours.shape
    m = alpha == 255
    assert m.any() and (ours[m] == rgb[m]).all()

    p = os.path.join(here, "external_anim.gif")
    w, h, ours, nf = decode_gif(open(p, "rb").read())
    ref = _imageio_decode_rgb(spark, p)
    assert (w, h) == (ref[0], ref[1]) and (ours == ref[2]).all()
    iis = jvm.javax.imageio.ImageIO.createImageInputStream(
        jvm.java.io.File(os.path.abspath(p))
    )
    rd = jvm.javax.imageio.ImageIO.getImageReaders(iis).next()
    rd.setInput(iis)
    n_ref = rd.getNumImages(True)
    iis.close()
    assert nf == n_ref == 40


def test_wav_matches_javax_sound(spark):
    """Pin WAV encode/decode against javax.sound.sampled (independent
    JVM codec): header fields (PCM_SIGNED 16-bit mono little-endian,
    rate, frame count) and the PCM payload itself must agree sample-
    for-sample with what AudioSystem reads back from our encoder's
    output."""
    import os
    import tempfile

    from osm_pbf2json_spark.operators.multimodal import decode_wav, encode_wav

    rate = 11025
    t = np.arange(rate // 2) / rate
    payload = encode_wav(0.25 * np.sin(2 * np.pi * 220 * t), rate)
    r_rate, dur_ms, samples = decode_wav(payload)
    assert r_rate == rate and dur_ms == 500

    jvm = spark._jvm
    tmp = tempfile.mktemp(suffix=".wav")
    try:
        with open(tmp, "wb") as f:
            f.write(payload)
        jf = jvm.java.io.File(os.path.abspath(tmp))
        aff = jvm.javax.sound.sampled.AudioSystem.getAudioFileFormat(jf)
        af = aff.getFormat()
        assert af.getEncoding().toString() == "PCM_SIGNED"
        assert int(af.getSampleRate()) == rate
        assert af.getSampleSizeInBits() == 16 and af.getChannels() == 1
        assert not af.isBigEndian()
        assert aff.getFrameLength() == len(samples) == rate // 2
        ais = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(jf)
        raw = bytes(ais.readAllBytes())
        ais.close()
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    ref = np.frombuffer(raw, "<i2").astype(np.float32) / 32768.0
    assert len(ref) == len(samples)
    assert np.array_equal(ref, samples.astype(np.float32))


def _build_tiff(en, pages):
    """Minimal classic-TIFF builder for decoder tests: `pages` is a list
    of dicts {tags: {tag: (type, [values])}, strip: bytes}. Strip data
    is placed first, IFDs chained after, out-of-line values appended
    per IFD."""
    import struct as st

    bo = "<" if en == "II" else ">"
    head = (b"II*\x00" if en == "II" else b"MM\x00*")
    blobs, strip_offs = b"", []
    for p in pages:
        strip_offs.append(8 + len(blobs))
        blobs += p["strip"]
    out = bytearray(head + b"\x00" * 4 + blobs)
    st.pack_into(bo + "I", out, 4, len(out) if pages else 0)
    sz = {1: 1, 3: 2, 4: 4}
    fmt = {1: "B", 3: "H", 4: "I"}
    for i, p in enumerate(pages):
        tags = dict(p["tags"])
        tags[273] = (4, [strip_offs[i]])
        tags[279] = (4, [len(p["strip"])])
        items = sorted(tags.items())
        ifd_off = len(out)
        out += st.pack(bo + "H", len(items))
        extra = b""
        extra_base = ifd_off + 2 + 12 * len(items) + 4
        for tag, (typ, vals) in items:
            enc = b"".join(st.pack(bo + fmt[typ], v) for v in vals)
            out += st.pack(bo + "HHI", tag, typ, len(vals))
            if len(enc) <= 4:
                out += enc.ljust(4, b"\x00")
            else:
                out += st.pack(bo + "I", extra_base + len(extra))
                extra += enc
        out += b"\x00" * 4  # next-IFD pointer, patched below
        out += extra
        if i == 0:
            st.pack_into(bo + "I", out, 4, ifd_off)
        else:
            st.pack_into(bo + "I", out, prev_next_at, ifd_off)
        prev_next_at = ifd_off + 2 + 12 * len(items)
    return bytes(out)


def _imageio_write_tiff(spark, img, ctype):
    """Encode a BufferedImage as TIFF via the JDK's ImageIO writer with
    an explicit compression type — an external encoder for our
    decoder's LZW/Deflate/PackBits strip paths."""
    import os
    import tempfile

    jvm = spark._jvm
    wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    tmp = tempfile.mktemp(suffix=".tif")
    try:
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(
            jvm.java.io.File(tmp)
        )
        wr.setOutput(ios)
        pr = wr.getDefaultWriteParam()
        pr.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        pr.setCompressionType(ctype)
        wr.write(None, jvm.javax.imageio.IIOImage(img, None, None), pr)
        ios.close()
        wr.dispose()
        return open(tmp, "rb").read()
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def test_tiff_decode_matches_imageio(spark):
    """decode_tiff pinned against javax.imageio in BOTH directions:
    the external CPython test fixture (RGBA uncompressed LE) must match
    ImageIO's ARGB read at opaque pixels, and TIFFs ENCODED by the JDK
    writer with every supported compression (LZW with early change,
    ZLib/Deflate, PackBits) across RGB / palette / grayscale rasters
    must decode byte-exact (gray compared against the raw raster —
    getRGB applies a linear-gray→sRGB transfer that the file's samples
    never contained)."""
    import os

    from osm_pbf2json_spark.operators.multimodal import decode_tiff, sniff_format

    here = os.path.join(os.path.dirname(__file__), "data")
    jvm = spark._jvm

    p = os.path.join(here, "external_rgba.tiff")
    payload = open(p, "rb").read()
    assert sniff_format(payload) == "tiff"
    w, h, ours, n_pages = decode_tiff(payload)
    rgb, alpha = _imageio_argb(spark, p)
    assert (w, h) == (16, 16) and n_pages == 1 and rgb.shape == ours.shape
    m = alpha == 255
    assert m.any() and (ours[m] == rgb[m]).all()

    def jvm_image(typ):
        img = jvm.java.awt.image.BufferedImage(40, 25, typ)
        g = img.createGraphics()
        g.setColor(jvm.java.awt.Color(200, 30, 90))
        g.fillRect(0, 0, 40, 25)
        g.setColor(jvm.java.awt.Color(10, 240, 60))
        g.fillRect(5, 4, 20, 12)
        g.setColor(jvm.java.awt.Color(0, 0, 255))
        g.drawLine(0, 0, 39, 24)
        g.setColor(jvm.java.awt.Color(255, 255, 0))
        g.fillOval(20, 10, 15, 10)
        g.dispose()
        vals = np.array(
            list(img.getRGB(0, 0, 40, 25, None, 0, 40)), np.int64
        ).reshape(25, 40)
        ref = np.stack(
            [(vals >> 16) & 255, (vals >> 8) & 255, vals & 255], axis=-1
        ).astype(np.uint8)
        return img, ref

    TYPE_INT_RGB, TYPE_BYTE_GRAY, TYPE_BYTE_INDEXED = 1, 10, 13
    for typ, ctype in [
        (TYPE_INT_RGB, "LZW"), (TYPE_INT_RGB, "ZLib"),
        (TYPE_INT_RGB, "Deflate"), (TYPE_INT_RGB, "PackBits"),
        (TYPE_BYTE_INDEXED, "LZW"),
    ]:
        img, ref = jvm_image(typ)
        w, h, ours, n_pages = decode_tiff(_imageio_write_tiff(spark, img, ctype))
        assert (w, h, n_pages) == (40, 25, 1), (typ, ctype)
        assert (ours == ref).all(), (typ, ctype)

    img, _ = jvm_image(TYPE_BYTE_GRAY)
    arr = spark.sparkContext._gateway.new_array(jvm.int, 40 * 25)
    img.getRaster().getSamples(0, 0, 40, 25, 0, arr)
    gray = np.array(list(arr), np.int64).reshape(25, 40).astype(np.uint8)
    w, h, ours, _ = decode_tiff(_imageio_write_tiff(spark, img, "PackBits"))
    assert (ours[:, :, 0] == gray).all() and (ours[:, :, 0] == ours[:, :, 2]).all()


def test_tiff_predictor_endian_multipage_and_corrupt(spark):
    """Hand-built streams for what no in-env encoder emits: horizontal-
    differencing predictor (317=2) under deflate, big-endian (MM) byte
    order, WhiteIsZero inversion, a 3-page IFD chain (first page
    decoded, pages counted), and the corrupt/unsupported contract
    (bad magic, truncated strip, 16-bit, tiled → ValueError/
    NotImplementedError; decode_media routes all of them to
    format-NULL)."""
    import zlib

    from osm_pbf2json_spark.operators.multimodal import decode_media, decode_tiff

    rng = np.random.Generator(np.random.PCG64(7))
    gray = rng.integers(0, 256, size=(9, 14), dtype=np.uint8)
    diffed = np.concatenate(
        [gray[:, :1], (gray[:, 1:].astype(np.int16) - gray[:, :-1]) % 256],
        axis=1,
    ).astype(np.uint8)
    base = {256: (3, [14]), 257: (3, [9]), 258: (3, [8]), 277: (3, [1]),
            262: (3, [1]), 278: (3, [9])}
    pred = _build_tiff("II", [{
        "tags": {**base, 259: (3, [8]), 317: (3, [2])},
        "strip": zlib.compress(diffed.tobytes()),
    }])
    w, h, rgb, n_pages = decode_tiff(pred)
    assert (w, h, n_pages) == (14, 9, 1)
    assert (rgb[:, :, 0] == gray).all()

    be = _build_tiff("MM", [{"tags": dict(base), "strip": gray.tobytes()}])
    w, h, rgb, _ = decode_tiff(be)
    assert (w, h) == (14, 9) and (rgb[:, :, 0] == gray).all()

    w0 = _build_tiff("II", [{
        "tags": {**base, 262: (3, [0])}, "strip": gray.tobytes()
    }])
    assert (decode_tiff(w0)[2][:, :, 0] == 255 - gray).all()  # WhiteIsZero

    pages = [{"tags": dict(base), "strip": gray.tobytes()},
             {"tags": dict(base), "strip": (255 - gray).tobytes()},
             {"tags": dict(base), "strip": gray[::-1].tobytes()}]
    mp = _build_tiff("II", pages)
    w, h, rgb, n_pages = decode_tiff(mp)
    assert n_pages == 3 and (rgb[:, :, 0] == gray).all()  # first page wins

    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_tiff(b"XX*\x00" + b"\x00" * 16)
    with _pytest.raises(ValueError):
        decode_tiff(_build_tiff("II", [{
            "tags": dict(base), "strip": gray.tobytes()[:-8]}]))
    with _pytest.raises(NotImplementedError):
        decode_tiff(_build_tiff("II", [{
            "tags": {**base, 258: (3, [16])}, "strip": gray.tobytes()}]))
    with _pytest.raises(NotImplementedError):
        decode_tiff(_build_tiff("II", [{
            "tags": {**base, 322: (3, [16]), 323: (3, [16])},
            "strip": gray.tobytes()}]))

    media = spark.createDataFrame(
        [(1, mp), (2, pred), (3, _build_tiff("II", [{
            "tags": {**base, 259: (3, [6])}, "strip": gray.tobytes()}]))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_media(media).collect()}
    assert rows[1]["format"] == "tiff" and rows[1]["n_frames"] == 3
    assert (rows[1]["width"], rows[1]["height"]) == (14, 9)
    assert len(rows[1]["features"]) == 16
    assert rows[2]["format"] == "tiff"
    assert rows[3]["format"] is None  # old-style JPEG-in-TIFF: unsupported


def _vp8l_riff(chunk):
    body = b"WEBPVP8L" + struct.pack("<I", len(chunk)) + chunk
    if len(chunk) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_vp8l_roundtrip_and_distance_map():
    """encode_vp8l (minimal conformant subset) → decode_vp8l must be
    identity for arbitrary RGB content at awkward sizes. The 120-entry
    near-distance map's head is pinned against the spec's published
    table (hex-packed convention: (dx, dy) with scan distance
    dy·xsize+dx) and its invariants checked."""
    from osm_pbf2json_spark.operators.vp8l import (
        _DIST_MAP,
        decode_vp8l,
        encode_vp8l,
    )

    rng = np.random.Generator(np.random.PCG64(11))
    for w, h in [(1, 1), (17, 3), (3, 29), (40, 25)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        ww, hh, back, alpha = decode_vp8l(encode_vp8l(img))
        assert (ww, hh) == (w, h) and not alpha
        assert (back == img).all(), (w, h)

    # spec table head (kCodeToPlaneCodes 0x18,0x07,0x17,0x19,0x28,0x06,
    # 0x27,0x29,0x16,0x1a,...: yoffset = code>>4, xoffset = 8-(code&0xf))
    expect_head = [(0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
                   (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2),
                   (0, 3), (3, 0), (1, 3), (-1, 3), (3, 1), (-3, 1),
                   (2, 3), (-2, 3), (3, 2), (-3, 2)]
    assert _DIST_MAP[:22] == expect_head
    assert len(_DIST_MAP) == len(set(_DIST_MAP)) == 120
    assert all(-7 <= dx <= 8 and 0 <= dy <= 7 for dx, dy in _DIST_MAP)
    assert not any(dy == 0 and dx <= 0 for dx, dy in _DIST_MAP)


def test_vp8l_backref_and_color_cache():
    """Hand-built spec-literal streams: (a) an LZ77 backref (green
    length code 259 → length 4; plain distance 4 via prefix value 124 =
    code 13 + 5 extra bits) over a custom 3-symbol green code emitted
    through the full code-length-code machinery, and (b) a color cache
    hit (hash 0x1e35a7bd, 4-bit cache) addressed by a cache symbol."""
    from osm_pbf2json_spark.operators.vp8l import (
        _BitWriter,
        _emit_msb,
        _write_single_symbol_code,
        decode_vp8l,
    )

    # --- (a) backref ------------------------------------------------
    bw = _BitWriter()
    bw.write(8 - 1, 14)   # width 8
    bw.write(1 - 1, 14)   # height 1
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)        # no transforms
    bw.write(0, 1)        # no cache
    bw.write(0, 1)        # no meta
    # green code: lengths {10:1, 20:2, 259:2} via CLC {1,2,17,18} all
    # len 2 (canonical: 1→00, 2→01, 17→10, 18→11)
    bw.write(0, 1)        # not simple
    bw.write(5 - 4, 4)    # 5 CLC entries in order 17,18,0,1,2
    for v in (2, 2, 0, 2, 2):
        bw.write(v, 3)
    bw.write(0, 1)        # no max_symbol: read all 280
    def clc(sym):
        _emit_msb(bw, {1: 0b00, 2: 0b01, 17: 0b10, 18: 0b11}[sym], 2)
    clc(17); bw.write(10 - 3, 3)      # 10 zeros (sym 0..9)
    clc(1)                            # sym 10 → len 1
    clc(17); bw.write(9 - 3, 3)       # 9 zeros (11..19)
    clc(2)                            # sym 20 → len 2
    clc(18); bw.write(138 - 11, 7)    # 138 zeros (21..158)
    clc(18); bw.write(100 - 11, 7)    # 100 zeros (159..258)
    clc(2)                            # sym 259 → len 2
    clc(18); bw.write(20 - 11, 7)     # 20 zeros (260..279)
    for sym in (60, 70, 255):         # red, blue, alpha: 0-bit codes
        _write_single_symbol_code(bw, sym)
    _write_single_symbol_code(bw, 13)  # distance code 13, 0 bits
    # canonical green codes: 10→'0', 20→'10', 259→'11'
    _emit_msb(bw, 0b0, 1)    # g=10
    _emit_msb(bw, 0b10, 2)   # g=20
    _emit_msb(bw, 0b0, 1)
    _emit_msb(bw, 0b10, 2)
    _emit_msb(bw, 0b11, 2)   # length code 259 → length 4
    bw.write(124 - 96 - 1, 5)  # distance prefix value 124 → plain 4
    w, h, rgb, _ = decode_vp8l(b"\x2f" + bw.done())
    assert (w, h) == (8, 1)
    assert (rgb[0, :, 1] == [10, 20, 10, 20, 10, 20, 10, 20]).all()
    assert (rgb[0, :, 0] == 60).all() and (rgb[0, :, 2] == 70).all()

    # --- (b) color cache --------------------------------------------
    px = (255 << 24) | (60 << 16) | (10 << 8) | 70  # first literal ARGB
    idx = ((0x1E35A7BD * px) & 0xFFFFFFFF) >> 28    # 4-bit cache index
    cache_sym = 280 + idx
    bw = _BitWriter()
    bw.write(3 - 1, 14)
    bw.write(1 - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)   # no transforms
    bw.write(1, 1)   # color cache
    bw.write(4, 4)   # cache_bits = 4 → alphabet 256+24+16 = 296
    bw.write(0, 1)   # no meta
    # green lengths {10:1, 20:2, cache_sym:2} — same CLC shape
    bw.write(0, 1)
    bw.write(5 - 4, 4)
    for v in (2, 2, 0, 2, 2):
        bw.write(v, 3)
    # max_symbol caps CLC *reads* (libwebp ReadHuffmanCodeLengths:
    # `if (max_symbol-- == 0) break`): 7 reads below, then the
    # remaining lengths (after cache_sym) stay 0 — a 1-zero tail can't
    # be emitted via code 17 (min run 3)
    n_reads = 0
    bw.write(1, 1)   # use max_symbol
    bw.write(1, 3)   # length_nbits = 2 + 2*1 = 4 (7-2 needs 3 bits)
    bw.write(7 - 2, 4)  # max_symbol = 7
    clc(17); bw.write(10 - 3, 3)      # read 1: sym 0..9 zeros
    clc(1)                            # read 2: sym 10 → len 1
    clc(17); bw.write(9 - 3, 3)       # read 3: sym 11..19 zeros
    clc(2)                            # read 4: sym 20 → len 2
    rest = cache_sym - 21  # zeros from 21 to cache_sym-1
    while rest > 0:
        take = min(138, rest)
        if take < 11:
            clc(17); bw.write(take - 3, 3)
        else:
            clc(18); bw.write(take - 11, 7)
        rest -= take
        n_reads += 1
    assert n_reads == 2  # reads 5-6 (138 + 135)
    clc(2)  # read 7: cache_sym → len 2
    for sym in (60, 70, 255):
        _write_single_symbol_code(bw, sym)
    _write_single_symbol_code(bw, 0)  # distance: unused
    _emit_msb(bw, 0b0, 1)    # literal g=10 → cached
    _emit_msb(bw, 0b10, 2)   # literal g=20
    _emit_msb(bw, 0b11, 2)   # cache hit → first pixel again
    w, h, rgb, _ = decode_vp8l(b"\x2f" + bw.done())
    assert (rgb[0, :, 1] == [10, 20, 10]).all()


def test_vp8l_mapped_distance_backref():
    """A backref through the NEAR-DISTANCE map (code ≤ 120): distance
    code 3 decodes as (dx +1, dy 1) → scan distance xsize+1 per the
    spec's kCodeToPlaneCodes convention (yoffset = code>>4,
    xoffset = 8-(code&0xf)). The mirrored table (dx −1 → xsize−1)
    copies different source pixels on this asymmetric row, so the
    assertion pins the orientation end-to-end, not just the table
    head."""
    from osm_pbf2json_spark.operators.vp8l import (
        _BitWriter,
        _emit_msb,
        _write_single_symbol_code,
        decode_vp8l,
    )

    bw = _BitWriter()
    bw.write(5 - 1, 14)   # width 5
    bw.write(2 - 1, 14)   # height 2
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)        # no transforms
    bw.write(0, 1)        # no cache
    bw.write(0, 1)        # no meta
    # green code: lengths {10:1, 20:2, 259:2} (same CLC machinery as
    # test_vp8l_backref_and_color_cache)
    bw.write(0, 1)
    bw.write(5 - 4, 4)
    for v in (2, 2, 0, 2, 2):
        bw.write(v, 3)
    bw.write(0, 1)

    def clc(sym):
        _emit_msb(bw, {1: 0b00, 2: 0b01, 17: 0b10, 18: 0b11}[sym], 2)

    clc(17); bw.write(10 - 3, 3)      # 10 zeros (sym 0..9)
    clc(1)                            # sym 10 → len 1
    clc(17); bw.write(9 - 3, 3)       # 9 zeros (11..19)
    clc(2)                            # sym 20 → len 2
    clc(18); bw.write(138 - 11, 7)    # 138 zeros (21..158)
    clc(18); bw.write(100 - 11, 7)    # 100 zeros (159..258)
    clc(2)                            # sym 259 → len 2
    clc(18); bw.write(20 - 11, 7)     # 20 zeros (260..279)
    for sym in (60, 70, 255):
        _write_single_symbol_code(bw, sym)
    # distance prefix SYMBOL 2 → lz77 value 3 → map code 3 → dist xsize+1
    _write_single_symbol_code(bw, 2)
    # greens: row0 = 10,20,20,20,10; row1 = 10, then backref len 4
    _emit_msb(bw, 0b0, 1)    # 10
    _emit_msb(bw, 0b10, 2)   # 20
    _emit_msb(bw, 0b10, 2)   # 20
    _emit_msb(bw, 0b10, 2)   # 20
    _emit_msb(bw, 0b0, 1)    # 10
    _emit_msb(bw, 0b0, 1)    # 10
    _emit_msb(bw, 0b11, 2)   # length code 259 → length 4, dist code 3
    w, h, rgb, _ = decode_vp8l(b"\x2f" + bw.done())
    assert (w, h) == (5, 2)
    # dist = 5+1 = 6: positions 6..9 copy positions 0..3
    assert (rgb[0, :, 1] == [10, 20, 20, 20, 10]).all()
    assert (rgb[1, :, 1] == [10, 10, 20, 20, 20]).all()


def test_vp8l_transforms():
    """Hand-built transform streams: subtract-green, whole-image
    predictor mode 2 (top), and 4-color palette with 2-bit pixel
    bundling — each decoded against the independently-computed
    expected image."""
    from osm_pbf2json_spark.operators.vp8l import (
        _BitWriter,
        _emit_msb,
        _write_single_symbol_code,
        _write_uniform8_code,
        decode_vp8l,
    )

    # --- subtract-green ---------------------------------------------
    rng = np.random.Generator(np.random.PCG64(5))
    target = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    g = target[:, :, 1].astype(np.int16)
    coded = target.astype(np.int16).copy()
    coded[:, :, 0] = (coded[:, :, 0] - g) % 256  # r - g
    coded[:, :, 2] = (coded[:, :, 2] - g) % 256  # b - g
    bw = _BitWriter()
    bw.write(5 - 1, 14)
    bw.write(3 - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1); bw.write(2, 2)  # transform: subtract green
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1); bw.write(0, 1)  # no cache, no meta
    _write_uniform8_code(bw, 280)
    _write_uniform8_code(bw, 256)
    _write_uniform8_code(bw, 256)
    _write_single_symbol_code(bw, 255)
    _write_single_symbol_code(bw, 0)
    for r, gg, b in coded.reshape(-1, 3):
        _emit_msb(bw, int(gg), 8)
        _emit_msb(bw, int(r), 8)
        _emit_msb(bw, int(b), 8)
    w, h, rgb, _ = decode_vp8l(b"\x2f" + bw.done())
    assert (rgb == target).all()

    # --- predictor mode 2 (top) -------------------------------------
    target = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    res = target.astype(np.int16).copy()
    # residual rules: (0,0) black pred (alpha+0xff only), row 0 left,
    # col 0 top, else mode-2 top
    res[0, 1:] = (target[0, 1:].astype(np.int16)
                  - target[0, :-1].astype(np.int16)) % 256
    res[1:, :] = (target[1:, :].astype(np.int16)
                  - target[:-1, :].astype(np.int16)) % 256
    # careful: col-0 rule (top) coincides with mode 2 here
    bw = _BitWriter()
    bw.write(4 - 1, 14)
    bw.write(4 - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1); bw.write(0, 2)  # predictor transform
    bw.write(0, 3)                  # size_bits = 2 → 4x4 block → 1x1 modes
    # mode subimage: every spatially-coded image (incl. transform
    # subimages) starts with its own color-cache flag
    bw.write(0, 1)                      # no cache
    # all five codes single-symbol (mode pixel g=2)
    _write_single_symbol_code(bw, 2)    # green = mode 2
    _write_single_symbol_code(bw, 0)    # red
    _write_single_symbol_code(bw, 0)    # blue
    _write_single_symbol_code(bw, 255)  # alpha
    _write_single_symbol_code(bw, 0)    # distance
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1); bw.write(0, 1)
    _write_uniform8_code(bw, 280)
    _write_uniform8_code(bw, 256)
    _write_uniform8_code(bw, 256)
    _write_single_symbol_code(bw, 0)   # alpha residual always 0
    _write_single_symbol_code(bw, 0)
    for r, gg, b in res.reshape(-1, 3):
        _emit_msb(bw, int(gg) & 0xFF, 8)
        _emit_msb(bw, int(r) & 0xFF, 8)
        _emit_msb(bw, int(b) & 0xFF, 8)
    w, h, rgb, _ = decode_vp8l(b"\x2f" + bw.done())
    assert (rgb == target).all()

    # --- 4-color palette, 2-bit bundling ----------------------------
    palette = np.array(
        [[200, 0, 0], [0, 180, 0], [0, 0, 160], [255, 255, 255]], np.uint8
    )
    idx = np.array([[0, 1, 2, 3, 0, 1], [3, 3, 2, 1, 0, 0]], np.uint8)
    target = palette[idx]
    deltas = np.diff(
        np.concatenate([np.zeros((1, 3), np.int16),
                        palette.astype(np.int16)]), axis=0
    ) % 256
    alpha_deltas = [255, 0, 0, 0]
    packed = np.zeros((2, 2), np.uint8)  # ceil(6/4)=2 packed columns
    for y in range(2):
        for x in range(6):
            packed[y, x // 4] |= idx[y, x] << (2 * (x % 4))
    bw = _BitWriter()
    bw.write(6 - 1, 14)
    bw.write(2 - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1); bw.write(3, 2)  # color indexing
    bw.write(4 - 1, 8)              # n_colors = 4
    # palette subimage (4x1 of component deltas) — cache flag first
    bw.write(0, 1)                  # no cache
    _write_uniform8_code(bw, 280)
    _write_uniform8_code(bw, 256)
    _write_uniform8_code(bw, 256)
    bw.write(1, 1); bw.write(1, 1)  # alpha: simple, 2 symbols
    bw.write(1, 1); bw.write(255, 8)  # first symbol 255 (code 1)
    bw.write(0, 8)                    # second symbol 0
    _write_single_symbol_code(bw, 0)  # distance
    for i in range(4):
        d = deltas[i]
        _emit_msb(bw, int(d[1]), 8)  # green delta
        _emit_msb(bw, int(d[0]), 8)  # red
        _emit_msb(bw, int(d[2]), 8)  # blue
        # alpha: canonical over {0,255}: 0→'0', 255→'1'
        _emit_msb(bw, 1 if alpha_deltas[i] == 255 else 0, 1)
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1); bw.write(0, 1)
    _write_uniform8_code(bw, 280)
    _write_single_symbol_code(bw, 0)
    _write_single_symbol_code(bw, 0)
    _write_single_symbol_code(bw, 255)
    _write_single_symbol_code(bw, 0)
    for y in range(2):
        for x in range(2):
            _emit_msb(bw, int(packed[y, x]), 8)
    w, h, rgb, _ = decode_vp8l(b"\x2f" + bw.done())
    assert (w, h) == (6, 2)
    assert (rgb == target).all()


def test_vp8l_fuzz_valueerror_contract():
    """decode_vp8l on arbitrary/corrupted bytes must either decode or
    raise ValueError (never IndexError/struct.error/hang) — that is
    the contract decode_media's corrupt-payload routing relies on.
    Covers random blobs and single-byte mutations of a valid stream
    (the latter keep the header plausible, reaching deep decode
    paths: simple-code symbols past the alphabet, incomplete trees,
    backrefs out of range, truncation)."""
    from osm_pbf2json_spark.operators.vp8l import decode_vp8l, encode_vp8l

    rng = np.random.Generator(np.random.PCG64(21))
    img = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    valid = bytearray(encode_vp8l(img))

    n_ok = n_err = 0
    for _ in range(150):
        blob = b"\x2f" + rng.integers(0, 256, size=40, dtype=np.uint8).tobytes()
        try:
            decode_vp8l(blob, max_pixels=1 << 16)
            n_ok += 1
        except ValueError:
            n_err += 1
    assert n_err > 0  # random blobs overwhelmingly malformed

    for _ in range(200):
        mut = bytearray(valid)
        i = int(rng.integers(1, len(mut)))
        mut[i] ^= 1 << int(rng.integers(0, 8))
        try:
            decode_vp8l(bytes(mut), max_pixels=1 << 16)
        except ValueError:
            pass
    for cut in (2, 5, 9, len(valid) // 2, len(valid) - 1):
        try:
            decode_vp8l(bytes(valid[:cut]), max_pixels=1 << 16)
        except ValueError:
            pass


def test_vp8l_decode_media_and_corrupt(spark):
    """RIFF-wrapped VP8L payloads decode for REAL through decode_media
    (dims + content features, no longer the empty-feature metadata
    tier); malformed VP8L streams route to format-NULL."""
    from osm_pbf2json_spark.operators.multimodal import decode_media, decode_one
    from osm_pbf2json_spark.operators.vp8l import encode_vp8l

    rng = np.random.Generator(np.random.PCG64(9))
    img = rng.integers(0, 256, size=(7, 9, 3), dtype=np.uint8)
    good = _vp8l_riff(encode_vp8l(img))
    d = decode_one(good)
    assert d[0] == "webp" and (d[1], d[2]) == (9, 7) and len(d[6]) == 16

    # VP8X-wrapped still: the container walk reaches the top-level VP8L
    # chunk and the real decode fires for extended-format files too
    chunk = encode_vp8l(img)
    vp8x = (b"VP8X" + struct.pack("<I", 10) + b"\x00\x00\x00\x00"
            + (9 - 1).to_bytes(3, "little") + (7 - 1).to_bytes(3, "little"))
    vp8l_ck = b"VP8L" + struct.pack("<I", len(chunk)) + chunk
    if len(chunk) & 1:
        vp8l_ck += b"\x00"
    body = b"WEBP" + vp8x + vp8l_ck
    extended = b"RIFF" + struct.pack("<I", len(body)) + body

    bad_version = _vp8l_riff(b"\x2f" + b"\xff" * 8)
    truncated = _vp8l_riff(encode_vp8l(img)[:10])
    media = spark.createDataFrame(
        [(1, good), (2, bad_version), (3, truncated), (4, extended)],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_media(media).collect()}
    assert rows[1]["format"] == "webp"
    assert (rows[1]["width"], rows[1]["height"]) == (9, 7)
    assert len(rows[1]["features"]) == 16 and any(rows[1]["features"])
    assert rows[2]["format"] is None and rows[3]["format"] is None
    assert (rows[4]["width"], rows[4]["height"]) == (9, 7)
    assert list(rows[4]["features"]) == list(rows[1]["features"])

    # scale valve: a still whose header claims dims past the featurize
    # cap keeps the metadata tier (true dims, empty features) without
    # entering the O(pixels) Python sample decode — the stream body
    # here is garbage, so reaching the decoder would raise, not route
    from osm_pbf2json_spark.operators.vp8l import _BitWriter
    bw = _BitWriter()
    bw.write(3000 - 1, 14)
    bw.write(2000 - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    huge = _vp8l_riff(b"\x2f" + bw.done() + b"\x00" * 8)
    d = decode_one(huge)
    assert d[0] == "webp" and (d[1], d[2]) == (3000, 2000)
    assert len(d[6]) == 0
