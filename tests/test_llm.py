"""Unit tests for LLM-pipeline operators (dedup/similarity/text/multimodal)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from memgraph_spark.llm import (
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    cosine_topk,
)
from memgraph_spark.llm.multimodal import extract_features, frame_sample_plan
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def doc_df(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base * 4),
        (2, base * 4),                      # exact dup of 1
        (3, (base * 4).replace("dog", "cat")),  # near dup of 1
        (4, "completely different content about spark dataframes and shuffles " * 4),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(spark, doc_df):
    groups = exact_dup_groups(doc_df).collect()
    assert len(groups) == 1
    assert groups[0]["keeper_id"] == 1 and groups[0]["n_copies"] == 2


def test_minhash_finds_near_dups(spark, doc_df):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(doc_df, threshold=0.6).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.6
    assert not any(4 in p or 5 in p for p in pairs)


def test_simhash_near_pairs(spark, doc_df):
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_pairs(doc_df).collect()}
    assert (1, 2) in pairs  # identical text -> hamming 0


def test_ngram_jaccard(spark, doc_df):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(doc_df, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0


def test_ngram_jaccard_prefix_filter_equivalence(spark):
    """The prefix-filtered candidate generation must be EXACT: compare
    against a brute-force Python ground truth on an adversarial corpus
    (tiny token alphabet -> heavy prefix collisions; near-threshold
    overlaps; shared tokens that sort LAST lexicographically, which is
    where a too-short prefix would drop a pair)."""
    import itertools
    import random

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "zz"]
    rows = []
    for i in range(40):
        k = rng.randint(2, 12)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(k))))
    # pairs whose only shared trigrams sort last ("zz zz zz" suffix runs)
    rows.append((100, "aa bb cc zz zz zz zz zz"))
    rows.append((101, "dd ee ff zz zz zz zz zz"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def ngrams(text, n=3):
        toks = [t for t in text.split() if t]
        if len(toks) < n:
            return set()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    for threshold in (0.3, 0.5, 0.75):
        expected = {}
        for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
            a, b = ngrams(ta), ngrams(tb)
            if not a or not b:
                continue
            j = len(a & b) / len(a | b)
            if j >= threshold:
                lo, hi = min(ia, ib), max(ia, ib)
                expected[(lo, hi)] = round(j, 4)
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in ngram_jaccard_pairs(df, threshold=threshold).collect()}
        assert got == expected, (
            f"t={threshold}: missing={set(expected) - set(got)} "
            f"extra={set(got) - set(expected)}")
    # threshold > 1 is unsatisfiable: empty result, not a slice() error
    assert ngram_jaccard_pairs(df, threshold=1.5).count() == 0


def test_cosine_topk(spark):
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = cosine_topk(df, [1.0, 0.0], k=2, exclude_id=0).collect()
    assert [r["vec_id"] for r in top] == [1, 2]


def test_multimodal_extract_features(spark):
    rows = [(1, bytearray(b"\x01\x02\x03\x04")), (2, bytearray(b"")), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, data binary")
    out = {r["media_id"]: r for r in extract_features(df, dim=4).collect()}
    assert out[1]["n_bytes"] == 4 and len(out[1]["features"]) == 4
    assert out[3]["n_bytes"] == 0
    # determinism: same blob -> same features
    out2 = {r["media_id"]: r for r in extract_features(df, dim=4).collect()}
    assert out[1]["features"] == out2[1]["features"]


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, ("video", "mp4", 0, 0, 3500))],
        "media_id long, meta struct<media_type:string,format:string,width:int,height:int,duration_ms:long>",
    )
    frames = frame_sample_plan(df, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]


def test_media_table_resize_audio(spark):
    from memgraph_spark.llm.multimodal import (
        audio_window_features, media_table, resize_images)
    media = media_table(spark, SF_SMOKE).limit(8)
    rows = media.collect()
    assert rows and all(r["data"] is not None and
                        r["meta"]["media_type"] == "image" for r in rows)

    resized = {r["media_id"]: r for r in resize_images(media, 32, 16).collect()}
    assert set(resized) == {r["media_id"] for r in rows}
    for r in resized.values():
        assert r["meta"]["width"] == 32 and r["meta"]["height"] == 16
        assert len(r["data"]) == (32 * 16) // 8
    # determinism across runs
    again = {r["media_id"]: r for r in resize_images(media, 32, 16).collect()}
    assert all(bytes(again[k]["data"]) == bytes(v["data"])
               for k, v in resized.items())

    audio = media_table(spark, SF_SMOKE, media_type="audio").limit(4)
    win = audio_window_features(audio, window_ms=500).collect()
    n_expected = sum(
        max(1, (r["meta"]["duration_ms"] + 499) // 500)
        for r in audio.collect())
    assert len(win) == n_expected
    assert all(r["rms"] >= 0.0 and r["zero_crossings"] >= 0 for r in win)
    assert all(r["start_ms"] == r["window_idx"] * 500 for r in win)


def test_multimodal_codec_gate_without_pil():
    """With Pillow absent, decode_image raises the dependency gate and the
    feature/resize kernels fall back to the deterministic fakes; the
    chunker re-slices batches without touching session conf."""
    import pytest as _pytest

    from memgraph_spark.llm.multimodal import (
        _chunked, _decode_features, _fake_decode_features, _pil,
        _resize_blob, decode_image)
    if _pil() is not None:
        _pytest.skip("Pillow present: gate exercised by the PIL test below")
    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    assert _decode_features(b"abc", 4) == _fake_decode_features(b"abc", 4)
    assert _resize_blob(b"abcdefgh", 4, 4) is not None
    import pandas as pd
    chunks = list(_chunked(iter([pd.DataFrame({"x": range(10)})]), 3))
    assert [len(c) for c in chunks] == [3, 3, 3, 1]


def test_multimodal_real_codec_when_pil_present(spark):
    """Runs only when Pillow is importable: a real 2x2 PNG decodes, features
    come from pixels (not the byte-fold fake), resize re-encodes PNG."""
    import pytest as _pytest

    from memgraph_spark.llm.multimodal import (
        _decode_features, _pil, _resize_blob, decode_image)
    Image = _pil()
    if Image is None:
        _pytest.skip("Pillow not installed in this container")
    import io
    img = Image.new("L", (2, 2))
    img.putdata([0, 85, 170, 255])
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    blob = buf.getvalue()
    assert decode_image(blob).size == (2, 2)
    feats = _decode_features(blob, 4)
    assert len(feats) == 4 and all(0.0 <= f <= 1.0 for f in feats)
    resized = _resize_blob(blob, 8, 8)
    assert decode_image(resized).size == (8, 8)


def test_content_hash_is_process_independent():
    from memgraph_spark.llm.multimodal import _content_hash
    # pinned value: md5-folded, must not vary with PYTHONHASHSEED
    import hashlib
    want = int.from_bytes(hashlib.md5(b"abc").digest()[:8], "big") & 0x7FFFFFFFFFFFFFFF
    assert _content_hash(b"abc") == want == 0x900150983CD24FB0 & 0x7FFFFFFFFFFFFFFF
    assert _content_hash(None) == 0
    assert _content_hash(bytearray(b"abc")) == _content_hash(b"abc")


def test_ivf_topk_matches_exact_on_small_set(spark):
    from memgraph_spark.llm.similarity import cosine_topk, ivf_topk
    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = [float(v) for v in
         df.filter("vec_id = 0").select("embedding").first()[0]]
    rest = df.filter("vec_id <> 0")
    exact = [r[0] for r in cosine_topk(rest, q, k=10).collect()]
    approx = [r[0] for r in
              ivf_topk(rest, q, k=10, n_lists=8, n_probe=3).collect()]
    # the driver-query configuration: high recall, deterministic seed
    assert len(set(exact) & set(approx)) >= 6
    assert len(approx) == 10


def test_ivf_adaptive_lists(spark):
    """Scale-adaptive IVF sizing contract: (a) below the design size
    (sqrt(n) <= n_lists) passing n_rows is a no-op — identical rows;
    (b) past it the list count grows to ~sqrt(n) (probed fraction
    n_probe/n_lists shrinks) while the probe still returns a full,
    high-recall top-k against the exact scan."""
    import random

    from memgraph_spark.llm.similarity import cosine_topk, ivf_topk

    rnd = random.Random(13)
    dim = 8

    def corpus(n):
        return spark.createDataFrame(
            [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(n)],
            "vec_id long, embedding array<double>").localCheckpoint(eager=True)

    # (a) n=40: isqrt(40)=6 <= 8 lists -> no-op
    small = corpus(40)
    q = [1.0] + [0.0] * (dim - 1)
    base = [tuple(r) for r in ivf_topk(small, q, k=5, n_lists=8,
                                       n_probe=3).collect()]
    noop = [tuple(r) for r in ivf_topk(small, q, k=5, n_lists=8,
                                       n_probe=3, n_rows=40).collect()]
    assert base == noop

    # (b) n=1000 CLUSTERED corpus (the IVF assumption — inverted lists
    # track natural clusters; uniform noise is adversarial for any IVF):
    # isqrt(1000)=31 lists with probe grown to isqrt(31)=5, probed
    # fraction 5/31 ~ 16% (was 3/8 = 37.5%); quantizer trains on a
    # bounded sample only when n > 256*n_lists (here full). Recall
    # against the exact top-10 must stay at the driver-query bar.
    centers = [[rnd.uniform(-1, 1) for _ in range(dim)] for _ in range(20)]
    rows_c = [(i, [c + rnd.uniform(-0.15, 0.15)
                   for c in centers[i % 20]]) for i in range(1000)]
    big = spark.createDataFrame(
        rows_c, "vec_id long, embedding array<double>").localCheckpoint(eager=True)
    qc = centers[7]
    exact = [r[0] for r in cosine_topk(big, qc, k=10).collect()]
    approx = [r[0] for r in ivf_topk(big, qc, k=10, n_lists=8, n_probe=3,
                                     n_rows=1000).collect()]
    assert len(approx) == 10
    assert len(set(exact) & set(approx)) >= 6, set(exact) & set(approx)


def test_near_dup_clusters_transitive(spark):
    """A-B and B-C near-dup pairs must land A, B, C in ONE cluster labeled
    by the min id, even if A-C alone falls below the pair threshold;
    unrelated docs cluster to themselves."""
    from memgraph_spark.llm.dedup import dedup_corpus, near_dup_clusters
    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "astronomers catalogue variable stars beyond the galactic bulge ")
    rows = [
        (1, base + "alpha beta gamma delta"),
        (2, base + "alpha beta gamma epsilon"),   # near-dup of 1
        (3, base + "alpha beta zeta epsilon"),    # near-dup of 2
        (4, "completely different content about distributed query engines "
            "and columnar storage formats with vectorized execution paths"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["cluster"]
           for r in near_dup_clusters(df, threshold=0.7).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == 4
    kept = sorted(r["doc_id"] for r in dedup_corpus(df).collect())
    assert kept == [1, 4]


def test_lsh_adaptive_band_width(spark):
    """Scale-adaptive banding contract (queries_algos/similarity):
    (a) at or below the design size (n <= 8 * 2^(n_planes/bands)) passing
    n_rows must be a byte-identical no-op — the hyperplane family is
    seeded per index, widening only appends planes; (b) past the design
    size the adaptive width must emit strictly fewer candidates on an
    occupancy-heavy corpus while still covering every exact-duplicate
    pair (identical vectors share every bucket at ANY width)."""
    import random

    from memgraph_spark.llm.similarity import lsh_candidate_pairs

    rnd = random.Random(7)
    dim = 8

    def corpus(n, dups_of=None):
        rows = []
        for i in range(n):
            if dups_of is not None and i >= n - len(dups_of):
                rows.append((i, rows[dups_of[i - (n - len(dups_of))]][1]))
            else:
                rows.append((i, [rnd.uniform(-1, 1) for _ in range(dim)]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # (a) small corpus: n_rows is a no-op (same pairs, same count)
    small = corpus(60).localCheckpoint(eager=True)
    fixed = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(
        small, n_planes=32, bands=4).collect()}
    adaptive = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(
        small, n_planes=32, bands=4, n_rows=60).collect()}
    assert fixed == adaptive

    # (b) past the design size for an 8-bit/band tuning (here: design size
    # 8 * 2^2 = 32 for a 8-plane/4-band tuning, so n=400 is 12x past it):
    # adaptive must shrink the candidate set and keep all duplicate pairs
    dup_src = [0, 1, 2, 3, 4]
    big = corpus(400, dups_of=dup_src).localCheckpoint(eager=True)
    fixed_big = lsh_candidate_pairs(big, n_planes=8, bands=4)
    adaptive_big = lsh_candidate_pairs(big, n_planes=8, bands=4, n_rows=400)
    nf, na = fixed_big.count(), adaptive_big.count()
    assert na < nf, (na, nf)
    want = {(src, 395 + k) for k, src in enumerate(dup_src)}
    got = {(r.id_a, r.id_b) for r in adaptive_big.collect()}
    assert want <= got, want - got

    # (c) NEAR-duplicate (p < 1) recall past the design size: widening
    # bits/band alone would tank the per-pair match probability (a p=0.9
    # pair falls from 1-(1-p^8)^4≈0.90 to 1-(1-p^9)^4≈0.79 at this size,
    # worse as n grows); the band count must grow alongside. 50 planted
    # noisy copies (cosine ≈ 0.95-0.98, NOT identical — identical vectors
    # share every bucket at any width and prove nothing) at n=3000, which
    # is past the 8-bit design size 2048, so rows widens 8 -> 9 and bands
    # must rise to hold the design recall.
    n_big, n_dup, dim_c = 3000, 50, 16
    rows2 = []
    for i in range(n_big - n_dup):
        rows2.append((i, [rnd.uniform(-1, 1) for _ in range(dim_c)]))
    for k in range(n_dup):
        base_v = rows2[k][1]
        noisy = [x + rnd.uniform(-0.08, 0.08) for x in base_v]
        rows2.append((n_big - n_dup + k, noisy))
    near = spark.createDataFrame(
        rows2, "vec_id long, embedding array<double>").localCheckpoint(eager=True)
    planted = {(k, n_big - n_dup + k) for k in range(n_dup)}
    cand = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(
        near, n_planes=32, bands=4, n_rows=n_big).collect()}
    recovered = len(planted & cand)
    assert recovered >= int(0.9 * n_dup), (recovered, n_dup)


def test_simhash_arrow_equals_column_build(spark):
    """The one-numpy-pass simhash must be BIT-EQUAL to the pure column
    build on an adversarial corpus: empty text, whitespace-only, single
    token, repeated tokens, unicode, very long docs, and null — the vote
    sums are integer, so any divergence is a bit-order or segmentation
    bug, not float noise."""
    import random

    from memgraph_spark.llm.dedup import simhash, simhash_column_build

    rnd = random.Random(11)
    words = ["alpha", "beta", "Gamma", "δέλτα", "x", "1234", "a-b_c", "ZZ"]
    rows = [
        (1, ""),
        (2, "   \t  "),
        (3, "solo"),
        (4, "dup dup dup dup"),
        (5, " ".join(rnd.choice(words) for _ in range(500))),
        (6, "καλημέρα κόσμε ünïcodë tøkens"),
        (7, None),
    ] + [(10 + i, " ".join(rnd.choice(words) for _ in range(rnd.randint(1, 40))))
         for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.select(
        "doc_id",
        simhash(F.col("text")).alias("a"),
        simhash_column_build(F.col("text")).alias("b"),
    ).collect()
    for r in got:
        # the column build yields NULL->0 via its otherwise(0) branches;
        # both paths must agree on every row, including null text
        assert (r["a"] or 0) == (r["b"] or 0), (r["doc_id"], r["a"], r["b"])


def test_simhash_narrow_bits_matches_column_build(spark):
    """simhash(text, bits<64) must honour the width (the Arrow vote path
    slices the unpacked bit matrix), agree bit-for-bit with the column
    build at the same width, and stay inside the declared bit range."""
    from memgraph_spark.llm.dedup import simhash, simhash_column_build

    rows = [(1, "alpha beta gamma"), (2, "alpha beta gamma delta"),
            (3, ""), (4, None), (5, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for bits in (1, 8, 32, 63):
        got = df.select(
            "doc_id",
            simhash(F.col("text"), bits=bits).alias("a"),
            simhash_column_build(F.col("text"), bits=bits).alias("b"),
        ).collect()
        for r in got:
            a, b = (r["a"] or 0), (r["b"] or 0)
            assert a == b, (bits, r["doc_id"], a, b)
            assert 0 <= a < (1 << bits), (bits, a)


# top-1 recall of algo_knn's LSH branch on the corpus below, measured at
# 0.7110 (deterministic: seeded data, hash-seeded hyperplanes)
KNN_LSH_RECALL_FLOOR = 0.70


def test_algo_knn_lsh_branch_recall(spark, tmp_path, monkeypatch):
    """q_algo_knn's LSH branch (forced with SPARK_GRAFT_KNN_EXACT_MAX=0)
    against its exact branch on a seeded clustered corpus of 3000
    vectors, past the 2048-row design size of its 8-bit bands (so the
    adaptive tuning widens rows and bands). The floor is the measured
    top-1 recall rounded down, not a target."""
    import numpy as np

    from memgraph_spark.queries_algos import q_algo_knn

    rng = np.random.default_rng(11)
    n, dim, n_clusters = 3000, 32, 60
    centers = rng.normal(size=(n_clusters, dim))
    vecs = (centers[rng.integers(0, n_clusters, n)]
            + 0.5 * rng.normal(size=(n, dim))).astype(np.float32)
    spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    monkeypatch.delenv("SPARK_GRAFT_KNN_EXACT_MAX", raising=False)
    exact = {r.node: r.neighbour
             for r in q_algo_knn(spark, str(tmp_path)).collect()}
    monkeypatch.setenv("SPARK_GRAFT_KNN_EXACT_MAX", "0")
    lsh = {r.node: r.neighbour
           for r in q_algo_knn(spark, str(tmp_path)).collect()}
    assert len(exact) == len(lsh) == n
    recall = sum(lsh[k] == exact[k] for k in exact) / n
    print(f"algo_knn LSH top-1 recall: {recall:.4f}")
    assert recall >= KNN_LSH_RECALL_FLOOR, recall
