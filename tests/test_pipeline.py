"""Tests for the training-data pipeline operators (alp_spark.pipeline).

Oracles are plain-Python recomputations over tiny handcrafted corpora
(known duplicates, known languages, known nearest neighbours), so every
operator's semantics are pinned independently of Spark.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alp_spark.pipeline import (
    cosine_dup_pairs,
    cosine_topk,
    doc_fingerprint,
    exact_dedup,
    lang_id,
    lsh_ann_topk,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_score,
    simhash_signatures,
    token_stats,
)
from alp_spark.pipeline.multimodal import (
    FEATURE_DIM,
    extract_features,
    sample_frames,
    synthesize_media,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)

CORPUS = [
    (0, "the cat sat on the mat"),
    (1, "the cat sat on the mat"),  # exact dup of 0
    (2, "the cat sat on the red mat"),  # near dup of 0
    (3, "der hund und die katze ist da"),
    (4, "le chat et la souris est la"),
    (5, "completely different words entirely unrelated topic"),
    (6, "  the   cat sat  on the mat "),  # whitespace-variant of 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, DOC_SCHEMA)


def test_token_stats(docs):
    rows = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert rows[0]["n_tokens"] == 6
    assert rows[0]["n_chars"] == len(CORPUS[0][1])
    assert rows[6]["n_tokens"] == 6  # empties dropped
    assert rows[0]["avg_token_len"] == pytest.approx(17 / 6, abs=1e-6)


def test_quality_and_lang(docs):
    q = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert q[0]["stopword_ratio"] == pytest.approx(2 / 6, abs=1e-6)
    # score = min(6/100,1) * (0.5 + 0.5*ratio)
    assert q[0]["score"] == pytest.approx(0.06 * (0.5 + 0.5 * 2 / 6), abs=1e-6)

    langs = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert langs[0] == "en"
    assert langs[3] == "de"
    assert langs[4] == "fr"
    assert langs[5] == "und"


def test_fingerprint_normalises_whitespace(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}
    assert fp[0] == fp[1] == fp[6]
    assert fp[0] != fp[2]
    assert fp[0] == hashlib.md5(b"the cat sat on the mat").hexdigest()


def test_exact_dedup(docs):
    groups = {r["text_hash"]: r for r in exact_dedup(docs).collect()}
    dup = [g for g in groups.values() if g["n_dupes"] > 1]
    assert len(dup) == 1 and dup[0]["keep_id"] == 0 and dup[0]["n_dupes"] == 2


def test_minhash_lsh_finds_near_dups(docs):
    sigs = minhash_signatures(docs, num_hashes=8, shingle_k=2)
    # identical docs → identical signatures
    s = {r["doc_id"]: tuple(r[f"sig{j}"] for j in range(8)) for r in sigs.collect()}
    assert s[0] == s[1] == s[6]
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sigs, num_hashes=8, band_size=2).collect()
    }
    assert (0, 1) in pairs and (0, 6) in pairs
    assert (0, 5) not in pairs
    # near-dup (jaccard 4/7): band_size=1 gives 8 independent chances
    loose = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sigs, num_hashes=8, band_size=1).collect()
    }
    assert (0, 2) in loose


def test_ngram_jaccard(docs):
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, shingle_k=2, threshold=0.3).collect()
    }
    assert out[(0, 1)] == pytest.approx(1.0)
    # doc0 bigrams: 5 distinct; doc2: 6 distinct; shared: {the cat, cat sat,
    # sat on, on the} = 4 → 4 / (5 + 6 - 4)
    assert out[(0, 2)] == pytest.approx(4 / 7, abs=1e-6)
    assert (0, 5) not in out


def test_simhash(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert all(len(v) == 32 and set(v) <= {"0", "1"} for v in sh.values())
    assert sh[0] == sh[1] == sh[6]
    ham02 = sum(a != b for a, b in zip(sh[0], sh[2]))
    ham05 = sum(a != b for a, b in zip(sh[0], sh[5]))
    assert ham02 < ham05  # near-dup closer than unrelated


EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    ]
)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(3)
    base = rng.standard_normal((6, 8)).astype(np.float32)
    vecs = list(base)
    vecs.append(base[0] + 0.01 * rng.standard_normal(8).astype(np.float32))  # ~dup of 0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    np_vecs = [(i, np.array(v, dtype=np.float64)) for i, v in rows]
    return np_vecs, spark.createDataFrame(rows, EMB_SCHEMA)


def _np_topk(vecs, qid, k):
    q = dict(vecs)[qid]
    scored = []
    for i, v in vecs:
        if i == qid:
            continue
        cos = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
        scored.append((-cos, i))
    return [i for _, i in sorted(scored)[:k]]


def test_cosine_topk_matches_numpy(emb):
    vecs, df = emb
    out = cosine_topk(df, k=2, n_queries=3).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qid in range(3):
        expect = _np_topk(vecs, qid, 2)
        assert [n for _, n in sorted(got[qid])] == expect


def test_cosine_dup_pairs(emb):
    vecs, df = emb
    pairs = {(r["id_a"], r["id_b"]) for r in cosine_dup_pairs(df, 0.95).collect()}
    assert (0, 6) in pairs
    assert all(a == 0 and b == 6 for a, b in pairs) or len(pairs) >= 1


def test_lsh_ann_identical_bucket(emb):
    vecs, df = emb
    # the near-dup pair lands in the same SRP bucket and is each other's NN
    out = lsh_ann_topk(df, dim=8, k=1, n_queries=1, n_planes=4)
    rows = out.collect()
    assert any(r["query_id"] == 0 and r["neighbor_id"] == 6 for r in rows)


def test_multimodal_plumbing(spark):
    media = synthesize_media(spark, n=12)
    feats = extract_features(media).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r["feature"]) == FEATURE_DIM
        assert abs(sum(r["feature"]) - 1.0) < 1e-5  # histogram normalised
    # determinism across runs
    feats2 = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert all(feats2[r["media_id"]] == r["feature"] for r in feats)

    frames = sample_frames(media, every=2).collect()
    vids = {r["media_id"] for r in frames}
    assert vids == {i for i in range(12) if i % 3 == 2}
    for r in frames:
        assert r["frame_idx"] % 2 == 0

    # opaque random payloads are not a recognised format: the real
    # decoder refuses them (compressed codecs are the documented
    # integration point); Spark surfaces the NotImplementedError
    with pytest.raises(Exception, match="compressed codec decode"):
        extract_features(media, decode="real").collect()


def test_multimodal_real_decode(spark):
    import numpy as np

    from alp_spark.pipeline.multimodal import _real_decode

    # REAL uncompressed payloads (P6/WAV/RAWV) decode end-to-end
    media = synthesize_media(spark, n=12, format="raw")
    feats = extract_features(media, decode="real").collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r["feature"]) == FEATURE_DIM
        assert abs(sum(r["feature"]) - 1.0) < 1e-5
    # P6 unit decode: a 2x1 image of (0,0,0) and (255,255,255)
    ppm = b"P6\n2 1\n255\n" + bytes([0, 0, 0, 255, 255, 255])
    px = _real_decode(ppm, n=2)
    assert px[0] == 0.0 and abs(px[1] - 255.0 / 256.0) < 1e-6
    # WAV round-trip: silence decodes to mid-scale
    from alp_spark.pipeline.multimodal import _wav_bytes

    wav = _wav_bytes(np.zeros(64))
    s = _real_decode(wav, n=8)
    assert np.allclose(s, 0.5, atol=1e-4)
    # raw video frames slice to whole frames
    frames = sample_frames(media.where("kind = 'video'"), every=2).collect()
    assert frames and all(r["frame_idx"] % 2 == 0 for r in frames)
    w, h = 8, 6
    for r in frames:
        assert len(r["frame_payload"]) == w * h * 3


def test_srp_candidate_pairs_and_verify(emb):
    from alp_spark.pipeline import srp_candidate_pairs

    vecs, df = emb
    cands = srp_candidate_pairs(df, dim=8, n_bands=4, band_bits=2)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (0, 6) in pairs  # the near-dup collides in some band
    verified = cosine_dup_pairs(df, 0.95, candidates=cands).collect()
    assert {(r["id_a"], r["id_b"]) for r in verified} == {(0, 6)}


def test_shared_shingle_pass_is_equivalent(docs):
    # the shared shingle_sets frame must reproduce the standalone
    # signature build and candidate verify bit-for-bit (it is the same
    # expression, computed once — the r6 single-scan optimization)
    from alp_spark.pipeline import shingle_sets

    shs = shingle_sets(docs, shingle_k=2).persist()
    try:
        plain = minhash_signatures(docs, num_hashes=8, shingle_k=2)
        shared = minhash_signatures(
            docs, num_hashes=8, shingle_k=2, shingles=shs
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, shared.collect())
        )
        cands = lsh_candidate_pairs(plain, num_hashes=8, band_size=1)
        jp = ngram_jaccard_pairs(
            docs, shingle_k=2, threshold=0.3, candidates=cands
        )
        js = ngram_jaccard_pairs(
            docs, shingle_k=2, threshold=0.3, candidates=cands, shingles=shs
        )
        assert sorted(map(tuple, jp.collect())) == sorted(
            map(tuple, js.collect())
        )
    finally:
        shs.unpersist()


def test_shingles_of_another_k_are_rejected(docs):
    # a shingle_sets frame carries its k; a consumer asked for another k
    # must not silently fold over the wrong shingles
    from alp_spark.pipeline import shingle_sets

    shs = shingle_sets(docs, shingle_k=3)
    with pytest.raises(ValueError, match="shingle_k=3"):
        minhash_signatures(docs, num_hashes=8, shingle_k=2, shingles=shs)
    cands = docs.select(F.col("doc_id").alias("doc_a")).crossJoin(
        docs.select(F.col("doc_id").alias("doc_b"))
    )
    with pytest.raises(ValueError, match="shingle_k=3"):
        ngram_jaccard_pairs(docs, shingle_k=2, candidates=cands, shingles=shs)
    # an untagged frame is not a shingle_sets frame of any k
    untagged = shs.select("doc_id", F.col("_sh").alias("_sh", metadata={}))
    with pytest.raises(ValueError, match="shingle_k=None"):
        minhash_signatures(docs, num_hashes=8, shingle_k=3, shingles=untagged)


def test_shingles_without_candidates_are_rejected(docs):
    # the all-pairs path recomputes its shingles: a supplied frame would
    # be ignored, so the call fails instead
    from alp_spark.pipeline import shingle_sets

    shs = shingle_sets(docs, shingle_k=2)
    with pytest.raises(ValueError, match="needs candidates"):
        ngram_jaccard_pairs(docs, shingle_k=2, shingles=shs)


def test_candidate_scoped_jaccard_matches_unscoped(docs, spark):
    # candidate-scoped intersection must equal the all-pairs result
    # restricted to the candidate set
    sigs = minhash_signatures(docs, num_hashes=8, shingle_k=2)
    cands = lsh_candidate_pairs(sigs, num_hashes=8, band_size=1)
    scoped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, shingle_k=2, threshold=0.3, candidates=cands
        ).collect()
    }
    unscoped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, shingle_k=2, threshold=0.3).collect()
    }
    cand_pairs = {(r["id_a"] if "id_a" in r else r["doc_a"],
                   r["id_b"] if "id_b" in r else r["doc_b"]) for r in cands.collect()}
    assert scoped == {p: j for p, j in unscoped.items() if p in cand_pairs}


def test_no_cross_product_in_scale_plans(spark):
    # the driver entries for near-dup + jaccard must never plan a
    # cartesian product (VERDICT r1 'as wired' regression)
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    for q in ("cosine_dup_pairs", "ngram_jaccard", "lsh_ann_topk",
              "spy", "bpe_tokens", "sssp"):
        df = entrymod.queries()[q](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_ivf_full_probe_equals_brute_force(emb, spark):
    # probing ALL cells makes IVF's candidate set the whole corpus, so
    # results must equal brute-force cosine_topk row-for-row
    from alp_spark.algorithms import kmeans
    from alp_spark.pipeline import ivf_topk

    vecs, df = emb
    res = kmeans(
        spark, df, k=2, seed=5, max_iter=20, id_col="vec_id", vec_col="embedding"
    )
    full = ivf_topk(
        df, res.centroids, k=2, n_queries=3, n_probe=2, assignments=res.assignments
    ).collect()
    brute = cosine_topk(df, k=2, n_queries=3).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, brute))


def test_ivf_partial_probe_stays_in_probed_cells(emb, spark):
    # n_probe=1 probes exactly the query's own cell (its argmin
    # assignment), so every neighbor must share the query's cluster —
    # and the candidate join must be an equi-join, never a cross product
    from alp_spark.algorithms import kmeans
    from alp_spark.pipeline import ivf_topk

    vecs, df = emb
    res = kmeans(
        spark, df, k=3, seed=5, max_iter=20, id_col="vec_id", vec_col="embedding"
    )
    out = ivf_topk(
        df, res.centroids, k=2, n_queries=3, n_probe=1, assignments=res.assignments
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assign = {r["id"]: r["cluster"] for r in res.assignments.collect()}
    rows = out.collect()
    assert rows
    by_q = {}
    for r in rows:
        assert assign[r["neighbor_id"]] == assign[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():  # ranks contiguous from 1
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_assign_matches_kmeans_assignments(emb, spark):
    from alp_spark.algorithms import kmeans
    from alp_spark.pipeline import ivf_assign

    vecs, df = emb
    res = kmeans(
        spark, df, k=3, seed=5, max_iter=20, id_col="vec_id", vec_col="embedding"
    )
    got = {r["id"]: r["cluster"] for r in ivf_assign(df, res.centroids).collect()}
    want = {r["id"]: r["cluster"] for r in res.assignments.collect()}
    assert got == want


def test_bpe_token_count_matches_python_re(docs):
    import math
    import re

    from alp_spark.pipeline import bpe_token_count
    from alp_spark.pipeline.text import BPE_PRETOKEN_RE

    rows = {r["doc_id"]: r for r in bpe_token_count(docs).collect()}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert rows.keys() == src.keys()
    for did, text in src.items():
        toks = re.findall(BPE_PRETOKEN_RE, text)
        assert rows[did]["n_pretokens"] == len(toks)
        assert rows[did]["n_pieces"] == sum(math.ceil(len(t) / 4) for t in toks)
        if toks:
            assert rows[did]["n_pieces"] >= rows[did]["n_pretokens"]


def test_quantize_roundtrip_and_edge_cases(emb, spark):
    import numpy as np

    from alp_spark.pipeline import dequantize_embeddings, quantize_embeddings

    vecs, df = emb
    zero_row = spark.createDataFrame(
        [(99, [0.0] * 8)], "vec_id long, embedding array<float>"
    )
    q = quantize_embeddings(df.unionByName(zero_row))
    rows = {r["id"]: r for r in q.collect()}
    # codes bounded, scale = amax/127, zero vector -> scale 0 + zero codes
    assert rows[99]["scale"] == 0.0 and all(c == 0 for c in rows[99]["qvec"])
    for vid, v in vecs:
        r = rows[vid]
        assert abs(r["scale"] - np.abs(v).max() / 127.0) < 1e-12
        assert all(-127 <= c <= 127 for c in r["qvec"])
        want = np.floor(v / r["scale"] + 0.5).clip(-127, 127).astype(int)
        assert list(r["qvec"]) == list(want)
    # dequantize: max abs error bounded by scale/2 per element
    d = {r["id"]: np.array(r["vec"]) for r in dequantize_embeddings(q).collect()}
    for vid, v in vecs:
        assert np.max(np.abs(d[vid] - v)) <= rows[vid]["scale"] / 2 + 1e-12


def _has(mod):
    import importlib.util

    return importlib.util.find_spec(mod) is not None


def test_compressed_image_decode_via_pillow():
    # runs only where Pillow exists: the JPEG/PNG path activates by
    # availability instead of raising (VERDICT r3 item 7)
    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    from alp_spark.pipeline.multimodal import _real_decode

    img = Image.fromarray(
        np.tile(np.arange(16, dtype=np.uint8) * 16, (4, 1)), mode="L"
    )
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    px = _real_decode(buf.getvalue(), n=16)
    assert len(px) == 16
    assert 0.0 <= min(px) and max(px) < 1.0


def test_compressed_av_decode_via_pyav():
    pytest.importorskip("av")
    import numpy as np

    from alp_spark.pipeline.multimodal import _optional_av, _real_decode

    # no handy encoder without more deps; assert the availability probe
    # agrees with the import and the dispatch reaches av for an unknown
    # magic (av itself errors on garbage — a codec error, not a
    # NotImplementedError)
    assert _optional_av() is not None
    with pytest.raises(Exception) as ei:
        _real_decode(b"\x00garbage-payload\x01" * 4, n=8)
    assert not isinstance(ei.value, NotImplementedError)


@pytest.mark.skipif(_has("PIL"), reason="Pillow installed: path active")
def test_compressed_image_decode_absent_pillow_message():
    from alp_spark.pipeline.multimodal import _real_decode

    with pytest.raises(NotImplementedError, match="requires Pillow"):
        _real_decode(b"\xff\xd8\xff\xe0fakejpeg", n=8)


@pytest.mark.skipif(_has("av"), reason="PyAV installed: path active")
def test_compressed_codec_absent_pyav_message():
    from alp_spark.pipeline.multimodal import _real_decode

    with pytest.raises(NotImplementedError, match="requires PyAV"):
        _real_decode(b"\x00\x00\x00\x20ftypisom", n=8)


def test_deterministic_sampling_matches_hashlib_and_partitioning(spark):
    # membership is a pure function of (key, salt): exact vs a Python
    # md5 oracle, and invariant under repartitioning
    import hashlib

    from alp_spark.pipeline.sampling import sample_fraction

    rows = [(i, f"t{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def u(key, salt):
        h = hashlib.md5((str(key) + salt).encode()).hexdigest()
        return int(h[:16], 16) / 2**64

    want = {i for i, _ in rows if u(i, "sample") < 0.3}
    got = {
        r["doc_id"]
        for r in sample_fraction(df, 0.3, key="doc_id").collect()
    }
    assert got == want
    got_repart = {
        r["doc_id"]
        for r in sample_fraction(
            df.repartition(7, "text"), 0.3, key="doc_id"
        ).collect()
    }
    assert got_repart == want
    # plausible fraction, and a different salt gives a different sample
    assert 0.2 < len(want) / 500 < 0.4
    other = {
        r["doc_id"]
        for r in sample_fraction(df, 0.3, key="doc_id", salt="other").collect()
    }
    assert other != want


def test_train_val_split_stable_under_growth(spark):
    # old rows keep their split when the corpus grows — no leakage
    from alp_spark.pipeline.sampling import train_val_split

    small = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    big = spark.createDataFrame(
        [(i,) for i in range(400)], "doc_id long"
    )
    s1 = {
        r["doc_id"]: r["split"]
        for r in train_val_split(small, 0.2, key="doc_id").collect()
    }
    s2 = {
        r["doc_id"]: r["split"]
        for r in train_val_split(big, 0.2, key="doc_id").collect()
    }
    assert all(s2[k] == v for k, v in s1.items())
    assert set(s1.values()) == {"train", "val"}


def test_stratified_sampling_respects_per_stratum_fractions(spark):
    from alp_spark.pipeline.sampling import sample_stratified

    rows = [(i, "en" if i % 3 else "de") for i in range(900)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sample_stratified(
        df, {"en": 0.5, "de": 0.05}, stratum="lang", key="doc_id"
    ).collect()
    en = sum(1 for r in out if r["lang"] == "en")
    de = sum(1 for r in out if r["lang"] == "de")
    n_en = sum(1 for _, l in rows if l == "en")
    n_de = len(rows) - n_en
    assert abs(en / n_en - 0.5) < 0.1
    assert de / n_de < 0.15
    # unlisted strata fall back to default_fraction=0
    out2 = sample_stratified(
        df, {"en": 1.0}, stratum="lang", key="doc_id"
    ).collect()
    assert all(r["lang"] == "en" for r in out2)
    with pytest.raises(ValueError):
        sample_stratified(df, {"en": 1.5}, stratum="lang", key="doc_id")


def _emb_fixture(spark, n=80, d=6, seed=31):
    import numpy as np

    rng = np.random.RandomState(seed)
    # anisotropic cloud: PCA has a well-separated spectrum
    A = rng.standard_normal((d, d))
    X = rng.standard_normal((n, d)) @ A + rng.uniform(-2, 2, d)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    return X, df


def test_pca_moments_and_fit_match_numpy(spark):
    import numpy as np

    from alp_spark.pipeline import fit_pca

    X, df = _emb_fixture(spark)
    model = fit_pca(df, k=4)
    np.testing.assert_allclose(model.mean, X.mean(axis=0), rtol=1e-10)
    C = np.cov(X, rowvar=False)
    lam, vec = np.linalg.eigh(C)
    order = np.argsort(lam)[::-1][:4]
    np.testing.assert_allclose(
        model.eigenvalues, lam[order], rtol=1e-9
    )
    for wj, idx in zip(model.components, order):
        w = vec[:, idx]
        pivot = int(np.argmax(np.abs(w)))
        if w[pivot] < 0:
            w = -w
        np.testing.assert_allclose(wj, w, atol=1e-9)


def test_pca_transform_and_whiten(spark):
    import numpy as np

    from alp_spark.pipeline import fit_pca, transform_pca

    X, df = _emb_fixture(spark)
    model = fit_pca(df, k=3)
    out = {
        r["vec_id"]: r["pca"]
        for r in transform_pca(df, model).collect()
    }
    W = np.array(model.components).T  # d × k
    want = (X - X.mean(axis=0)) @ W
    got = np.array([out[i] for i in range(len(X))])
    np.testing.assert_allclose(got, want, atol=1e-9)
    # whitened projections have ~unit variance per component
    wout = {
        r["vec_id"]: r["pca"]
        for r in transform_pca(df, model, whiten=True).collect()
    }
    G = np.array([wout[i] for i in range(len(X))])
    np.testing.assert_allclose(G.var(axis=0, ddof=1), 1.0, rtol=1e-6)
    # plan hygiene: pure Column projection — no Python eval in the plan
    plan = transform_pca(df, model)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan.replace("ArrowEvalPython", "Python")


def test_pca_rejects_degenerate_inputs(spark):
    from alp_spark.pipeline import fit_pca

    one = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        fit_pca(one, k=1)
    _, df = _emb_fixture(spark, n=10, d=3)
    with pytest.raises(ValueError):
        fit_pca(df, k=9)


def test_fit_pca_power_matches_eigh_on_gapped_spectrum():
    # pinned power/deflation (the SQL-replayable fit) must agree with
    # eigh when the eigengap allows convergence in the pinned budget
    from alp_spark.pipeline import fit_pca_power

    rng = np.random.RandomState(3)
    d = 16
    Q, _ = np.linalg.qr(rng.standard_normal((d, d)))
    lam_true = np.array([9.0, 4.0] + [0.5] * (d - 2))
    C = (Q * lam_true) @ Q.T
    C = np.round((C + C.T) / 2, 6)
    comps, lams = fit_pca_power(C, k=2, iters=60)
    for j in range(2):
        v = np.array(comps[j])
        # direction match up to sign
        assert abs(abs(v @ Q[:, j]) - 1.0) < 1e-5
        assert abs(lams[j] - lam_true[j]) < 1e-4


def test_media_from_ids_real_decode_matches_formula(spark):
    # payloads are genuine P5/WAV/RAWV; the real decoder must recover
    # exactly the documented integer formulas (the media_features
    # oracle's arithmetic)
    from alp_spark.pipeline import extract_features, media_from_ids

    ids = spark.range(6).select(F.col("id").alias("doc_id"))
    feats = {
        (r["media_id"], r["kind"]): np.array(r["feature"])
        for r in extract_features(
            media_from_ids(ids), decode="real"
        ).collect()
    }
    i = np.arange(64)
    for mid in range(6):
        kind = ("image", "audio", "video")[mid % 3]
        if kind == "audio":
            bins = ((mid * 37 + i * 11) % 65536) // 4096
        else:
            bins = ((mid * 131 + i * 7) % 251) // 16
        want = np.bincount(bins, minlength=16) / 64.0
        np.testing.assert_array_equal(feats[(mid, kind)], want)


# --------------------------------------------------------------------------
# Gopher-style repetition filters
# --------------------------------------------------------------------------

def test_repetition_stats(spark):
    from alp_spark.pipeline.text import repetition_stats

    rows = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),  # one dup token, 5 distinct bigrams
            (1, "spam spam spam spam"),  # maximal repetition
            (2, "one"),  # no bigrams
            (3, ""),  # empty
        ],
        DOC_SCHEMA,
    )
    got = {r["doc_id"]: r for r in repetition_stats(rows).collect()}
    assert got[0]["n_tokens"] == 6
    assert got[0]["dup_token_frac"] == pytest.approx(1 / 6, abs=1e-6)
    assert got[0]["top_bigram_frac"] == pytest.approx(0.2, abs=1e-6)
    assert got[1]["dup_token_frac"] == pytest.approx(0.75, abs=1e-6)
    assert got[1]["top_bigram_frac"] == 1.0  # "spam spam" x3 of 3
    assert got[2]["n_tokens"] == 1
    assert got[2]["top_bigram_frac"] == 0.0
    assert got[3]["n_tokens"] == 0
    assert got[3]["dup_token_frac"] == 0.0
    assert got[3]["top_bigram_frac"] == 0.0
