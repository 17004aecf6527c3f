"""Tests for the training-data operators: dedup families, ANN search,
text analysis, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hexspark.ops import ann, dedup, multimodal, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    for i in range(20):
        rows.append((i, base + f"variant number {i} " * 3))
    # exact dups of doc 0
    rows.append((100, rows[0][1]))
    rows.append((101, rows[0][1]))
    # near-dup of doc 1 (one token changed out of ~65)
    rows.append((102, rows[1][1].replace("quick", "swift", 1)))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    groups = dedup.exact_dedup_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_dups"] == 3 and g["canonical_id"] == 0


def test_minhash_pairs_finds_neardup(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_pairs(docs, k=16).collect()
    }
    # exact dups share all minhashes
    assert pairs[(0, 100)] == 1.0
    assert pairs[(100, 101)] == 1.0
    # near-dup shares most
    assert pairs.get((1, 102), 0) >= 0.5


def test_simhash_neardup_pairs(spark, docs):
    out = dedup.simhash_neardup_pairs(docs, max_dist=30, n_bands=16)
    found = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert ("0", "100") in found and ("100", "101") in found
    assert ("1", "102") in found


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 64)).astype(np.float32)
    # plant near-neighbors: vec i+100 ~ vec i for i<20
    vecs[100:120] = vecs[:20] + 0.05 * rng.standard_normal((20, 64)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_brute_force_topk(spark, embeddings):
    probes = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    out = ann.brute_force_topk(embeddings, probes, k=3).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r["probe_id"], []).append(r)
    for pid, rows in by_probe.items():
        assert len(rows) == 3
        top = min(rows, key=lambda r: r["rank"])
        # the planted near-neighbor must be rank 1
        assert top["vec_id"] == pid + 100
        assert top["sim"] > 0.9


def test_lsh_topk_recall(spark, embeddings):
    probes = embeddings.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    exact = {
        (r["probe_id"], r["vec_id"])
        for r in ann.brute_force_topk(embeddings, probes, k=1).collect()
    }
    approx = {
        (r["probe_id"], r["vec_id"])
        for r in ann.lsh_topk(embeddings, probes, k=1, n_planes=6, dim=64).collect()
    }
    # planted rank-1 neighbors are ~identical vectors → land in the same
    # sign-projection bucket with high probability; require >=70% recall@1
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, recall


def test_text_features(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat, twice!",), ("x",)], "text string"
    )
    row = df.select(
        text.token_count(F.col("text")).alias("tc"),
        text.stopword_hits(F.col("text")).alias("sh"),
        text.punct_ratio(F.col("text")).alias("pr"),
        text.quality_score(F.col("text")).alias("q"),
        text.doc_fingerprint(F.col("text")).alias("fp"),
    ).collect()
    assert row[0]["tc"] == 7
    assert row[0]["sh"] == 2  # 'the' x2 ('on'/'cat' not in list)
    assert 0 < row[0]["pr"] < 0.2
    assert 0 <= row[0]["q"] <= 1 and 0 <= row[1]["q"] <= 1
    assert len(row[0]["fp"]) == 16


def _media(spark, n: int):
    """n media rows from media_from_documents: even ids are BMPs, odd ids
    WAVs, their dims and durations derived from the text lengths."""
    docs = spark.createDataFrame(
        [(i, f"document {i} " * (i + 1)) for i in range(n)],
        "doc_id long, text string",
    )
    return multimodal.media_from_documents(docs)


def test_multimodal_feature_plumbing(spark):
    media = _media(spark, 12)
    feats = multimodal.extract_features(media, fake_decode=True)
    rows = feats.collect()
    assert len(rows) == 12
    for r in rows:
        assert len(r["feature"]) == 16
        assert abs(sum(r["feature"]) - 1.0) < 1e-3  # nibble histogram sums to 1
        assert r["n_bytes"] > 0


def test_multimodal_real_bmp_wav_decode(spark):
    """BMP dims and WAV duration are really parsed out of the binary
    payloads and must round-trip the metadata the encoders were given."""
    decodable = _media(spark, 12)
    rows = {
        r["media_id"]: r
        for r in multimodal.extract_features(decodable).collect()
    }
    for m in decodable.collect():
        got = rows[m["media_id"]]
        if m["kind"] == "image":
            assert (got["width"], got["height"]) == (m["width"], m["height"])
        else:
            assert got["duration_ms"] == m["duration_ms"]


def test_multimodal_compressed_decode_is_honestly_stubbed(spark):
    """Opaque (kind=video) payloads have no magic we can parse — real
    decode must raise; fake_decode=True passes metadata through."""
    video = spark.createDataFrame(
        [(2, "video", bytes(range(256)) * 8, "application/octet-stream", 0, 0, 1234)],
        multimodal.MEDIA_SCHEMA,
    )
    media = _media(spark, 2).unionByName(video)
    with pytest.raises(Exception) as excinfo:
        multimodal.extract_features(media, fake_decode=False).collect()
    assert "NotImplementedError" in str(excinfo.value) or "codec" in str(excinfo.value)
    rows = multimodal.extract_features(media, fake_decode=True).collect()
    assert len(rows) == 3


def test_multimodal_decode_media_scalar():
    import numpy as np

    bmp = multimodal.encode_bmp(17, 9, np.arange(40, dtype=np.uint8))
    assert multimodal.decode_media(bmp)[:2] == (17, 9)
    wav = multimodal.encode_wav(8000, np.zeros(4000, dtype=np.int16))
    assert multimodal.decode_media(wav)[2] == 500  # 4000 samples @ 8kHz
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\xff\xd8\xff\xe0 not actually decodable")


def test_embedding_neardup_lsh_recall(spark):
    """LSH-table mode must recover most of the exact near-dup pairs (the
    OR-construction recall bound), never inventing below-threshold pairs."""
    import numpy as np
    from pyspark.sql import functions as F

    from hexspark.ops.ann import embedding_neardup_pairs

    rng = np.random.default_rng(5)
    # 30 cluster centers x 4 noisy members -> many true near-dups
    centers = rng.standard_normal((30, 64)).astype(np.float32)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(4):
            v = c + 0.15 * rng.standard_normal(64).astype(np.float32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r.vec_id_a, r.vec_id_b)
        for r in embedding_neardup_pairs(emb, threshold=0.9, method="exact").collect()
    }
    lsh_out = embedding_neardup_pairs(
        emb, threshold=0.9, method="lsh", n_planes=8, n_tables=8
    ).collect()
    lsh = {(r.vec_id_a, r.vec_id_b) for r in lsh_out}
    assert exact, "fixture must contain true near-dups"
    assert lsh <= exact  # precision 1.0: exact re-rank can never over-report
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"recall {recall:.2f} over {len(exact)} true pairs"
    assert all(r.sim >= 0.9 for r in lsh_out)


def test_minhash_oversize_block_salt_chain(spark):
    """Identical docs forming a block far above max_block must still come
    out connected (salt-chained), with no duplicate pairs and no O(n^2)
    pair blowup — same B5 policy as the signature blocking."""
    from hexspark.ops.dedup import minhash_pairs

    n = 60
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated for everyone") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = minhash_pairs(docs, k=8, band_rows=4, max_block=10).persist()
    cnt = pairs.count()
    assert n - 1 <= cnt <= 4 * n, cnt
    assert pairs.groupBy("id_a", "id_b").count().where("count > 1").count() == 0
    # identical docs agree on every band
    assert pairs.where("n_shared != 2").count() == 0

    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(int(r.id_a)), find(int(r.id_b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    assert len({find(i) for i in range(60)}) == 1
    pairs.unpersist()


def test_simhash_sql_matches_python_reference(spark):
    """ops.text.simhash_sql (the oracle-checkable Catalyst SimHash twin)
    must reproduce an independent pure-Python implementation of its
    declared definition: distinct [a-z0-9] tokens of lower(text), token
    hash = md5(t) || md5(t + '#1'), bit votes +/-1, sig bit = vote >= 0."""
    import hashlib
    import re

    from hexspark.ops.text import simhash_sql

    rows = [
        (1, "The quick brown fox JUMPS over the lazy dog 42 times"),
        (2, "the quick brown fox jumps over the lazy dog 42 times"),  # same tokens
        (3, "completely different content with unique words here"),
        (4, "punctuation!!! and---separators...should (not) matter 42"),
        (5, "x"),
    ]

    def ref_sig(text: str) -> str:
        toks = sorted({t for t in re.split(r"[^a-z0-9]+", text.lower()) if t})
        votes = [0] * 256
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest() + hashlib.md5(
                (t + "#1").encode()
            ).hexdigest()
            for b in range(256):
                nib = int(hx[b // 4], 16)
                bit = (nib >> (3 - b % 4)) & 1
                votes[b] += 1 if bit else -1
        out = []
        for n in range(64):
            nv = 0
            for i in range(4):
                if votes[n * 4 + i] >= 0:
                    nv |= 1 << (3 - i)
            out.append(format(nv, "x"))
        return "".join(out)

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r.sig_hex for r in simhash_sql(docs).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    for doc_id, text in rows:
        assert got[doc_id] == ref_sig(text), doc_id
    assert got[1] == got[2]  # case/tokenization-invariant
    assert got[1] != got[3]


def test_ivf_topk_recall_and_cell_exactness(spark, embeddings):
    """IVF coarse quantization: planted rank-1 near-duplicates are
    ~identical vectors, so probe and neighbor share a nearest centroid
    with high probability → recall@1 stays high at n_probe=1; and within
    the probe's cell the ranking must be exactly the brute-force ranking
    restricted to that cell (IVF never changes scores, only candidacy)."""
    probes = embeddings.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    exact1 = {
        (r["probe_id"], r["vec_id"])
        for r in ann.brute_force_topk(embeddings, probes, k=1).collect()
    }
    ivf = ann.ivf_topk(embeddings, probes, k=5, n_centroids=8).persist()
    got1 = {(r["probe_id"], r["vec_id"]) for r in ivf.where("rank = 1").collect()}
    recall = len(exact1 & got1) / len(exact1)
    assert recall >= 0.7, recall

    # cell-exactness: every IVF sim equals the brute-force sim for the pair
    bf = {
        (r["probe_id"], r["vec_id"]): r["sim"]
        for r in ann.brute_force_topk(embeddings, probes, k=10_000).collect()
    }
    for r in ivf.collect():
        assert abs(bf[(r["probe_id"], r["vec_id"])] - r["sim"]) < 1e-12
    ivf.unpersist()


@pytest.fixture(scope="module")
def boundary_embeddings(spark):
    """Planted IVF-boundary corpus: ids 0-7 are near-orthogonal anchor
    directions (they become ivf_topk's id-based centroids); every other
    point is a 2-anchor mixture 0.55*anchor_i + 0.5*anchor_j + noise, so
    its true neighbors (the rest of its mixture group) straddle the
    boundary between cells i and j — exactly the neighbors n_probe=1
    loses and n_probe=2 recovers."""
    rng = np.random.default_rng(7)
    anchors = rng.standard_normal((8, 64)).astype(np.float64)
    anchors /= np.linalg.norm(anchors, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in anchors[i]]) for i in range(8)]
    nid = 8
    for i in range(8):
        j = (i + 1) % 8
        for _ in range(12):
            v = 0.55 * anchors[i] + 0.5 * anchors[j]
            v = v + 0.03 * rng.standard_normal(64)
            rows.append((nid, [float(x) for x in v]))
            nid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_ivf_topk_nprobe_recall(spark, boundary_embeddings):
    """VERDICT r2 #5: n_probe multi-cell probing. With n_probe=2 each probe
    also searches its runner-up cell, recovering true neighbors that landed
    just across a cell boundary. Done-criteria: recall@10 >= 0.9 vs brute
    force on the planted fixture, strict improvement over n_probe=1, no
    duplicate (probe, vec) rows (cells are disjoint so the multi-cell union
    needs no dedup), and cell-exactness of the scores (IVF changes
    candidacy, never scores)."""
    emb = boundary_embeddings
    probes = emb.where((F.col("vec_id") >= 8) & (F.col("vec_id") < 28)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    exact10 = {}
    for r in ann.brute_force_topk(emb, probes, k=10).collect():
        exact10.setdefault(r["probe_id"], set()).add(r["vec_id"])

    def recall_at10(df):
        got = {}
        for r in df.where("rank <= 10").collect():
            got.setdefault(r["probe_id"], set()).add(r["vec_id"])
        hits = sum(len(exact10[p] & got.get(p, set())) for p in exact10)
        return hits / sum(len(v) for v in exact10.values())

    ivf1 = ann.ivf_topk(emb, probes, k=10, n_centroids=8, n_probe=1)
    ivf2 = ann.ivf_topk(emb, probes, k=10, n_centroids=8, n_probe=2).persist()
    r1, r2 = recall_at10(ivf1), recall_at10(ivf2)
    assert r2 >= 0.9, (r1, r2)
    assert r2 > r1, (r1, r2)

    # no duplicate candidates across the probed cells
    dups = ivf2.groupBy("probe_id", "vec_id").count().where("count > 1").count()
    assert dups == 0
    # cell-exactness at n_probe=2
    bf = {
        (r["probe_id"], r["vec_id"]): r["sim"]
        for r in ann.brute_force_topk(emb, probes, k=10_000).collect()
    }
    for r in ivf2.collect():
        assert abs(bf[(r["probe_id"], r["vec_id"])] - r["sim"]) < 1e-12
    ivf2.unpersist()


def test_ivf_topk_trained_centroids_recall(spark, boundary_embeddings):
    """VERDICT r3 #4: trained (Lloyd-refined) centroids. On the planted
    boundary fixture the id-based seeds are the raw anchors, so every
    mixture group straddles a cell boundary by construction; two
    deterministic k-means iterations move the centroids onto the mixture
    groups themselves, so a probe's true neighbors co-locate in its own
    cell. Done-criteria: recall@10 >= 0.95 at n_probe=2 with n_iters=2,
    no worse than the untrained quantizer, and the trained centroid table
    is deterministic (two fits are identical)."""
    emb = boundary_embeddings
    probes = emb.where((F.col("vec_id") >= 8) & (F.col("vec_id") < 28)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    exact10 = {}
    for r in ann.brute_force_topk(emb, probes, k=10).collect():
        exact10.setdefault(r["probe_id"], set()).add(r["vec_id"])

    def recall_at10(df):
        got = {}
        for r in df.where("rank <= 10").collect():
            got.setdefault(r["probe_id"], set()).add(r["vec_id"])
        hits = sum(len(exact10[p] & got.get(p, set())) for p in exact10)
        return hits / sum(len(v) for v in exact10.values())

    untrained = ann.ivf_topk(emb, probes, k=10, n_centroids=8, n_probe=2)
    trained = ann.ivf_topk(emb, probes, k=10, n_centroids=8, n_probe=2, n_iters=2)
    r_untrained, r_trained = recall_at10(untrained), recall_at10(trained)
    assert r_trained >= 0.95, (r_untrained, r_trained)
    assert r_trained >= r_untrained, (r_untrained, r_trained)

    # determinism: two independent fits produce the identical centroid table
    fit = lambda: sorted(  # noqa: E731
        (r["cent_id"], tuple(r["cent_vec"]))
        for r in ann.kmeans_centroids(emb, n_centroids=8, n_iters=2).collect()
    )
    assert fit() == fit()


def test_kmeans_sample_path(spark, boundary_embeddings):
    """The 100-TB fit-on-a-sample path: sample_n bounds the training set by
    the smallest md5(id) hashes — deterministic, partitioning-independent —
    and the fitted table still has one centroid per surviving cell with
    finite components."""
    cents = ann.kmeans_centroids(
        boundary_embeddings, n_centroids=8, n_iters=1, sample_n=40
    ).collect()
    assert 1 <= len(cents) <= 8
    for r in cents:
        assert len(r["cent_vec"]) == 64
        assert all(np.isfinite(v) for v in r["cent_vec"])
    again = ann.kmeans_centroids(
        boundary_embeddings, n_centroids=8, n_iters=1, sample_n=40
    ).collect()
    assert sorted(map(str, cents)) == sorted(map(str, again))


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------


def test_tfidf_top_terms_vs_hand_oracle(spark):
    import math
    import re

    from hexspark.ops.text import tfidf_top_terms

    corpus = {
        1: "apple banana apple cherry",
        2: "banana banana cherry",
        3: "cherry date elderberry date",
        4: "unique words only here",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = {
        (r["doc_id"], r["token"]): (r["tf"], r["df"], r["weight"])
        for r in tfidf_top_terms(df, k=2).collect()
    }

    # hand-computed: tf per doc, df per token, sklearn-smoothed idf
    tf = {
        (d, t): len([x for x in re.split(r"[^a-z0-9]+", s.lower()) if x == t])
        for d, s in corpus.items()
        for t in set(re.split(r"[^a-z0-9]+", s.lower()))
        if t
    }
    dfreq = {}
    for (_, t), c in tf.items():
        if c:
            dfreq[t] = dfreq.get(t, 0) + 1
    n = len(corpus)
    want = {}
    for d in corpus:
        terms = [
            (t, tf[(d, t)], dfreq[t],
             tf[(d, t)] * (math.log((n + 1) / (dfreq[t] + 1)) + 1))
            for (dd, t) in tf if dd == d and tf[(d, t)] > 0
        ]
        terms.sort(key=lambda x: (-x[3], x[0]))
        for t, f_, df_, wgt in terms[:2]:
            want[(d, t)] = (f_, df_, wgt)

    assert set(got) == set(want)
    for key, (f_, df_, wgt) in want.items():
        gf, gdf, gw = got[key]
        assert (gf, gdf) == (f_, df_), key
        assert gw == pytest.approx(wgt), key


def test_tfidf_k_rows_per_doc_and_no_udf(spark):
    from hexspark.ops.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(i, f"tok{i} common shared tok{i} extra{i % 3}") for i in range(20)],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, k=3)
    counts = out.groupBy("doc_id").count().collect()
    assert all(r["count"] <= 3 for r in counts) and len(counts) == 20
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
