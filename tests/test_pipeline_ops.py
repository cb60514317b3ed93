"""Tests for the training-data pipeline operators (text/dedup/
similarity/multimodal) over the driver's documents/embeddings tables."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from csp_spark.sources import read_table
from csp_spark import text as TX
from csp_spark import dedup as DD
from csp_spark.similarity import (
    cosine_topk, embedding_near_dups, infer_dim, lsh_index, lsh_topk,
)
from csp_spark.multimodal import (
    audio_features, frame_sample, image_features, image_resize,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, f"{SF}/embeddings.parquet")


def test_text_annotate(docs):
    out = TX.annotate(docs).limit(50).collect()
    for r in out:
        words = r["text"].split()
        assert r["n_tokens"] == len(words)
        assert r["n_chars_computed"] == len(r["text"])
        assert 0.0 <= r["quality"] <= 1.0
        assert r["lang_guess"] in TX.STOPWORDS
        exp_awl = sum(len(w) for w in words) / len(words)
        assert abs(r["avg_word_len"] - exp_awl) < 1e-5


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "goodbye world")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", TX.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "A  b C"), (3, "x y z")], "doc_id long, text string"
    )
    groups = DD.exact_duplicates(df).collect()
    assert len(groups) == 1 and groups[0]["member_ids"] == [1, 2]
    kept = sorted(r["doc_id"] for r in DD.dedup_exact(df).collect())
    assert kept == [1, 3]


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely unrelated text about something different entirely"),
        ],
        "doc_id long, text string",
    )
    pairs = DD.ngram_jaccard_pairs(df, shingle_k=8, threshold=0.5).collect()
    assert len(pairs) == 1
    assert (pairs[0]["id_a"], pairs[0]["id_b"]) == (1, 2)
    assert 0.5 < pairs[0]["jaccard"] < 1.0


@pytest.mark.slow
def test_minhash_lsh_finds_near_dups(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, "the quick brown fox jumps over the lazy dog " * 4 + "extra tail"),
        (3, "numbers and symbols fill this other document with noise " * 4),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = DD.minhash_lsh_pairs(df, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]
    # LSH candidates verified with exact jaccard → subset of ground truth
    truth = {(r["id_a"], r["id_b"]) for r in DD.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert {(r["id_a"], r["id_b"]) for r in got} <= truth


@pytest.mark.slow
def test_simhash(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 8),
            (2, "the quick brown fox jumps over the lazy dog " * 8 + "tail"),
            (3, "an entirely different corpus of legal boilerplate text " * 8),
        ],
        "doc_id long, text string",
    )
    pairs = DD.simhash_pairs(df, max_hamming=8).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in ids and (1, 3) not in ids and (2, 3) not in ids


def test_cosine_topk_vs_numpy(emb):
    pdf = emb.toPandas()
    q = list(pdf[pdf.vec_id == 0].embedding.iloc[0])
    got = cosine_topk(emb, q, k=5).collect()
    mat = np.array([list(v) for v in pdf.embedding], dtype=np.float64)
    qv = np.array(q, dtype=np.float64)
    sims = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    exp_ids = list(pdf.vec_id.iloc[np.argsort(-sims)][:5])
    assert [r["vec_id"] for r in got] == exp_ids
    assert got[0]["vec_id"] == 0 and abs(got[0]["cos_sim"] - 1.0) < 1e-6


def test_lsh_topk_recall(emb):
    pdf = emb.toPandas()
    q = list(pdf[pdf.vec_id == 3].embedding.iloc[0])
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_topk(emb, q, k=10, bits=6, probe_hamming=1).collect()]
    # the driver's embeddings are near-random (max off-self cosine ~0.34),
    # so LSH recall is bounded by the probed fraction — assert mechanism:
    # the probe finds the query itself, returns k rows, deterministically
    assert approx[0] == 3 and exact[0] == 3
    assert len(approx) == 10
    approx2 = [r["vec_id"] for r in lsh_topk(emb, q, k=10, bits=6, probe_hamming=1).collect()]
    assert approx == approx2
    # buckets bounded to [0, 2^bits); probing all buckets == exact search
    idx = lsh_index(emb, bits=6, dim=infer_dim(emb))
    assert idx.filter("bucket < 0 or bucket > 63").count() == 0
    full = [r["vec_id"] for r in lsh_topk(emb, q, k=10, bits=1, probe_hamming=1).collect()]
    assert full == exact  # 1 bit + 1-bit probe covers both buckets


@pytest.mark.slow
def test_embedding_near_dups_self(spark, emb):
    # duplicate a vector to guarantee one true near-dup pair
    dup = emb.filter("vec_id = 1").withColumn("vec_id", F.lit(9999).cast("long"))
    both = emb.unionByName(dup)
    pairs = embedding_near_dups(both, threshold=0.99, bits=6, dim=infer_dim(emb))
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 9999) in got
    # dim is required at plan-construction time — no hidden driver action
    with pytest.raises(ValueError, match="dim"):
        embedding_near_dups(both, threshold=0.99, bits=6)
    with pytest.raises(ValueError, match="dim"):
        lsh_index(both, bits=6)


@pytest.mark.slow
def test_multimodal_stub_pipeline(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"imagebytes-1"), 100), (2, bytearray(b"imagebytes-2"), 25)],
        "media_id long, payload binary, n_frames int",
    )
    feats = {r["media_id"]: r for r in image_features(media).collect()}
    assert set(feats) == {1, 2}
    assert feats[1]["mean_r"] == feats[1]["mean_g"]  # gray stub
    resized = image_resize(media, 8, 8).collect()
    assert all(len(bytes(r["payload"])) == 8 * 8 * 3 for r in resized)
    af = audio_features(media).collect()
    assert all(0.5 < r["rms"] < 0.9 for r in af)  # sine RMS ≈ 0.707
    frames = frame_sample(media, every_n=10).collect()
    assert len([f for f in frames if f["media_id"] == 1]) == 10
    assert len([f for f in frames if f["media_id"] == 2]) == 3


def _encode_png(img, color_type, filters):
    """Minimal PNG encoder for golden tests: bit depth 8, one IDAT,
    per-row filter bytes as given — filtering implemented from RFC
    2083 §6 so the decoder must invert it exactly."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = img.shape if img.ndim == 3 else (*img.shape, 1)
    flat = img.reshape(h, w * ch).astype(np.int32)
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        line = flat[y]
        enc = np.empty_like(line)
        for i in range(len(line)):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                enc[i] = line[i]
            elif f == 1:
                enc[i] = line[i] - a
            elif f == 2:
                enc[i] = line[i] - b
            elif f == 3:
                enc[i] = line[i] - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = line[i] - pred
        raw.append(f)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.slow
def test_png_decode_golden(spark):
    """The stdlib PNG decoder inverts every filter type bit-exactly on
    constructed images, across gray/RGB/RGBA color types — and the
    mapInPandas image pipeline consumes REAL PNG bytes end-to-end."""
    import numpy as np
    from csp_spark.multimodal import decode_png
    from csp_spark.multimodal.media import _decode_image

    rng = np.random.RandomState(5)
    rgb = rng.randint(0, 256, (11, 7, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = decode_png(_encode_png(rgb, 2, filters))
        assert np.array_equal(got, rgb), filters

    gray = rng.randint(0, 256, (5, 9), dtype=np.uint8)
    g3 = np.repeat(gray[..., None], 3, axis=2)
    assert np.array_equal(decode_png(_encode_png(gray[..., None], 0, [4])), g3)

    rgba = rng.randint(0, 256, (6, 4, 4), dtype=np.uint8)
    assert np.array_equal(
        decode_png(_encode_png(rgba, 6, [2, 4])), rgba[..., :3]
    )
    # injectable contract: PNG magic -> real decode; other bytes keep
    # the deterministic fake
    assert _decode_image(_encode_png(rgb, 2, [4])).shape == (11, 7, 3)
    assert _decode_image(b"not-a-png").shape == (4, 4, 3)

    media = spark.createDataFrame(
        [(1, bytearray(_encode_png(rgb, 2, [0, 1, 2, 3, 4])))],
        "media_id long, payload binary",
    )
    feats = image_features(media).collect()[0]
    assert abs(feats["mean_r"] - rgb[..., 0].mean()) < 1e-9
    assert abs(feats["mean_g"] - rgb[..., 1].mean()) < 1e-9


@pytest.mark.slow
def test_winnow_fingerprints(spark):
    # explicit tiny corpus: identical docs share the full fingerprint
    # set; a local edit perturbs only a bounded neighborhood of it
    base = "the quick brown fox jumps over the lazy dog again and again"
    edited = base.replace("jumps", "leaps")
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, edited)], "doc_id long, text string"
    )
    rows = TX.winnow_fingerprints(docs, k=5, w=3).collect()
    sets = {i: frozenset(r["fp"] for r in rows if r["id"] == i) for i in (1, 2, 3)}
    assert sets[1] == sets[2] and len(sets[1]) > 5
    # edit distance: most fingerprints survive a one-word change
    shared = len(sets[1] & sets[3]) / len(sets[1] | sets[3])
    assert 0.5 < shared < 1.0, shared
    # density: ~1/w of the shingle count
    n_shingles = len(" ".join(base.split())) - 4
    assert len(sets[1]) < n_shingles / 2


@pytest.mark.slow
def test_winnow_doubling_matches_bruteforce(spark):
    """The log-step doubling sliding-min (incl. odd w — uneven final
    step — and w=1) selects exactly the brute-force trailing-window
    minima, multiplicity preserved."""
    import hashlib

    txts = [
        (1, "a b c a b c a b c d e f g h i j k"),
        (2, "x y z z y x x y z w w w"),
        (3, "solo"),
        (4, ""),
    ]
    docs = spark.createDataFrame(txts, "doc_id long, text string")
    k = 3
    for w in (1, 2, 3, 5, 7):
        got = sorted(
            (r["id"], r["fp"])
            for r in TX.winnow_fingerprints(
                docs, k=k, w=w, hash_style="md5", distinct=False
            ).collect()
        )
        exp = []
        for i, t in txts:
            n = " ".join(t.split())
            hs = [
                hashlib.md5(n[p:p + k].encode()).hexdigest()
                for p in range(max(len(n) - k + 1, 1))
            ]
            for j, h in enumerate(hs):
                if h == min(hs[max(0, j - w + 1):j + 1]):
                    exp.append((i, h))
        assert got == sorted(exp), w


@pytest.mark.slow
def test_windowed_unkeyed_overflow_raises(spark):
    """Prefix-difference windows fail LOUD on |v| >= 1e17 (the
    DECIMAL(27,10) per-value domain) instead of silently skipping the
    value as the old sliding cast did at 1e18."""
    import datetime as dt

    import pytest as _pytest

    from csp_spark import TickStream
    from csp_spark.core.unkeyed import windowed_unkeyed

    rows = [
        ("g", dt.datetime(2024, 1, 1, 0, 0, i), i, v)
        for i, v in enumerate([2e17, 1.0, 2.0])
    ]
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"
    )
    x = TickStream.from_table(
        df, ts_col="ts", value_col="value", seq_col="seq", key_col="key"
    )
    with _pytest.raises(Exception, match="DECIMAL\\(27,10\\)"):
        windowed_unkeyed(x, 2, num_partitions=2).collect()
    # one decade below the bound stays exact
    ok = [
        ("g", dt.datetime(2024, 1, 1, 0, 0, i), i, v)
        for i, v in enumerate([9e16, None, 2.0])
    ]
    df2 = spark.createDataFrame(
        ok, "key string, ts timestamp, seq long, value double"
    )
    x2 = TickStream.from_table(
        df2, ts_col="ts", value_col="value", seq_col="seq", key_col="key"
    )
    got = {
        r["seq"]: (r["win_sum"], r["win_count"])
        for r in windowed_unkeyed(x2, 2, num_partitions=2).collect()
    }
    assert got == {0: (9e16, 1), 1: (9e16, 1), 2: (2.0, 1)}


@pytest.mark.slow
def test_ivf_topk_recall(spark):
    from csp_spark.similarity import cosine_topk, ivf_topk

    emb = read_table(spark, "/root/testdata/sf0.001/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 3).select("embedding").first()[0])
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(emb, q, k=10, n_cells=8, n_probe=3).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, (recall, exact, approx)
    # the query vector itself must always be found (it sits in its own cell)
    assert 3 in approx
    # sf0.01: top-10 must recover >= 8/10 of brute force, and the
    # quantizer trained on the md5-sampled subset (train_cap < corpus)
    # must keep that recall too
    from csp_spark.similarity import ivf_index, ivf_topk_indexed

    emb01 = read_table(spark, "/root/testdata/sf0.01/embeddings.parquet")
    q01 = list(emb01.filter(F.col("vec_id") == 7).select("embedding").first()[0])
    exact01 = {r["vec_id"] for r in cosine_topk(emb01, q01, k=10).collect()}
    approx01 = {r["vec_id"] for r in ivf_topk(
        emb01, q01, k=10, n_cells=8, n_probe=3).collect()}
    assert len(exact01 & approx01) >= 8, (exact01, approx01)
    idx, centers = ivf_index(emb01, n_cells=8, train_cap=200)  # sampled
    sampled = {r["vec_id"] for r in ivf_topk_indexed(
        idx, centers, q01, k=10, n_probe=3).collect()}
    assert len(exact01 & sampled) >= 8, (exact01, sampled)


@pytest.mark.slow
def test_image_phash_near_dups(spark):
    """Perceptual-hash image dedup with an injected structured decoder
    (the stub's flat-gray fake would make every hash degenerate): a
    noisy copy of an image hashes within a small hamming distance of
    the original and pairs up; a structurally different image does
    not. The distributed hash equals the local phash64 on the same
    pixels."""
    import numpy as np
    from csp_spark.multimodal import image_phash, phash64, phash_near_dups

    def synth(payload: bytes) -> np.ndarray:
        # deterministic structured image per payload: id byte selects
        # a smooth multi-frequency pattern (rich low-freq spectrum, so
        # coefficient signs sit well away from the median and survive
        # pixel noise — the regime pHash is built for), second byte
        # seeds mild noise
        pid, noise = payload[0], payload[1]
        y, x = np.mgrid[0:32, 0:32]
        if pid == 0:
            img = (128 + 60 * np.sin(x / 3.0) + 50 * np.cos(y / 4.0)
                   + 30 * np.sin((x + y) / 5.0))
        else:
            img = (128 + 60 * np.cos(x / 2.5) + 50 * np.sin(y / 3.5)
                   - 30 * np.sin((x - y) / 4.0))
        rng = np.random.RandomState(noise)
        img = img + rng.randint(0, 3, img.shape)     # tiny noise
        return np.clip(img, 0, 255).astype(np.uint8)

    rows = [
        (1, bytes([0, 0])),   # pattern A
        (2, bytes([0, 3])),   # pattern A + different tiny noise
        (3, bytes([1, 0])),   # pattern B
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    hashes = {r["media_id"]: r["phash"] for r in
              image_phash(media, decode=synth).collect()}
    # distributed == local
    for mid, payload in rows:
        assert hashes[mid] == phash64(synth(payload)), mid
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(hashes[1], hashes[2]) <= 6
    assert ham(hashes[1], hashes[3]) > 6
    pairs = [(r["id_a"], r["id_b"]) for r in
             phash_near_dups(media, decode=synth, max_hamming=6).collect()]
    assert pairs == [(1, 2)]


@pytest.mark.slow
def test_saved_pq_index_roundtrip(spark, tmp_path):
    """A persisted PQ index (codes table + codebook sidecar) answers
    pq_topk identically to the freshly-built index — no original
    vectors, no re-encode."""
    from csp_spark.similarity import (
        load_pq_index, pq_index, pq_topk, save_pq_index,
    )

    emb = read_table(spark, "/root/testdata/sf0.001/embeddings.parquet")
    enc, books = pq_index(emb, m=8, n_codes=32)
    q = list(emb.filter(F.col("vec_id") == 3).select("embedding").first()[0])
    ref = [(r["vec_id"], r["pq_sim"]) for r in
           pq_topk(enc, books, q, k=10).collect()]
    path = str(tmp_path / "pq")
    save_pq_index(enc.select("vec_id", "codes"), books, path)
    df, books2 = load_pq_index(spark, path)
    assert books2.shape == books.shape and (books2 == books).all()
    assert "embedding" not in df.columns  # codes only — m bytes/vector
    got = [(r["vec_id"], r["pq_sim"]) for r in
           pq_topk(df, books2, q, k=10).collect()]
    assert got == ref and len(got) == 10


@pytest.mark.slow
def test_bpe_train_and_apply(spark):
    """BPE on the Sennrich ACL'16 example corpus: the first merges are
    the known ones; applying the merges reproduces each word's
    concatenation; the tokenization round-trips deterministically."""
    from csp_spark.text import train_bpe, apply_bpe, EOW

    # low x5, lower x2, newest x6, widest x3 — the paper's worked example
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    merges = train_bpe(docs, n_merges=4, sample_cap=None)
    # pair counts: (e,s)=9, then (es,t)=9, (est,</w>)=9, (l,o)=7
    assert merges == [("e", "s"), ("es", "t"), ("est", EOW), ("l", "o")], merges

    out = apply_bpe(docs, merges).first()["bpe_tokens"]
    # every word's subwords concatenate back to word + EOW
    rebuilt = []
    cur = ""
    for s in out:
        cur += s
        if cur.endswith(EOW):
            rebuilt.append(cur[: -len(EOW)])
            cur = ""
    assert rebuilt == words
    # the learned suffix actually fuses: "newest" ends in one est</w> piece
    assert "est" + EOW in out
    # training is deterministic on re-run
    assert train_bpe(docs, n_merges=4, sample_cap=None) == merges
    # sampled training still yields usable merges on a larger corpus
    big = spark.createDataFrame(
        [(i, " ".join(words)) for i in range(50)], "doc_id long, text string"
    )
    sampled = train_bpe(big, n_merges=4, sample_cap=20, id_col="doc_id")
    assert sampled == merges


@pytest.mark.slow
def test_pq_adc_matches_reconstruction_and_recall(spark):
    """PQ/ADC: the Spark lut-scored similarity must equal the numpy
    cosine of (query, reconstructed-from-codes vector) — that verifies
    the whole encode/lut/score plumbing independently of KMeans
    quality; then recall vs brute force on the real embeddings."""
    import numpy as np
    from csp_spark.similarity import cosine_topk, pq_index, pq_topk

    emb = read_table(spark, "/root/testdata/sf0.001/embeddings.parquet")
    enc, books = pq_index(emb, m=8, n_codes=32)
    q = list(emb.filter(F.col("vec_id") == 3).select("embedding").first()[0])
    got = pq_topk(enc, books, q, k=1000).collect()

    m, n_codes, dsub = books.shape
    codes = {r["vec_id"]: r["codes"] for r in enc.select("vec_id", "codes").collect()}
    qv = np.asarray(q)
    for r in got:
        rec = np.concatenate([books[j][codes[r["vec_id"]][j]] for j in range(m)])
        want = float(qv @ rec / (np.linalg.norm(qv) * np.linalg.norm(rec)))
        assert abs(r["pq_sim"] - round(want, 6)) < 1e-9, (r, want)

    exact = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
    approx = [r["vec_id"] for r in pq_topk(enc, books, q, k=30).collect()]
    # PQ at 16x compression: the true top-10 should largely surface in
    # the re-rank pool (the standard PQ-then-rerank usage)
    assert len(exact & set(approx)) >= 6, (exact, approx)
    assert 3 in approx  # the query's own vector reconstructs closest


@pytest.mark.slow
def test_pq_encode_expr_matches_arrow_encode(spark):
    """The pure-expression encode (pq_encode_expr) must produce the
    SAME codes as pq_index's Arrow/numpy encode for identical
    codebooks, and hash_codebooks must regenerate identical books."""
    import numpy as np
    from csp_spark.similarity import hash_codebooks, pq_encode_expr

    emb = read_table(spark, "/root/testdata/sf0.001/embeddings.parquet")
    books = hash_codebooks(4, 16, 16, seed=7)
    assert np.array_equal(books, hash_codebooks(4, 16, 16, seed=7))

    expr_codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode_expr(emb, books).select("vec_id", "codes").collect()
    }
    # numpy replay of pq_index's encode kernel with the same books
    rows = emb.select("vec_id", "embedding").collect()
    V = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    m, n_codes, dsub = books.shape
    flat = books.reshape(m * n_codes, dsub)
    cn2 = (flat ** 2).sum(axis=1)
    for j in range(m):
        S = V[:, j * dsub:(j + 1) * dsub]
        blk = slice(j * n_codes, (j + 1) * n_codes)
        d2 = cn2[blk][None, :] - 2.0 * (S @ flat[blk].T)
        want = d2.argmin(axis=1)
        for i, r in enumerate(rows):
            assert expr_codes[r["vec_id"]][j] == want[i], (r["vec_id"], j)


# ---------------------------------------------------------------- round 3


def test_connected_components_basic(spark):
    from csp_spark.dedup import connected_components

    # chain 1-2-3, clique 10-11-12, isolated pair (20,21): transitivity
    # must collapse the chain even though (1,3) is not a pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain(spark):
    from csp_spark.dedup import connected_components

    n = 40  # path graph: worst case for label propagation depth
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = connected_components(pairs, max_iter=25).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == n + 1


def test_resolve_duplicates_flags(spark):
    from csp_spark.dedup import resolve_duplicates

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 4), (4, 5)], "id_a long, id_b long")
    out = {r["doc_id"]: (r["component"], r["is_canonical"])
           for r in resolve_duplicates(docs, pairs).collect()}
    assert out[1] == (1, True) and out[4] == (1, False) and out[5] == (1, False)
    # untouched docs survive as their own singleton component
    assert out[0] == (0, True) and out[2] == (2, True) and out[3] == (3, True)


def test_hash_split_deterministic_and_partition_independent(docs):
    from csp_spark.pipeline import hash_split

    a = hash_split(docs, "doc_id", seed=3).select("doc_id", "split")
    b = hash_split(docs.repartition(7), "doc_id", seed=3).select("doc_id", "split")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    frac = a.filter(F.col("split") == "train").count() / a.count()
    assert 0.8 < frac < 0.97  # ~0.9 by construction


def test_deterministic_sample_nested(docs):
    from csp_spark.pipeline import deterministic_sample

    small = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.2).collect()}
    big = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.6).collect()}
    assert small <= big  # same hash, larger threshold → superset
    assert 0 < len(small) < len(big) < docs.count()


def test_stratified_sample_thresholds(docs):
    from csp_spark.pipeline import stratified_sample

    out = stratified_sample(
        docs, "doc_id", "lang", {"en": 1.0}, default_fraction=0.0
    )
    # en fully kept, everything else dropped
    assert out.filter(F.col("lang") != "en").count() == 0
    assert out.count() == docs.filter(F.col("lang") == "en").count()


def test_knn_join_vs_numpy(emb):
    from csp_spark.similarity import knn_join

    q = emb.filter(F.col("vec_id") % 25 == 0)
    out = knn_join(
        q.select(F.col("vec_id").alias("qid"), "embedding"),
        emb.select(F.col("vec_id").alias("cid"), "embedding"),
        k=3, query_id="qid", corpus_id="cid",
    ).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["cid"], r["cos_sim"]))
    assert len(by_q) == q.count()
    for qid, rows in by_q.items():
        rows.sort()
        qv = vecs[qid]
        sims = sorted(
            (
                round(float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v))), 6),
                cid,
            )
            for cid, v in vecs.items() if cid != qid
        )
        expect = [(-s, c) for s, c in [(-s, c) for s, c in sims]]
        top = sorted(((-s, c) for s, c in sims))[:3]
        got = [(-r[2], r[1]) for r in rows]
        assert [c for _, c in top] == [c for _, c in got]
        for (es, _), (gs, _) in zip(top, got):
            assert math.isclose(-es, -gs, abs_tol=2e-6)


def test_repetition_stats_golden(spark):
    """Golden-value check on constructed docs (reference test style:
    small wired input, exact expected output)."""
    rows = [
        (1, "a b a b a b"),          # dup words 4/6; top bigram 'a b' 3/5
        (2, "x y z"),                # no repetition
        (3, "line\nline\nother"),    # dup lines 1/3
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in TX.repetition_stats(docs, n=2).collect()}
    tol = 1e-6  # outputs are rounded to 6 dp
    assert abs(out[1]["dup_word_frac"] - (1 - 2 / 6)) < tol
    assert abs(out[1]["top_ngram_frac"] - 3 / 5) < tol
    assert out[2]["dup_word_frac"] == 0.0
    assert abs(out[2]["top_ngram_frac"] - 1 / 2) < tol
    assert abs(out[3]["dup_line_frac"] - (1 - 2 / 3)) < tol


def test_chunk_documents_coverage(spark):
    """Every token lands in ≥1 chunk; consecutive chunks overlap by
    exactly `overlap` when full; no chunk is contained in its
    predecessor; reassembling strides reproduces the document."""
    text = " ".join(f"w{i}" for i in range(150))
    docs = spark.createDataFrame([(1, text), (2, "a b c")], ["doc_id", "text"])
    ch = TX.chunk_documents(docs, chunk_tokens=64, overlap=16)
    rows = sorted(ch.collect(), key=lambda r: (r["doc_id"], r["chunk_id"]))
    d1 = [r for r in rows if r["doc_id"] == 1]
    # starts at 0, 48, 96 → 150 tokens: chunks of 64, 64, 54
    assert [r["chunk_id"] for r in d1] == [0, 1, 2]
    assert [r["n_chunk_tokens"] for r in d1] == [64, 64, 54]
    toks = d1[0]["chunk_text"].split()
    toks2 = d1[1]["chunk_text"].split()
    assert toks[48:] == toks2[:16]  # overlap region agrees
    # stride-assembled tokens reproduce the document exactly
    assembled = toks + toks2[16:] + d1[2]["chunk_text"].split()[16:]
    assert assembled == text.split()
    # short doc: single chunk, no phantom second chunk
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["n_chunk_tokens"] == 3


def test_redact_pii_golden(spark):
    rows = [
        (1, "mail me at jane.doe+x@corp.example.com or call +1 (555) 123-4567"),
        (2, "server 192.168.10.254 holds ssn 123-45-6789"),
        (3, "no pii here at all"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in docs.select(
        "doc_id",
        TX.redact_pii(F.col("text")).alias("clean"),
        TX.pii_counts(F.col("text")).alias("counts"),
    ).collect()}
    assert out[1]["clean"] == "mail me at [EMAIL] or call [PHONE]"
    assert out[1]["counts"]["email"] == 1 and out[1]["counts"]["phone"] == 1
    assert out[2]["clean"] == "server [IPV4] holds ssn [SSN]"
    assert out[2]["counts"]["ipv4"] == 1 and out[2]["counts"]["ssn"] == 1
    # precedence: the SSN digit-run must NOT double-count as a phone —
    # counts mirror exactly what redact_pii replaces
    assert out[2]["counts"]["phone"] == 0
    assert out[3]["clean"] == "no pii here at all"
    assert sum(out[3]["counts"]) == 0


# ---------------------------------------------------------------- round 4


def test_boilerplate_lines_and_removal(spark):
    """CCNet-style cross-document line dedup: lines repeated across
    >= min_docs distinct docs are censused and stripped, order of the
    surviving lines preserved; all-boilerplate docs come back empty."""
    footer = "follow us on social media"
    cookie = "this site uses cookies"
    docs = spark.createDataFrame(
        [
            (1, f"alpha body one\n{cookie}\nunique tail 1\n{footer}"),
            (2, f"{cookie}\nbeta body two\n{footer}"),
            (3, f"gamma body three\n{footer}"),
            (4, f"{cookie}\n{footer}"),           # nothing but boilerplate
            (5, "delta body five"),               # untouched
        ],
        "doc_id long, text string",
    )
    bp = {r["line"]: r["n_docs"]
          for r in TX.boilerplate_lines(docs, min_docs=3).collect()}
    assert bp == {footer: 4, cookie: 3}
    out = {r["doc_id"]: r for r in
           TX.remove_boilerplate(docs, min_docs=3).collect()}
    assert out[1]["text"] == "alpha body one\nunique tail 1"
    assert out[1]["n_removed"] == 2
    assert out[2]["text"] == "beta body two" and out[2]["n_removed"] == 2
    assert out[3]["text"] == "gamma body three"
    assert out[4]["text"] == "" and out[4]["n_removed"] == 2
    assert out[5]["text"] == "delta body five" and out[5]["n_removed"] == 0
    # min_docs=2 also catches the footer-only pair overlap
    bp2 = {r["line"] for r in TX.boilerplate_lines(docs, min_docs=2).collect()}
    assert bp2 == {footer, cookie}


@pytest.mark.slow
def test_decontaminate_ngram_overlap(spark):
    """GPT-3-style eval-set decontamination: docs sharing >= k distinct
    word n-grams with any eval doc are flagged; normalization makes
    case/whitespace variants collide; short docs can't match."""
    base = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {base} closing words"),   # contains eval text
            (2, "совершенно unrelated text with many many words in a row ok"),
            (3, "THE  Quick   Brown Fox JUMPS over the lazy dog tonight"),  # case/ws variant
            (4, "too short to match"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame([(base,)], "text string")
    out = {r["doc_id"]: r for r in
           TX.decontaminate(docs, evals, n=8, min_matches=1).collect()}
    assert out[1]["contaminated"] and out[1]["n_matches"] >= 1
    assert not out[2]["contaminated"] and out[2]["n_matches"] == 0
    assert out[3]["contaminated"]  # normalization collides the variant
    assert not out[4]["contaminated"]
    # threshold: require more matches than doc 3 shares
    strict = {r["doc_id"]: r for r in
              TX.decontaminate(docs, evals, n=10, min_matches=2).collect()}
    assert strict[4]["n_matches"] == 0
    assert len(strict) == 4  # every doc is reported, flagged or not


@pytest.mark.slow
def test_repeated_spans(spark):
    """Lee-et-al-style exact repeated-substring dedup: duplicated
    k-gram cover intervals merge into spans; the globally-first
    occurrence is exempt (one canonical copy survives); within-doc
    repeats are caught too."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, f"unique one {shared} tail one"),
            (2, f"other start here {shared} and more words beyond"),
            (3, "totally different text with no duplication at all whatsoever"),
            (4, f"{shared} {shared} double up"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in TX.repeated_spans(docs, k=5).collect()
    }
    # doc 1 holds the minimal occurrence of every shared gram — exempt
    assert 1 not in spans and 3 not in spans
    # doc 2: shared sits at tokens 4..13; covered exactly
    assert spans[2] == (4, 14)
    # doc 4: both copies merge into one span over tokens 1..20
    assert spans[4] == (1, 21)
    out = {r["doc_id"]: r for r in
           TX.remove_repeated_spans(docs, k=5).collect()}
    assert out[1]["n_removed_tokens"] == 0
    assert out[2]["text"] == "other start here and more words beyond"
    assert out[2]["n_removed_tokens"] == 10
    assert out[4]["text"] == "double up" and out[4]["n_removed_tokens"] == 20
    # keep_first=False removes every duplicated occurrence everywhere
    all_gone = {r["doc_id"]: r for r in
                TX.remove_repeated_spans(docs, k=5, keep_first=False).collect()}
    assert all_gone[1]["n_removed_tokens"] == 10
    assert all_gone[3]["n_removed_tokens"] == 0


@pytest.mark.slow
def test_lm_scores(spark):
    """Bigram add-k LM self-perplexity equals a pure-Python fold; the
    statistical-outlier doc scores worse than the repetitive ones."""
    import math
    from collections import Counter

    texts = {
        1: "the cat sat on the mat the cat sat again",
        2: "the cat sat on the mat the cat slept",
        3: "zq xw vv kj qpr mno zzz yyy xxx www",
        4: "tiny",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.lm_scores(docs, n=2, add_k=1.0).collect()}

    toks = {i: t.split() for i, t in texts.items()}
    grams = Counter(g for t in toks.values() for g in zip(t, t[1:]))
    ctxs = Counter(w for t in toks.values() for w in t)
    V = len(set(w for t in toks.values() for w in t))
    for i, t in toks.items():
        bi = list(zip(t, t[1:]))
        if not bi:
            assert out[i]["n_grams"] == 0 and out[i]["avg_nll"] is None
            continue
        want = -sum(
            math.log((grams[g] + 1.0) / (ctxs[g[0]] + V)) for g in bi
        ) / len(bi)
        assert abs(out[i]["avg_nll"] - want) < 1e-12, (i, out[i]["avg_nll"], want)
        assert out[i]["n_grams"] == len(bi)
    assert out[3]["avg_nll"] > out[1]["avg_nll"]
    # external LM corpus: unseen grams get pure smoothing mass
    lm = docs.filter(F.col("doc_id") != 3)
    ext = {r["doc_id"]: r for r in
           TX.lm_scores(docs, n=2, add_k=1.0, lm_docs=lm).collect()}
    assert ext[3]["avg_nll"] > ext[1]["avg_nll"]


@pytest.mark.slow
def test_term_stats_and_tfidf(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "banana cherry cherry date"),
            (3, "apple elderberry"),
        ],
        "doc_id long, text string",
    )
    stats = {r["token"]: (r["df"], r["tf"])
             for r in TX.term_stats(docs).collect()}
    assert stats["apple"] == (2, 3)
    assert stats["banana"] == (2, 2)
    assert stats["cherry"] == (2, 3)
    assert stats["date"] == (1, 1) and stats["elderberry"] == (1, 1)
    assert {r["token"] for r in TX.term_stats(docs, min_df=2).collect()} == \
        {"apple", "banana", "cherry"}
    # tfidf: rare tokens outrank common ones at equal term frequency
    import math as _m
    top = {(r["doc_id"], r["rank"]): (r["token"], r["tfidf"])
           for r in TX.doc_tfidf(docs, top_k=2).collect()}
    # doc 1: apple tf_d=2 (df=2) beats cherry tf_d=1
    assert top[(1, 1)][0] == "apple"
    exp = 2 * (_m.log(4 / 3) + 1)
    assert abs(top[(1, 1)][1] - round(exp, 6)) < 1e-9
    # doc 3: elderberry (df=1) outranks apple (df=2) at tf_d=1 each
    assert top[(3, 1)][0] == "elderberry"


@pytest.mark.slow
def test_quality_classifier_scores(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "delta epsilon zeta eta theta"), (4, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["quality_score"]
           for r in TX.quality_classifier_scores(docs, seed=13).collect()}
    assert len(out) == 4
    # deterministic: identical docs score identically, scores in (0,1)
    assert out[1] == out[2]
    assert all(0.0 < v < 1.0 for k, v in out.items() if k != 4)
    assert out[4] == 0.5  # empty doc -> mean 0 -> sigmoid(0)
    # partitioning-independent (DECIMAL-exact mean)
    out2 = {r["doc_id"]: r["quality_score"]
            for r in TX.quality_classifier_scores(
                docs.repartition(17), seed=13).collect()}
    assert out == out2
    # a different seed is a different model
    out3 = {r["doc_id"]: r["quality_score"]
            for r in TX.quality_classifier_scores(docs, seed=14).collect()}
    assert out3[1] != out[1]


@pytest.mark.slow
def test_saved_ivf_index_prunes_partitions(spark, emb, tmp_path):
    """The persisted, cell-partitioned IVF index answers queries
    identically to the in-memory path AND its probe filter reaches the
    scan as a PARTITION filter — the reader lists only the probed cell
    directories (the 100 TB pruning contract, asserted on the plan)."""
    from csp_spark.similarity import (
        ivf_index, ivf_topk, ivf_topk_indexed, load_index, save_index,
    )

    path = str(tmp_path / "ivf")
    indexed, centers = ivf_index(emb, n_cells=8)
    save_index(indexed, path, partition_col="cell", centers=centers)
    df, centers2 = load_index(spark, path)
    assert centers2.shape == centers.shape and (centers2 == centers).all()
    q = list(emb.filter(F.col("vec_id") == 3).select("embedding").first()[0])
    got = [(r["vec_id"], r["cos_sim"]) for r in
           ivf_topk_indexed(df, centers2, q, k=10, n_probe=3).collect()]
    ref = [(r["vec_id"], r["cos_sim"]) for r in
           ivf_topk(emb, q, k=10, n_cells=8, n_probe=3).collect()]
    assert got == ref and len(got) == 10
    # the probe filter is a PartitionFilters entry on the file scan —
    # not a post-scan Filter over all cells — and the EXECUTED scan's
    # own metrics show only the probed partitions were read
    probed = ivf_topk_indexed(df, centers2, q, k=10, n_probe=3)
    probed.collect()
    ex = probed._jdf.queryExecution().executedPlan()
    plan = ex.toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters")[1][:200]

    def find_scan(node):
        if "Scan" in node.nodeName():
            return node
        for i in range(node.children().length()):
            r = find_scan(node.children().apply(i))
            if r is not None:
                return r
        return None

    m = find_scan(ex).metrics()
    assert m.apply("numPartitions").value() <= 3  # of 8 cells
    assert m.apply("numFiles").value() <= 3 * 4


@pytest.mark.slow
def test_hard_negatives(spark, emb):
    """Hard-negative mining: n_clusters=1 equals the exact numpy
    all-pairs top-k on the 6dp-rounded cosine with id tiebreak;
    exclude_eps removes near-dup 'false negatives'; the clustered
    form only ever pairs within a cell."""
    import numpy as np

    from csp_spark.similarity import hard_negatives, ivf_index

    K = 3
    got = {}
    for r in hard_negatives(emb, k=K, n_clusters=1).collect():
        got.setdefault(r["anchor"], []).append(
            (r["rank"], r["negative"], r["cos_sim"]))
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = np.round(Vn @ Vn.T, 6)
    for i, a in enumerate(ids):
        cand = sorted(
            ((-S[i, j], ids[j]) for j in range(len(ids)) if j != i)
        )[:K]
        want = [(rk + 1, int(nid), float(-negc))
                for rk, (negc, nid) in enumerate(cand)]
        assert sorted(got[int(a)]) == want, a
    # exclude_eps drops the planted-style exact dup pairs (cos >= eps)
    ex = hard_negatives(emb, k=K, n_clusters=1, exclude_eps=0.99)
    assert all(r["cos_sim"] < 0.99 for r in ex.collect())
    # clustered form: every (anchor, negative) pair shares a cell
    hn = hard_negatives(emb, k=K, n_clusters=4)
    indexed, _ = ivf_index(
        emb.selectExpr("vec_id as id", "cast(embedding as array<double>) as v"),
        n_cells=4, id_col="id", vec_col="v")
    cell = {r["id"]: r["cell"] for r in indexed.select("id", "cell").collect()}
    prs = hn.select("anchor", "negative").collect()
    assert len(prs) > 0
    assert all(cell[r["anchor"]] == cell[r["negative"]] for r in prs)
    # frozen-index path: passing the SAME assignment as cell_assignment
    # (the saved-index / ivf_assign shape) reproduces the internal
    # clustering's result exactly, with no KMeans in the mining plan
    assign = indexed.selectExpr("id as vec_id", "cell")
    hn2 = hard_negatives(emb, k=K, cell_assignment=assign)
    a = sorted(tuple(r) for r in hn.collect())
    b = sorted(tuple(r) for r in hn2.collect())
    assert a == b


from tests.conftest import load_module as _load_module  # noqa: E402


@pytest.mark.slow
def test_composed_curation_plan_pin(spark, tmp_path):
    """The composed-plan pin (r8 verdict item 6): C4 line cleaning →
    SemDeDup → next-fit packing → training shards composed as one
    chain keeps a CONSTANT exchange budget — exactly the sum of its
    parts (semdedup's cluster machinery, one survivor semi-join, one
    pack groupBy(shard)), nothing added by composition — with zero
    cartesian products and zero row-at-a-time Python UDFs."""
    ex = _load_module("examples/04_curation_pipeline.py", "ex04_mod")
    pa = _load_module("tools/plan_audit.py", "plan_audit_mod")

    df = ex.composed_curation(spark)
    a = pa.audit(df)
    assert a["cartesian"] == 0
    assert a["row_udf"] == 0
    # pinned: 1 semdedup shuffle + 1 survivor semi-join + 1 pack
    # groupBy(shard); a regression that un-fuses the zero-shuffle
    # bundles (C4 scan, token_count, offsets) shows up here
    assert a["exchanges"] == 3, a
    # two Arrow passes, both documented kernels: the pack fold and
    # (since the r9 numpy ivf_index) semdedup's ivf_assign cell matmul,
    # which replaced MLlib's JVM transform — still batched, never
    # row-at-a-time, and zero additional exchanges
    assert a["arrow_udf"] == 2, a
    n = df.count()
    assert n > 0
    # every C4 survivor packs exactly once, offsets stay inside budget
    assert df.select("doc_id").distinct().count() == n
    assert df.filter(F.col("offset") + F.col("n_tokens")
                     > 256).filter(F.col("offset") > 0).count() == 0
    # the shard write runs end-to-end and preserves seq order per file
    out = str(tmp_path / "shards")
    ex.composed_curation(spark, shards_path=out)
    files = [f for f in __import__("os").listdir(out)
             if f.endswith(".parquet")]
    assert files
    back = spark.read.parquet(out)
    assert back.count() == n


def test_hard_negatives_over_cap(spark, emb):
    """Over-cap cells must NOT inherit dedup's star-reroute (that
    preserves connectivity, not per-anchor top-k): the default raises
    with guidance; on_over_cap='sample' ranks each anchor against a
    deterministic md5 candidate sample so every anchor stays served
    with true top-k-of-sample semantics."""
    from csp_spark.similarity import hard_negatives

    small = emb.filter(F.col("vec_id") < 40)
    # 2 clusters over 40 vectors with cap=5 → guaranteed over-cap
    with pytest.raises(RuntimeError, match="n_clusters"):
        hard_negatives(small, k=2, n_clusters=2, cap=5).collect()
    with pytest.raises(ValueError, match="on_over_cap"):
        hard_negatives(small, k=2, n_clusters=2, cap=5,
                       on_over_cap="star")
    got = hard_negatives(
        small, k=2, n_clusters=2, cap=5, on_over_cap="sample"
    ).collect()
    # every anchor is served (cells have > cap members, so every
    # anchor sees a non-empty candidate sample with high probability;
    # assert at least 90% coverage and correct per-anchor rank shape)
    anchors = {}
    for r in got:
        anchors.setdefault(r["anchor"], []).append(r["rank"])
    assert len(anchors) >= 36
    for a, rks in anchors.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 2
        assert a not in [r["negative"] for r in got if r["anchor"] == a]
    # sampled mode ranks true cosines: spot-check values against numpy
    import numpy as np

    vecs = {r["vec_id"]: np.asarray(list(r["embedding"]), dtype=np.float64)
            for r in small.collect()}
    for r in got[:20]:
        va, vb = vecs[r["anchor"]], vecs[r["negative"]]
        want = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)
        assert abs(r["cos_sim"] - want) < 2e-6


def test_ivf_assign_guards(spark, emb):
    """Empty Arrow batches pass through (a 0-row batch would
    otherwise make a 1-D (0,) array and break the matmul); NULL or
    ragged vectors fail with an actionable message instead of an
    opaque executor shape error."""
    import numpy as np

    from csp_spark.similarity import ivf_assign, ivf_index

    _, centers = ivf_index(emb.filter(F.col("vec_id") < 100), n_cells=4)
    # 3 rows over 8 partitions → most partitions are empty batches
    tiny = emb.filter(F.col("vec_id") < 3).repartition(8)
    got = ivf_assign(tiny, centers).collect()
    assert len(got) == 3
    for r in got:
        v = np.asarray(list(r["embedding"]), dtype=np.float64)
        assert int(((centers - v) ** 2).sum(axis=1).argmin()) == r["cell"]
    def _expect_labeled_raise(df, pattern):
        # under heavy ambient load a dying Python worker can surface
        # as an EOFError/socket crash BEFORE the labeled ValueError
        # propagates; retry once on that channel-level noise — a real
        # labeling regression still fails (the retry demands the
        # pattern too)
        import re as _re

        for attempt in range(2):
            try:
                df.collect()
                raise AssertionError("expected a labeled error")
            except AssertionError:
                raise
            except Exception as e:
                if _re.search(pattern, str(e)):
                    return
                if attempt == 0 and _re.search(
                    "EOFError|SocketException|Connection reset|"
                    "Python worker exited", str(e)
                ):
                    continue
                raise

    # NULL vector → loud, labeled error
    bad = spark.createDataFrame(
        [(0, [0.1] * centers.shape[1]), (1, None)],
        "vec_id long, embedding array<double>",
    )
    _expect_labeled_raise(ivf_assign(bad, centers), "NULL|ragged")
    # ragged vector → loud, labeled error
    ragged = spark.createDataFrame(
        [(0, [0.1] * centers.shape[1]), (1, [0.1, 0.2])],
        "vec_id long, embedding array<double>",
    )
    _expect_labeled_raise(
        ivf_assign(ragged, centers), "fixed-dimension|ragged")


@pytest.mark.slow
def test_ivf_assign_incremental_append(spark, emb, tmp_path):
    """ivf_assign: new vectors land in the numpy-nearest cell of the
    FROZEN quantizer via one Arrow-batched matmul per batch (no
    KMeans job, no per-row Python), and appending the assigned
    increment to a saved index keeps queries and partition pruning
    working over the grown corpus."""
    import numpy as np

    from csp_spark.similarity import (
        ivf_assign, ivf_index, ivf_topk_indexed, load_index, save_index,
    )

    base = emb.filter(F.col("vec_id") % 2 == 0)
    inc = emb.filter(F.col("vec_id") % 2 == 1)
    indexed, centers = ivf_index(base, n_cells=8)
    assigned = ivf_assign(inc, centers)
    # exact agreement with the numpy nearest-centroid rule (margins on
    # real data are far above ulp noise)
    rows = assigned.select("vec_id", "embedding", "cell").collect()
    for r in rows:
        v = np.asarray(list(r["embedding"]), dtype=np.float64)
        d2 = ((centers - v) ** 2).sum(axis=1)
        assert int(d2.argmin()) == r["cell"], r["vec_id"]
    # one Arrow exchange (MapInPandas), never a row-at-a-time UDF
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan
    # append the assigned increment to the saved layout; the grown
    # index still answers and still prunes
    path = str(tmp_path / "ivf_inc")
    save_index(indexed, path, partition_col="cell", centers=centers)
    assigned.write.mode("append").partitionBy("cell").parquet(path)
    df, centers2 = load_index(spark, path)
    assert df.count() == emb.count()
    q = list(emb.filter(F.col("vec_id") == 3).select("embedding").first()[0])
    got = ivf_topk_indexed(df, centers2, q, k=10, n_probe=3)
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters")[1][:200]


@pytest.mark.slow
def test_bucketed_tables_eliminate_join_shuffle(spark, tmp_path):
    """Two tables bucketed the same way on the join key plan their
    join with ZERO exchanges (the write-once co-location contract);
    the same join over plain parquet shuffles both sides."""
    from csp_spark.pipeline.storage import (
        exchanges_in_plan, write_bucketed_table,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.range(0, 1000).selectExpr(
            "id AS doc_id", "CAST(id % 97 AS DOUBLE) AS score")
        meta = spark.range(0, 1000).selectExpr(
            "id AS doc_id", "concat('lang', id % 5) AS lang")
        write_bucketed_table(docs, "t_docs_b", "doc_id", num_buckets=4,
                             sort_by="doc_id")
        write_bucketed_table(meta, "t_meta_b", "doc_id", num_buckets=4,
                             sort_by="doc_id")
        a, b = spark.table("t_docs_b"), spark.table("t_meta_b")
        joined = a.join(b, "doc_id")
        assert joined.count() == 1000
        assert exchanges_in_plan(joined) == 0, "bucketed join must not shuffle"
        # keyed aggregation on the bucket key is exchange-free too
        agg = a.groupBy("doc_id").count()
        agg.collect()
        assert exchanges_in_plan(agg) == 0
        # baseline: the identical unbucketed join shuffles both sides
        p1, p2 = str(tmp_path / "d"), str(tmp_path / "m")
        docs.write.parquet(p1)
        meta.write.parquet(p2)
        plain = spark.read.parquet(p1).join(spark.read.parquet(p2), "doc_id")
        plain.count()
        assert exchanges_in_plan(plain) >= 2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_meta_b")


@pytest.mark.slow
def test_simhash_block_combination_tables(spark):
    """The Manku block-combination layout (n_blocks > d+1) returns the
    SAME pairs as the single-block pigeonhole — recall is 100% in both,
    exact hamming verification last — while keying tables on wider
    block combinations; invalid layouts fail at build."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 8),
            (2, "the quick brown fox jumps over the lazy dog " * 8 + "tail"),
            (3, "an entirely different corpus of legal boilerplate text " * 8),
            (4, "the quick brown fox jumps over the lazy dog " * 8 + "other end"),
        ],
        "doc_id long, text string",
    )
    base = {(r["id_a"], r["id_b"], r["hamming"])
            for r in DD.simhash_pairs(df, max_hamming=8).collect()}
    for k in (9, 10, 11):  # C(9,1)=9, C(10,2)=45, C(11,3)=165 tables
        manku = {(r["id_a"], r["id_b"], r["hamming"])
                 for r in DD.simhash_pairs(df, max_hamming=8,
                                           n_blocks=k).collect()}
        assert manku == base, k
    with pytest.raises(ValueError, match="exceed max_hamming"):
        DD.simhash_pairs(df, max_hamming=8, n_blocks=8)
    with pytest.raises(ValueError, match="tables"):
        DD.simhash_pairs(df, max_hamming=8, n_blocks=30)


# ---------------------------------------------------------------------------
# degenerate LSH buckets (dedup/dedup.py _capped_bucket_pairs)


def _boilerplate_corpus(spark, n, extra_rows=()):
    """n byte-identical docs (one boilerplate family — every LSH band
    bucket holds all n of them) plus optional distinct rows."""
    base = "terms of service apply to all users of this web site " * 3
    rows = [(i, base) for i in range(n)] + list(extra_rows)
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.slow
def test_minhash_degenerate_bucket_capped(spark):
    """An adversarial corpus putting thousands of docs into ONE
    (band, bucket) must not go |bucket|^2: with the cap, the emitted
    pair set is the O(n) star over the exact-signature group — n-1
    pairs, all anchored at the min id, still one connected component."""
    n = 2000
    df = _boilerplate_corpus(spark, n)
    pairs = DD.minhash_lsh_pairs(
        df, threshold=0.5, bucket_cap=50
    ).collect()
    assert len(pairs) == n - 1  # O(n), not n*(n-1)/2 = 1_999_000
    assert all(r["id_a"] == 0 and abs(r["jaccard"] - 1.0) < 1e-9
               for r in pairs)
    assert sorted(r["id_b"] for r in pairs) == list(range(1, n))


@pytest.mark.slow
def test_minhash_cap_keeps_outside_pairs(spark):
    """Docs OUTSIDE the degenerate bucket keep exact pair enumeration
    — the reroute applies per-bucket, not globally."""
    extra = [
        (100_001, "the quick brown fox jumps over the lazy dog " * 4),
        (100_002, "the quick brown fox jumps over the lazy dog " * 4 + "tail"),
        (100_003, "unrelated noise filler text about nothing important " * 4),
    ]
    df = _boilerplate_corpus(spark, 500, extra)
    got = {(r["id_a"], r["id_b"])
           for r in DD.minhash_lsh_pairs(
               df, threshold=0.5, bucket_cap=50).collect()}
    assert (100_001, 100_002) in got
    assert all(b != 100_003 for _, b in got)
    # family stays one component: star pairs to min id
    fam = {(a, b) for a, b in got if b < 100_000}
    assert fam == {(0, i) for i in range(1, 500)}


@pytest.mark.slow
def test_hamming_pairs_degenerate_bucket_capped(spark):
    """Same guard on the generic hamming join: n identical signatures
    collapse to an O(n) hamming-0 star instead of n^2 chunk-join rows;
    distinct signatures nearby still pair exactly."""
    n = 1500
    rows = [(i, 0x0F0F0F0F) for i in range(n)]
    rows += [(n + 1, 0x0F0F0F0E), (n + 2, 0xF0F0F0F0F)]
    sigs = spark.createDataFrame(rows, "id long, sig long")
    pairs = DD.hamming_pairs(sigs, max_hamming=3, bucket_cap=40).collect()
    fam = [r for r in pairs if r["id_a"] < n and r["id_b"] <= n]
    assert all(r["hamming"] == 0 for r in fam if r["id_b"] < n)
    star = [r for r in fam if r["id_b"] < n]
    assert len(star) == n - 1 and all(r["id_a"] == 0 for r in star)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got[(0, n + 1)] == 1  # 1-bit neighbor found via rep join
    assert (0, n + 2) not in got  # hamming 4 > 3 verified out


# ---------------------------------------------------------------------------
# sequence packing + weighted sampling (pipeline/packing.py, sampling.py)


def _md5_uniform(ident, seed):
    import hashlib

    h13 = hashlib.md5(f"{seed}|{ident}".encode()).hexdigest()[:13]
    return (int(h13, 16) + 0.5) / float(1 << 52)


def test_pack_offsets_layout(docs):
    from csp_spark.pipeline import pack_offsets
    from csp_spark import text as TX

    budget, shards, seed = 128, 4, 11
    t = docs.select("doc_id", TX.token_count(F.col("text")).alias("tok"))
    out = pack_offsets(t, "doc_id", "tok", budget, num_shards=shards,
                       order="shuffle", seed=seed).collect()
    assert len(out) == t.count()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
        # shard + order key replay bit-exactly from the row identity
        assert r["shard"] == int(_md5_uniform(r["doc_id"], seed + 1) * shards)
        assert r["begin_seq"] == r["shard"] * (1 << 40) + r["start_offset"] // budget
        assert r["begin_offset"] == r["start_offset"] % budget
        end_tok = max(r["start_offset"] + r["n_tokens"] - 1, r["start_offset"])
        assert r["end_seq"] == r["shard"] * (1 << 40) + end_tok // budget
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["start_offset"])
        off = 0
        for r in rows:  # concat-and-cut: offsets are gap-free
            assert r["start_offset"] == off
            off += r["n_tokens"]


def test_pack_next_fit_matches_reference_fold(docs):
    from csp_spark.pipeline import pack_next_fit, pack_stats
    from csp_spark import text as TX

    budget, shards, seed = 128, 4, 11
    t = docs.select("doc_id", TX.token_count(F.col("text")).alias("tok"))
    out = pack_next_fit(t, "doc_id", "tok", budget, num_shards=shards,
                        order="shuffle", seed=seed)
    rows = out.collect()
    # reference: python next-fit fold over the same deterministic order
    per_shard = {}
    for r in t.collect():
        did = r["doc_id"]
        s = int(_md5_uniform(did, seed + 1) * shards)
        per_shard.setdefault(s, []).append(
            (_md5_uniform(did, seed), did, r["tok"]))
    expect = {}
    for s, items in per_shard.items():
        b, fill = 0, 0
        for _, did, tok in sorted(items):
            if fill > 0 and fill + tok > budget:
                b, fill = b + 1, 0
            expect[did] = (s, s * (1 << 40) + b, fill)
            fill += tok
    got = {r["doc_id"]: (r["shard"], r["seq"], r["offset"]) for r in rows}
    assert got == expect
    # no sequence overflows the budget unless it is a single oversized doc
    for st in pack_stats(out, budget).collect():
        assert st["n_tokens"] <= budget or st["n_docs"] == 1
    # stable under a different input partitioning
    t8 = t.repartition(8)
    out8 = pack_next_fit(t8, "doc_id", "tok", budget, num_shards=shards,
                         order="shuffle", seed=seed)
    assert {tuple(r) for r in out8.collect()} == {tuple(r) for r in rows}


def test_weighted_sample_temperature(docs):
    from csp_spark.pipeline import weighted_sample

    w = F.least(F.col("n_chars") / F.lit(2000.0), F.lit(1.0))
    t = docs.select("doc_id", w.alias("w"))
    sharp = {r["doc_id"] for r in weighted_sample(t, "doc_id", "w",
                                                  temperature=0.25).collect()}
    flat = {r["doc_id"] for r in weighted_sample(t, "doc_id", "w",
                                                 temperature=4.0).collect()}
    # p = w^(1/T) is monotone in T for w in [0,1] → nested kept-sets
    assert sharp <= flat
    # exact per-row replay of the decision
    for r in t.collect():
        u = _md5_uniform(r["doc_id"], 42)
        p = min(max(r["w"], 0.0), 1.0) ** (1.0 / 0.25)
        assert (r["doc_id"] in sharp) == (u < p)
    # degenerate weights
    ones = t.withColumn("w", F.lit(1.0))
    assert weighted_sample(ones, "doc_id", "w").count() == t.count()
    zeros = t.withColumn("w", F.lit(0.0))
    assert weighted_sample(zeros, "doc_id", "w").count() == 0
    with pytest.raises(ValueError, match="temperature"):
        weighted_sample(t, "doc_id", "w", temperature=0.0)


def test_mix_to_budget(docs):
    """Domain-mixture sampling: keep fractions follow budget*w/tokens
    clamped at 1, unweighted groups drop, and every per-row decision
    replays from the md5 draw."""
    from csp_spark.pipeline import mix_to_budget

    totals = {r["source"]: r["tok"] for r in
              docs.groupBy("source").agg(F.sum("n_chars").alias("tok")).collect()}
    weights = {"src0": 3.0, "src1": 1.0, "src2": 1.0}
    budget = 10_000
    out = mix_to_budget(docs, weights, budget, token_col="n_chars")
    rows = out.collect()
    assert set(r["source"] for r in rows) <= set(weights)
    wsum = sum(weights.values())
    for r in rows:
        frac = min(1.0, budget * (weights[r["source"]] / wsum)
                   / totals[r["source"]])
        assert abs(r["keep_frac"] - frac) < 1e-12
        assert _md5_uniform(r["doc_id"], 42) < frac
    # completeness: every doc of a weighted group whose draw is under
    # the fraction is kept
    kept_ids = {r["doc_id"] for r in rows}
    for r in docs.select("doc_id", "source").collect():
        if r["source"] in weights:
            frac = min(1.0, budget * (weights[r["source"]] / wsum)
                       / totals[r["source"]])
            assert (r["doc_id"] in kept_ids) == (
                _md5_uniform(r["doc_id"], 42) < frac)
    # a huge budget keeps every weighted group whole (frac clamps at 1)
    full = mix_to_budget(docs, weights, 10**9, token_col="n_chars")
    want = docs.filter(F.col("source").isin(*weights)).count()
    assert full.count() == want
    with pytest.raises(ValueError, match="positive"):
        mix_to_budget(docs, {"src0": 0.0}, 10, token_col="n_chars")


def test_repeat_to_budget(docs):
    """Multi-epoch mixture: a group whose target fraction exceeds 1
    emits floor(f) full epochs plus one md5-sampled partial epoch;
    fractions under 1 degenerate to mix_to_budget's single partial
    epoch; every per-row decision replays from the md5 draw."""
    import math

    from csp_spark.pipeline import repeat_to_budget

    totals = {r["source"]: r["tok"] for r in
              docs.groupBy("source").agg(F.sum("n_chars").alias("tok")).collect()}
    weights = {"src0": 5.0, "src1": 1.0}
    wsum = sum(weights.values())
    # budget sized so src0's target fraction lands well above 2 (multi
    # epoch) while src1 stays fractional
    budget = 3.0 * totals["src0"] * wsum / weights["src0"]
    out = repeat_to_budget(docs, weights, budget, token_col="n_chars")
    rows = out.collect()
    assert set(r["source"] for r in rows) <= set(weights)
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    docs_all = docs.select("doc_id", "source").collect()
    for r in docs_all:
        if r["source"] not in weights:
            assert r["doc_id"] not in by_doc
            continue
        f = budget * (weights[r["source"]] / wsum) / totals[r["source"]]
        n_full = math.floor(f)
        want = list(range(n_full))
        if _md5_uniform(r["doc_id"], 42) < f - n_full:
            want.append(n_full)
        assert sorted(by_doc.get(r["doc_id"], [])) == want, r["doc_id"]
    # src0 target ~3.0 ⇒ every src0 doc appears at least 3 times
    f0 = budget * (weights["src0"] / wsum) / totals["src0"]
    assert f0 >= 3.0
    src0_ids = [r["doc_id"] for r in docs_all if r["source"] == "src0"]
    assert all(len(by_doc[i]) >= 3 for i in src0_ids)
    # emitted token mass per group ≈ budget share (within one partial
    # epoch's sampling noise)
    tok = {r["doc_id"]: r["n_chars"]
           for r in docs.select("doc_id", "n_chars").collect()}
    got0 = sum(tok[i] * len(by_doc[i]) for i in src0_ids)
    want0 = budget * weights["src0"] / wsum
    assert abs(got0 - want0) / want0 < 0.2
    # target_frac column carries f (6dp)
    fr = {r["source"]: r["target_frac"] for r in rows}
    assert abs(fr["src0"] - round(f0, 6)) < 1e-9
    # the corpus never shuffles: the per-group totals aggregate runs
    # eagerly at call time (the epoch-cap guard validates its ≤
    # len(weights) rows driver-side) and broadcasts back as a literal
    # frame, so the RETURNED plan is exchange-free — one broadcast
    # join fused into the corpus scan; audit the FINAL adaptive plan,
    # not the "== Initial Plan ==" echo
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Exchange hashpartitioning") == 0
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    with pytest.raises(ValueError, match="non-negative"):
        repeat_to_budget(docs, {"src0": -1.0, "src1": 3.0}, 10,
                         token_col="n_chars")
    with pytest.raises(ValueError, match="positive"):
        repeat_to_budget(docs, {"src0": 0.0}, 10, token_col="n_chars")


def test_repeat_to_budget_epoch_cap(docs):
    """The epoch-count guard (CSP_SPARK_MAX_EPOCHS, default 100): a
    mis-scaled budget that would multiply a group's rows by thousands
    fails loudly with the offending groups named, instead of silently
    exploding the output (the dynamic-spawn guard's sibling)."""
    from csp_spark.pipeline import repeat_to_budget

    tot = docs.filter(F.col("source") == "src0").agg(
        F.sum("n_chars")).first()[0]
    # f_src0 = budget / tokens_src0 = 5000 epochs >> the default cap
    with pytest.raises(ValueError, match="CSP_SPARK_MAX_EPOCHS"):
        repeat_to_budget(
            docs, {"src0": 1.0}, 5000.0 * tot, token_col="n_chars"
        ).collect()
    # at the boundary (f = 100) the guard stays quiet
    out = repeat_to_budget(
        docs.filter(F.col("source") == "src0").limit(5),
        {"src0": 1.0},
        100.0 * docs.filter(F.col("source") == "src0").limit(5)
        .agg(F.sum("n_chars")).first()[0],
        token_col="n_chars",
    )
    # f = 100.0 exactly: 100 full epochs (0..99) + an empty partial
    # (u < f - floor(f) = 0 never holds)
    assert out.agg(F.max("epoch")).first()[0] == 99


def test_leakage_safe_split(spark, docs):
    """Group-keyed splitting: every member of a duplicate group draws
    ONE split (no train/test leakage through dups); NULL groups fall
    back to the row's own id; proportions track the weights."""
    from csp_spark.dedup import normalize
    from csp_spark.pipeline import hash_split, leakage_safe_split

    # plant exact dups: 20 re-id'd copies must land in their original's
    # split (the sf0.001 corpus has no exact normalized dups itself)
    base = docs.select("doc_id", "text")
    dup = base.limit(20).withColumn("doc_id", F.col("doc_id") + 100000)
    g = base.unionByName(dup).select(
        "doc_id", F.md5(normalize(F.col("text"))).alias("grp")
    )
    out = leakage_safe_split(g, "grp", seed=13).collect()
    by_grp: dict = {}
    for r in out:
        by_grp.setdefault(r["grp"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_grp.values())
    sizes = {}
    for r in out:
        sizes[r["grp"]] = sizes.get(r["grp"], 0) + 1
    assert max(sizes.values()) > 1
    # proportions in the right ballpark (group-level draw, 500 docs)
    dist = {}
    for r in out:
        dist[r["split"]] = dist.get(r["split"], 0) + 1
    assert dist.get("train", 0) > 0.75 * len(out)
    # NULL group falls back to the row id — and matches hash_split on a
    # "__row:"-prefixed id, never colliding with a real group string
    nulls = g.withColumn("grp", F.lit(None).cast("string"))
    a = {r["doc_id"]: r["split"]
         for r in leakage_safe_split(nulls, "grp", seed=13).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(
        g.select("doc_id", F.concat(F.lit("__row:"),
                                    F.col("doc_id").cast("string"))
         .alias("rid")), "rid", seed=13).collect()}
    assert a == b


def test_cap_per_group(docs):
    from csp_spark.pipeline import cap_per_group

    t = docs.select("doc_id", "source", "n_chars")
    capped = cap_per_group(t, "doc_id", "source", 5)
    sizes = {r["source"]: r["n"] for r in
             capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    orig = {r["source"]: r["n"] for r in
            t.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for s, n in sizes.items():
        assert n == min(5, orig[s])
    # hash selection is stable under repartitioning
    again = cap_per_group(t.repartition(7), "doc_id", "source", 5)
    assert {r["doc_id"] for r in again.collect()} == {
        r["doc_id"] for r in capped.collect()}
    # by= keeps the n largest per group (ties by id)
    best = cap_per_group(t, "doc_id", "source", 3, by="n_chars")
    for s in orig:
        kept = sorted(r["n_chars"] for r in best.collect() if r["source"] == s)
        all_chars = sorted(
            (r["n_chars"] for r in t.collect() if r["source"] == s),
            reverse=True)
        assert kept == sorted(all_chars[:3])
    with pytest.raises(ValueError, match="positive"):
        cap_per_group(t, "doc_id", "source", 0)


@pytest.mark.slow
def test_connected_components_local_equals_distributed(spark):
    """The size-based local union-find fallback returns exactly the
    distributed contraction loop's labels (union-by-min contract),
    on a graph mixing chains, cliques, and singleton pairs."""
    import random

    from csp_spark.dedup import connected_components

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(10, 40)]            # long chain
    edges += [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
    edges += [(200 + 2 * i, 201 + 2 * i) for i in range(20)]  # pairs
    rng.shuffle(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    local = {(r["id"], r["component"])
             for r in connected_components(pairs).collect()}
    dist = {(r["id"], r["component"])
            for r in connected_components(
                pairs, local_threshold=0).collect()}
    assert local == dist
    assert {c for _, c in local if _ in range(10, 41)} == {10}


def test_compression_ratio(spark):
    import zlib

    from csp_spark.text import compression_ratio

    df = spark.createDataFrame(
        [
            (1, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa" * 8),   # boilerplate
            (2, "The quick brown fox jumps over the lazy dog near a bank."),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["compression_ratio"]
           for r in compression_ratio(df).collect()}
    # exact replay of the UDF's arithmetic
    for did, text in [(1, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa" * 8),
                      (2, "The quick brown fox jumps over the lazy dog near a bank.")]:
        raw = text.encode()
        assert got[did] == round(len(zlib.compress(raw, 6)) / len(raw), 6)
    assert got[1] < 0.1 < got[2]        # repetitive text compresses away
    assert got[3] == 1.0 and got[4] is None


def test_pack_offsets_plan_shape(docs):
    """pack_offsets compiles to exactly ONE shuffle (the shard hash
    partition for the per-shard window) — the 100 TB contract: no
    global window, no extra exchanges."""
    from csp_spark.pipeline import pack_offsets
    from csp_spark.pipeline.storage import exchanges_in_plan
    from csp_spark import text as TX

    t = docs.select("doc_id", TX.token_count(F.col("text")).alias("tok"))
    po = pack_offsets(t, "doc_id", "tok", budget=128, num_shards=8)
    assert exchanges_in_plan(po) == 1
    # and the weighted sampler stays shuffle-free entirely
    from csp_spark.pipeline import weighted_sample

    ws = weighted_sample(
        docs.select("doc_id", F.lit(0.5).alias("w")), "doc_id", "w")
    assert exchanges_in_plan(ws) == 0


@pytest.mark.slow
def test_incremental_dedup(spark):
    """Ingestion-time dedup: existing corpus fixed, incoming docs drop
    iff they (transitively) duplicate an existing doc or lose the
    min-id rule inside an all-incoming component."""
    from csp_spark.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again "
    other = "entirely different legal boilerplate about indemnification "
    third = "a third unrelated passage regarding maritime insurance law "
    existing = spark.createDataFrame(
        [(1, base * 6), (2, other * 6)], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [
            (10, base * 6),            # dup of existing 1 -> drop
            (11, third * 6),           # new pair, smaller id -> keep
            (12, third * 6 + "tail"),  # near-dup of 11 -> drop
            (13, "completely novel content about orbital mechanics " * 6),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_dedup(existing, incoming).collect()
    )
    assert kept == [11, 13]
    # transitive anchoring: existing -> incA -> incB chain drops BOTH
    # incoming docs even though incB never pairs with existing directly
    inc2 = spark.createDataFrame(
        [(20, base * 6 + "x"), (21, base * 3 + "x " + base * 3 + " y z")],
        "doc_id long, text string",
    )
    def chain_pairs(d):
        return spark.createDataFrame(
            [(1, 20), (20, 21)], "id_a long, id_b long"
        )
    kept2 = [r["doc_id"]
             for r in incremental_dedup(existing, inc2,
                                        pair_fn=chain_pairs).collect()]
    assert kept2 == []


def test_tick_stream_bucketed_storage(spark):
    """A tick stream stored via save_tick_stream (bucketed by key,
    sorted (key, ts, seq)) runs per-key windowed stats with ZERO
    exchanges, and the stat values equal the plain-scan path."""
    from csp_spark.pipeline.storage import (
        exchanges_in_plan, load_tick_stream, save_tick_stream,
    )
    from csp_spark.sources import subscribe
    from csp_spark.stats import Rolling

    ev = subscribe(
        spark, "/root/testdata/sf0.001/events.parquet",
        time_column="ts", value_column="value",
        symbol_column="user_id", seq_column="event_id",
    )
    save_tick_stream(ev, "t_tick_ev", num_buckets=4)
    try:
        stored = load_tick_stream(spark, "t_tick_ev")
        r_stored = Rolling(stored, interval=10, min_window=1).mean()
        r_plain = Rolling(ev, interval=10, min_window=1).mean()
        assert exchanges_in_plan(r_stored.df) == 0, \
            "window over the bucketed tick table must not shuffle"
        assert exchanges_in_plan(r_plain.df) >= 1
        a = sorted(map(tuple, r_stored.df.collect()))
        b = sorted(map(tuple, r_plain.df.collect()))
        assert a == b
    finally:
        spark.sql("DROP TABLE IF EXISTS t_tick_ev")


def test_sequence_manifest_tiles_sequences(docs):
    """The dataloader manifest tiles every sequence contiguously:
    per-doc segments cover [0, n_tokens) in order, and per-sequence
    segment lengths sum to the tokens the offsets layout placed there."""
    from csp_spark.pipeline import pack_offsets, sequence_manifest
    from csp_spark import text as TX

    budget, shards, seed = 128, 4, 11
    t = docs.select("doc_id", TX.token_count(F.col("text")).alias("tok"))
    packed = pack_offsets(t, "doc_id", "tok", budget, num_shards=shards,
                          order="shuffle", seed=seed)
    man = sequence_manifest(packed, budget).collect()
    by_doc, by_seq = {}, {}
    for r in man:
        assert 0 <= r["doc_from"] < r["doc_to"]
        assert 0 <= r["seq_offset"] < budget
        assert r["doc_to"] - r["doc_from"] <= budget
        by_doc.setdefault(r["doc_id"], []).append(r)
        by_seq.setdefault(r["seq"], []).append(r)
    toks = {r["doc_id"]: r["n_tokens"] for r in packed.collect()}
    for did, segs in by_doc.items():
        segs.sort(key=lambda r: r["doc_from"])
        assert segs[0]["doc_from"] == 0
        assert segs[-1]["doc_to"] == toks[did]
        for a, b in zip(segs, segs[1:]):
            assert a["doc_to"] == b["doc_from"]  # contiguous doc coverage
    for segs in by_seq.values():
        segs.sort(key=lambda r: r["seq_offset"])
        off = segs[0]["seq_offset"]
        assert off == 0 or len(segs) == 1  # a seq starts at 0 unless it
        for s in segs:                      # holds one doc's tail only
            assert s["seq_offset"] == off
            off += s["doc_to"] - s["doc_from"]
        assert off <= budget


def test_build_vocab_and_encode_tokens(spark):
    from csp_spark.text import build_vocab, encode_tokens

    df = spark.createDataFrame(
        [(1, "a b a c a b"), (2, "b c d"), (3, "a zz")],
        "doc_id long, text string",
    )
    vocab = {r["token"]: (r["token_id"], r["count"])
             for r in build_vocab(df, vocab_size=3).collect()}
    # count desc, token asc: a(4)=1, b(3)=2, c(2)=3; d/zz cut
    assert vocab == {"a": (1, 4), "b": (2, 3), "c": (3, 2)}
    enc = {r["doc_id"]: r["token_ids"]
           for r in encode_tokens(df, build_vocab(df, vocab_size=3)).collect()}
    assert enc[1] == [1, 2, 1, 3, 1, 2]
    assert enc[2] == [2, 3, 0]       # d -> OOV 0
    assert enc[3] == [1, 0]
    # min_count prunes the ranking candidates
    v2 = {r["token"] for r in
          build_vocab(df, vocab_size=10, min_count=2).collect()}
    assert v2 == {"a", "b", "c"}


def test_write_training_shards(spark, tmp_path):
    """Sharded dataloader output: files are balanced, each internally
    sorted, ranges disjoint across shards, and the union reproduces
    the input exactly."""
    import glob
    from csp_spark.pipeline import write_training_shards

    df = spark.range(0, 1000).select(
        F.col("id").alias("seq"), (F.col("id") * 2).alias("payload")
    )
    path = str(tmp_path / "shards")
    write_training_shards(df, path, "seq", rows_per_shard=100)
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) >= 10
    ranges = []
    total = 0
    for f in files:
        rows = [r["seq"] for r in spark.read.parquet(f).collect()]
        if not rows:
            continue
        assert rows == sorted(rows)          # internally sorted
        assert len(rows) <= 100              # capped
        ranges.append((rows[0], rows[-1]))
        total += len(rows)
    assert total == 1000
    ranges.sort()
    for (a, b), (c, d) in zip(ranges, ranges[1:]):
        assert b < c                          # disjoint contiguous ranges
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert back.agg(F.sum("payload")).first()[0] == sum(2 * i for i in range(1000))


# ---------------------------------------------------------------- semdedup


def _semdedup_np(pdf, eps, keep, cells=None, centroid=None):
    """Reference pairwise SemDeDup: id removed iff ANY same-cell id
    with a lower keep-order is eps-similar (arXiv:2303.09540 §2)."""
    ids = pdf.vec_id.to_numpy()
    V = np.array([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cs = Vn @ Vn.T
    cell = np.zeros(len(ids)) if cells is None else np.asarray(cells)
    if keep == "edge":
        c = centroid / np.linalg.norm(centroid)
        csim = Vn @ c
        order = list(zip(csim, ids))
    else:
        order = list(zip(ids))
    removed = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if i == j or cell[i] != cell[j]:
                continue
            if cs[i, j] >= eps and order[j] < order[i]:
                removed.add(ids[i])
                break
    return removed


def test_semdedup_minid_vs_brute(spark, emb):
    out = DD.semdedup(emb, eps=0.35, n_clusters=1, keep="min_id").toPandas()
    exp_removed = _semdedup_np(emb.toPandas(), 0.35, "min_id")
    got_removed = set(out[out.kept == 0].vec_id)
    assert got_removed == exp_removed
    assert len(exp_removed) > 0          # eps chosen so the test bites
    assert set(out.vec_id) == set(emb.toPandas().vec_id)  # one row per id


def test_semdedup_edge_policy(spark, emb):
    # n_clusters=1 centroid is the exact mean — reproducible in numpy;
    # the paper's policy keeps the LOWEST-centroid-sim member of a pair
    pdf = emb.toPandas()
    centroid = np.array(
        [np.asarray(v, dtype=np.float64) for v in pdf.embedding]
    ).mean(axis=0)
    out = DD.semdedup(emb, eps=0.35, n_clusters=1, keep="edge").toPandas()
    exp_removed = _semdedup_np(pdf, 0.35, "edge", centroid=centroid)
    assert set(out[out.kept == 0].vec_id) == exp_removed
    # the two policies disagree on at least one pair orientation in
    # random data — otherwise this test wouldn't distinguish them
    minid = DD.semdedup(emb, eps=0.35, n_clusters=1, keep="min_id").toPandas()
    assert (out.sort_values("vec_id").kept.to_numpy()
            != minid.sort_values("vec_id").kept.to_numpy()).any()


@pytest.mark.slow
def test_semdedup_clustered(spark, emb):
    # clustered run: verify the removal decisions against numpy GIVEN
    # the returned cell assignment (kmeans itself is seeded/deterministic)
    out = DD.semdedup(emb, eps=0.35, n_clusters=4, keep="min_id").toPandas()
    out = out.sort_values("vec_id").reset_index(drop=True)
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    exp_removed = _semdedup_np(pdf, 0.35, "min_id", cells=out.cell.to_numpy())
    assert set(out[out.kept == 0].vec_id) == exp_removed
    # clustering only shrinks the compared pair set vs all-pairs
    brute = DD.semdedup(emb, eps=0.35, n_clusters=1, keep="min_id").toPandas()
    assert set(out[out.kept == 0].vec_id) <= set(brute[brute.kept == 0].vec_id)
    rerun = DD.semdedup(emb, eps=0.35, n_clusters=4, keep="min_id").toPandas()
    assert rerun.sort_values("vec_id").kept.tolist() == out.kept.tolist()


@pytest.mark.slow
def test_semdedup_degenerate_cell_cap(spark, emb):
    # a family of identical vectors larger than cap must be star-routed
    # (exact-signature grouping), not exploded quadratically — and every
    # copy but the lowest id still gets removed
    fam = emb.filter("vec_id = 1")
    copies = fam
    for i in range(6):
        copies = copies.unionByName(
            fam.withColumn("vec_id", F.lit(10_000 + i).cast("long"))
        )
    both = emb.unionByName(copies.filter("vec_id >= 10000"))
    out = DD.semdedup(both, eps=0.99, n_clusters=1, keep="min_id", cap=5).toPandas()
    removed = set(out[out.kept == 0].vec_id)
    assert {10_000 + i for i in range(6)} <= removed
    assert 1 not in removed
    with pytest.raises(ValueError, match="keep"):
        DD.semdedup(emb, keep="bogus")


# ------------------------------------------------------------------- dsir


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


@pytest.mark.slow
def test_dsir_weights_match_numpy(spark):
    # two dialects; target = dialect A. Weights must equal an
    # independent pure-python replication of the paper's formula.
    import math
    from collections import Counter

    from csp_spark.pipeline.dsir import dsir_weights

    rows = []
    for i in range(20):
        rows.append((i, f"alpha beta gamma token{i % 3}", "A"))
    for i in range(20, 40):
        rows.append((i, f"delta epsilon zeta token{i % 5}", "B"))
    raw = _mk_docs(spark, rows)
    tgt = raw.filter("source = 'A'")
    got = {
        r["doc_id"]: r["log_w"]
        for r in dsir_weights(raw, tgt).collect()
    }

    def grams(text):
        t = text.lower().strip().split()
        gs = [g for g in t if g]
        gs += [f"{a} {b}" for a, b in zip(t, t[1:])]
        return Counter(gs)

    raw_m, tgt_m = Counter(), Counter()
    per_doc = {}
    for i, text, src in rows:
        c = grams(text)
        per_doc[i] = c
        raw_m.update(c)
        if src == "A":
            tgt_m.update(c)
    v = len(raw_m)
    n_raw, n_tgt = sum(raw_m.values()), sum(tgt_m.values())
    for i, c in per_doc.items():
        exp = sum(
            n * (math.log((tgt_m[g] + 1.0) / (n_tgt + v))
                 - math.log((raw_m[g] + 1.0) / (n_raw + v)))
            for g, n in c.items()
        )
        assert abs(got[i] - exp) < 1e-9, (i, got[i], exp)
    # every dialect-A doc outranks every dialect-B doc
    assert min(got[i] for i in range(20)) > max(got[i] for i in range(20, 40))


@pytest.mark.slow
def test_dsir_hashed_buckets_agree_and_select(spark):
    import numpy as np

    from csp_spark.pipeline.dsir import dsir_select, dsir_weights

    rows = [(i, f"alpha beta tok{i % 7} gamma", "A" if i % 2 else "B")
            for i in range(30)]
    raw = _mk_docs(spark, rows)
    tgt = raw.filter("source = 'A'")
    exact = dsir_weights(raw, tgt).toPandas().sort_values("doc_id")
    # a wide bucket space has no collisions on this vocabulary, so the
    # hashed model must reproduce the exact weights bit-for-bit-ish
    hashed = dsir_weights(raw, tgt, n_buckets=1 << 20).toPandas().sort_values("doc_id")
    assert np.allclose(exact.log_w.values, hashed.log_w.values, atol=1e-9)
    # selection: exactly k rows, deterministic, id tiebreak on equal text
    sel = dsir_select(raw, tgt, k=5).toPandas()
    assert int(sel.selected.sum()) == 5
    chosen = set(sel[sel.selected == 1].doc_id)
    rerun = dsir_select(raw, tgt, k=5).toPandas()
    assert set(rerun[rerun.selected == 1].doc_id) == chosen
    # k >= corpus selects everything
    all_sel = dsir_select(raw, tgt, k=1000).toPandas()
    assert int(all_sel.selected.sum()) == len(rows)


@pytest.mark.slow
def test_dsir_tiebreak_on_duplicate_text(spark):
    from csp_spark.pipeline.dsir import dsir_select

    rows = [(i, "same exact text here", "B") for i in range(10)]
    rows += [(100 + i, "target style words", "A") for i in range(3)]
    raw = _mk_docs(spark, rows)
    tgt = raw.filter("source = 'A'")
    sel = dsir_select(raw, tgt, k=5).toPandas()
    picked = sorted(sel[sel.selected == 1].doc_id)
    # 3 target-style docs win, then the 2 LOWEST duplicate ids by tiebreak
    assert picked == [0, 1, 100, 101, 102]


# ------------------------------------------------------------ gopher rules


def test_gopher_rules_each_rule(spark):
    """One adversarial document per rule: exactly that rule fails."""
    good = ("the report said that we have results to share and "
            "everyone agreed with the plan because it was good ") * 3
    docs = [
        (0, good),                                        # passes all
        (1, "the of and"),                                # r1: too short
        (2, ("a " * 60) + "the of and that have with"),   # r2: mwl < 3
        (3, good + " " + "#" * 40),                       # r3: hash ratio
        (4, "\n".join(f"- {good}" for _ in range(10))),   # r4: all bullets
        (5, "\n".join(f"{good}..." for _ in range(10))),  # r5: ellipsis ends
        (6, good + " " + "123 456 789 " * 30),            # r6: alpha < 80%
        (7, good.replace("the", "xx").replace("that", "xx")
               .replace("have", "xx").replace("with", "xx")
               .replace("and", "xx").replace("to ", "xx ")
               .replace("of ", "xx ")),                   # r7: no stop words
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in TX.gopher_rules(df).collect()}
    assert out[0]["keep"] == 1, out[0]
    rules = ["r1_word_count", "r2_mean_word_len", "r3_symbol_ratio",
             "r4_bullet_lines", "r5_ellipsis_lines", "r6_alpha_words",
             "r7_stop_words"]
    for i, rule in enumerate(rules, start=1):
        assert out[i][rule] == 0, (rule, out[i])
        assert out[i]["keep"] == 0
    # doc 4 fails ONLY the bullet rule; doc 0 fails none
    assert sum(out[4][k] for k in rules) == 6
    assert sum(out[0][k] for k in rules) == 7


def test_gopher_rules_empty_and_unicode(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "lines end…\n" * 10 + "the and that have " * 20)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in TX.gopher_rules(df).collect()}
    assert out[1]["keep"] == 0 and out[1]["r1_word_count"] == 0
    # unicode ellipsis lines trip r5 even though word rules pass
    assert out[2]["r5_ellipsis_lines"] == 0 and out[2]["r7_stop_words"] == 1


# --------------------------------------------------------------- c4 filters


def test_c4_filters_rules(spark):
    docs = spark.createDataFrame(
        [
            (0, "This line stays in the corpus.\nshort one.\nno punctuation here\nthe javascript line is gone.\nAnother good sentence ends here!"),
            (1, "Only one good line survives this doc.\nbad\nbad"),
            (2, "A fine sentence.\nAnother fine sentence.\nlorem ipsum dolor sit amet."),
            (3, "A fine sentence with code.\nif (x) { return; }"),
            (4, "nothing ends with punctuation\nat all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict()
           for r in TX.c4_filters(docs, min_lines=2).collect()}
    # doc 0: 2 lines survive (short + unpunctuated + javascript removed)
    assert out[0]["n_lines_kept"] == 2 and out[0]["keep"] == 1
    assert out[0]["clean_text"] == (
        "This line stays in the corpus.\nAnother good sentence ends here!"
    )
    # doc 1: 1 line < min_lines=2 -> dropped
    assert out[1]["n_lines_kept"] == 1 and out[1]["keep"] == 0
    # doc 2: lorem ipsum gate
    assert out[2]["keep"] == 0 and out[2]["n_lines_kept"] == 3
    # doc 3: curly brace gate
    assert out[3]["keep"] == 0
    # doc 4: nothing survives
    assert out[4]["n_lines_kept"] == 0 and out[4]["clean_text"] == ""


def test_rule_bundles_fuzz_vs_python(spark):
    """Seeded random multi-line docs: gopher_rules and c4_filters must
    agree with independent pure-python implementations of the same
    rules (same tokenization, same thresholds)."""
    import random
    import re

    rng = random.Random(42)
    words = ["the", "report", "said", "that", "we", "have", "results",
             "to", "share", "and", "x1", "#", "data...", "of", "with",
             "be", "99", "...", "analysis", "…"]
    bullets = ["- ", "• ", "", "", ""]
    tails = [".", "!", "?", '"', "", "", "...", "…", " javascript."]

    def mk_doc():
        lines = []
        for _ in range(rng.randint(1, 8)):
            n = rng.randint(0, 12)
            body = " ".join(rng.choice(words) for _ in range(n))
            lines.append(rng.choice(bullets) + body + rng.choice(tails))
        doc = "\n".join(lines)
        if rng.random() < 0.15:
            doc += " {"
        if rng.random() < 0.1:
            doc += "\nlorem ipsum is here."
        return doc

    docs = [(i, mk_doc()) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def toks(text):
        return [w for w in re.split(r"\s+", text.strip().lower())]

    # ---- python gopher (thresholds as in gopher_rules defaults) ----
    def py_gopher(text):
        t = toks(text)
        nw = len(t)
        lines = text.split("\n")
        nl = len(lines)
        bullet = sum(bool(re.match(r"^[•\-\*‣▶]", ln.strip())) for ln in lines)
        ell = sum(bool(re.search(r"(\.\.\.|…)$", ln.rstrip())) for ln in lines)
        alpha = sum(bool(re.search(r"[a-z]", w)) for w in t)
        hashes = text.count("#")
        ellipses = len(re.split(r"(?:\.\.\.|…)", text)) - 1
        sw = len(set(t) & set(TX.GOPHER_STOP_WORDS))
        mwl = (sum(len(w) for w in t) / nw) if nw else None
        r = [
            50 <= nw <= 100_000,
            mwl is not None and 3.0 <= mwl <= 10.0,
            hashes <= nw * 0.1 and ellipses <= nw * 0.1,
            bullet <= nl * 0.9,
            ell <= nl * 0.3,
            alpha >= nw * 0.8,
            sw >= 2,
        ]
        return [int(x) for x in r] + [int(all(r))]

    got = {r["doc_id"]: [r[c] for c in r.asDict() if c != "doc_id"]
           for r in TX.gopher_rules(df).collect()}
    for i, text in docs:
        assert got[i] == py_gopher(text), (i, text, got[i], py_gopher(text))

    # ---- python c4 (min_words_per_line=3, min_lines=3 defaults) ----
    def py_c4(text):
        lines = text.split("\n")
        kept = [
            ln for ln in lines
            if re.search(r'[.!?"]$', ln.rstrip())
            and len(re.split(r"\s+", ln.strip())) >= 3
            and not re.search("javascript", ln.lower())
        ]
        keep = (len(kept) >= 3
                and "lorem ipsum" not in text.lower()
                and "{" not in text)
        return ["\n".join(kept), len(kept), len(lines) - len(kept), int(keep)]

    got4 = {r["doc_id"]: [r["clean_text"], r["n_lines_kept"],
                          r["n_lines_removed"], r["keep"]]
            for r in TX.c4_filters(df).collect()}
    for i, text in docs:
        assert got4[i] == py_c4(text), (i, repr(text), got4[i], py_c4(text))


@pytest.mark.slow
def test_new_op_plan_shapes(spark, docs, emb):
    """Pin the r7 ops' physical-plan contracts so regressions fail
    loudly: the rule bundles stay zero-shuffle scans; hashed-model
    DSIR broadcasts its gram model (no shuffle join on the gram key);
    semdedup never degrades to a cartesian product."""
    from csp_spark.pipeline import dsir_weights
    from csp_spark.pipeline.storage import exchanges_in_plan

    assert exchanges_in_plan(TX.gopher_rules(docs)) == 0
    assert exchanges_in_plan(TX.c4_filters(docs)) == 0

    tgt = docs.filter("doc_id % 5 = 0")
    hashed = dsir_weights(docs, tgt, n_buckets=1 << 16)
    plan = hashed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the m-row model broadcasts
    exact = dsir_weights(docs, tgt)
    assert "CartesianProduct" not in exact._jdf.queryExecution().executedPlan().toString()

    sd = DD.semdedup(emb, eps=0.9, n_clusters=4, keep="min_id")
    assert "CartesianProduct" not in sd._jdf.queryExecution().executedPlan().toString()


def test_ivf_artifact_topk_plan_shape(spark, emb):
    """The r8 artifact-replay IVF query (driver ann_ivf_topk): the
    probed-ids ⋈ embeddings join must broadcast the small probed side
    (never sort-merge or cartesian the corpus) and the top-k must be
    TakeOrderedAndProject, not a global sort."""
    import numpy as np
    from pyspark.sql import functions as F

    from csp_spark.similarity import ivf_index
    from csp_spark.similarity.ann import cosine

    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    indexed, centers = ivf_index(emb, n_cells=8)
    qv = np.asarray(list(q), dtype=np.float64)
    probes = [int(c) for c in
              np.argsort(((centers - qv) ** 2).sum(axis=1))[:2]]
    cells = indexed.select(
        "vec_id", F.col("cell").isin(probes).alias("probed")
    )
    qlit = F.array(*[F.lit(float(v)) for v in qv])
    out = (
        cells.filter("probed").select("vec_id")
        .join(emb, "vec_id")
        .select("vec_id",
                F.round(cosine(F.col("embedding"), qlit), 6)
                .alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id").limit(10)
    )
    out.collect()
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_repeat_to_budget_epoch_cap_env_read_at_call(docs, monkeypatch):
    """The cap env var is read at CALL time, so following the error's
    own advice (raise CSP_SPARK_MAX_EPOCHS in the live session) works
    without re-importing the module."""
    from csp_spark.pipeline import repeat_to_budget

    five = docs.filter(F.col("source") == "src0").limit(5)
    tot = five.agg(F.sum("n_chars")).first()[0]
    monkeypatch.setenv("CSP_SPARK_MAX_EPOCHS", "10")
    with pytest.raises(ValueError, match="more than 10 epochs"):
        repeat_to_budget(five, {"src0": 1.0}, 50.0 * tot,
                         token_col="n_chars").collect()
    monkeypatch.setenv("CSP_SPARK_MAX_EPOCHS", "60")
    out = repeat_to_budget(five, {"src0": 1.0}, 50.0 * tot,
                           token_col="n_chars")
    assert out.agg(F.max("epoch")).first()[0] == 49


def test_knn_join_blas_empty_query_side(spark, emb):
    """An empty query side returns an empty, correctly-typed result
    from the blas path (the exact path's behavior), not a numpy
    AxisError at plan-build time."""
    from csp_spark.similarity import knn_join

    qs = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("qid"), "embedding")
    cs = emb.select(F.col("vec_id").alias("cid"), "embedding")
    out = knn_join(qs, cs, k=3, query_id="qid", corpus_id="cid",
                   method="blas")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "qid", "cid", "rank", "cos_sim"]


def test_hard_negatives_missing_assignment_raises(spark, emb):
    """An anchor absent from a frozen cell_assignment fails loudly
    (run ivf_assign first), instead of silently mining zero negatives
    for exactly the new vectors an incremental run cares about."""
    from csp_spark.similarity import hard_negatives, ivf_index

    indexed, _ = ivf_index(
        emb.selectExpr("vec_id as id", "cast(embedding as array<double>) as v"),
        n_cells=4, id_col="id", vec_col="v")
    # drop a few ids from the assignment → those anchors must raise
    assign = indexed.selectExpr("id as vec_id", "cell").filter(
        F.col("vec_id") % 7 != 0)
    with pytest.raises(Exception, match="ivf_assign"):
        hard_negatives(emb, k=2, cell_assignment=assign).collect()


def test_causal_time_window_interval_overflow_raises():
    """An interval past the ~71-year encoding range fails at plan
    build with the loud error, not an int64 overflow inside Py4J."""
    from csp_spark.stats.rolling import _REL_MAX, causal_time_window

    with pytest.raises(ValueError, match="71-year"):
        causal_time_window(["key"], ["ts", "seq"], _REL_MAX + 2)
    # at the boundary the frame builds
    _v, (lo, hi) = causal_time_window(["key"], ["ts", "seq"], _REL_MAX + 1)
    assert lo > -(2 ** 63) and hi == 0


def test_ivf_index_fit_deterministic_across_layout(spark, emb):
    """The driver-side kmeans++/Lloyd fit is a pure function of the
    (id-sorted) sample and the seed: repeated fits and fits over a
    different partition layout produce IDENTICAL centers — the
    sorted-collect discipline that decouples the quantizer from how
    the corpus happens to be laid out on disk."""
    import numpy as np

    from csp_spark.similarity import ivf_index

    _, c1 = ivf_index(emb, n_cells=8)
    _, c2 = ivf_index(emb, n_cells=8)
    _, c3 = ivf_index(emb.repartition(7), n_cells=8)
    assert np.array_equal(c1, c2)
    assert np.array_equal(c1, c3)
    # a different seed moves the centers (the rng is actually used)
    _, c4 = ivf_index(emb, n_cells=8, seed=7)
    assert not np.array_equal(c1, c4)


def test_ivf_index_guards(spark, emb, monkeypatch):
    """r9 guards: n_cells must be positive; the driver-collect cap
    (read at call time) fails loudly BEFORE collecting an unbounded
    training sample; a dedup-heavy sample with fewer distinct vectors
    than n_cells truncates the quantizer instead of seeding duplicate
    centers that would stay empty and waste probe budget."""
    import numpy as np

    from csp_spark.similarity import ivf_index

    with pytest.raises(ValueError, match="n_cells"):
        ivf_index(emb, n_cells=0)
    monkeypatch.setenv("CSP_SPARK_TRAIN_COLLECT_MAX_ELEMENTS", "100")
    with pytest.raises(ValueError, match="driver-collect guard"):
        ivf_index(emb, n_cells=4)
    monkeypatch.delenv("CSP_SPARK_TRAIN_COLLECT_MAX_ELEMENTS")
    dup = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(10)]
        + [(100 + i, [5.0, 6.0, 7.0, 8.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    idx, C = ivf_index(dup, n_cells=8)
    assert C.shape[0] == 2 and len(np.unique(C, axis=0)) == 2
    assert idx.select("cell").distinct().count() == 2


# ------------------------------------------- degenerate vectors (r12)
# Zero-norm vectors make the JVM cosine NULL (Spark division by an
# exactly-zero divisor yields NULL; the filter/comparison then keeps
# the pair), while NaN ELEMENTS make it a true NaN (nanSafeCompare
# ranks NaN above every double). numpy sees NaN in BOTH cases, so the
# r12 BLAS selection passes must split them — these tests pin every
# fixed path against the pure-JVM pair form evaluated by the engine
# itself.


@pytest.fixture(scope="module")
def degenerate_emb(spark):
    data = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),          # near-dup of 1
        (3, [0.0, 0.0, 0.0]),             # zero-norm -> JVM cosine NULL
        (4, [float("nan"), 1.0, 0.0]),    # NaN element -> JVM cosine NaN
        (5, [0.0, 1.0, 0.0]),
        (6, [0.0, 0.0, 0.0]),             # second zero vector
        (7, [0.0, 0.0, 0.0]),             # zero vector ABOVE the NaN id
    ]
    return spark.createDataFrame(data, "vec_id int, embedding array<double>")


def _jvm_semdedup_removed(spark, df, eps, keep):
    """The pre-BLAS pure-JVM removal rule: id_a removed iff ANY other
    row with a better (lower) __ord is eps-similar — every comparison
    evaluated by Spark expressions, never numpy."""
    from csp_spark.similarity.ann import cosine, dot, norm

    base = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    if keep == "edge":
        import math as _m

        mean = (
            base.select(F.posexplode("v").alias("i", "x"))
            .groupBy("i").agg(F.avg("x").alias("m")).orderBy("i").collect()
        )
        cvec = F.array(*[F.lit(float(r["m"])) for r in mean])
        cn = _m.sqrt(sum(float(r["m"]) * float(r["m"]) for r in mean))
        base = base.withColumn(
            "__csim", dot(F.col("v"), cvec) / (norm(F.col("v")) * F.lit(cn))
        )
        ordc = F.struct(F.col("__csim"), F.col("id"))
    else:
        ordc = F.struct(F.col("id"))
    base = base.withColumn("__ord", ordc)
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                    F.col("__ord").alias("oa"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                    F.col("__ord").alias("ob"))
    rem = (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= F.lit(float(eps)))
        .filter(F.col("ob") < F.col("oa"))
        .select("id_a").distinct()
    )
    return {r["id_a"] for r in rem.collect()}


@pytest.mark.slow
@pytest.mark.parametrize("keep", ["min_id", "edge"])
def test_semdedup_degenerate_matches_jvm(spark, degenerate_emb, keep):
    exp = _jvm_semdedup_removed(spark, degenerate_emb, 0.5, keep)
    out = DD.semdedup(
        degenerate_emb, eps=0.5, n_clusters=1, keep=keep
    ).toPandas()
    got = set(out[out.kept == 0].vec_id)
    assert got == exp
    # scenario sanity (all verified against the engine itself above):
    # zero-zero and zero-real pairs are NULL-cosine (divisor exactly
    # 0) and never removal edges, but zero-NaN pairs ARE true NaN
    # edges (0 * NaN divisor = NaN, not 0) — so the NaN row (id 4)
    # and every zero row above it fall, while the lower-id zero (3)
    # survives. For keep="edge" the NaN row also poisons the exact
    # n=1 centroid (avg propagates NaN), making EVERY __csim NaN, so
    # the struct order falls through to the id on ties and both
    # policies agree here. (A mixed NULL/non-NULL __csim ordering is
    # outcome-unobservable: NULL __csim requires a zero divisor,
    # which makes either the row's own pair edges NULL or the whole
    # cell's order uniform — the __csim_null plumbing still replays
    # the JVM comparison exactly by construction.)
    assert exp == {2, 4, 5, 6, 7}


@pytest.mark.slow
def test_knn_join_degenerate_zero_corpus_rows(spark):
    # >= k zero-norm corpus rows used to poison the BLAS kth (NaN
    # partition value fails every comparison -> ALL candidates dropped)
    from csp_spark.similarity import knn_join
    from csp_spark.similarity.ann import dot, norm
    from pyspark.sql import Window

    q = spark.createDataFrame([(100, [1.0, 0.0, 0.0])],
                              "qid int, embedding array<double>")
    corpus = spark.createDataFrame(
        [
            (1, [0.9, 0.1, 0.0]),
            (2, [0.5, 0.5, 0.0]),
            (3, [0.0, 0.0, 0.0]),
            (4, [0.0, 0.0, 0.0]),
            (5, [0.0, 0.0, 0.0]),
        ],
        "cid int, embedding array<double>",
    )
    out = knn_join(q, corpus, k=3, query_id="qid", corpus_id="cid",
                   method="blas").collect()
    # pure-JVM reference: score every pair with the exact expressions,
    # rank with the same window (NULL cos_sim sorts last, cid breaks
    # ties deterministically)
    qn = q.select(F.col("qid").alias("__qid"),
                  F.col("embedding").cast("array<double>").alias("__qv"))
    qn = qn.withColumn("__qn", norm(F.col("__qv")))
    cn = corpus.select(F.col("cid").alias("__cid"),
                       F.col("embedding").cast("array<double>").alias("__cv"))
    cn = cn.withColumn("__cn", norm(F.col("__cv")))
    scored = cn.join(F.broadcast(qn)).select(
        "__qid", "__cid",
        F.round(dot(F.col("__cv"), F.col("__qv"))
                / (F.col("__cn") * F.col("__qn")), 6).alias("cos_sim"),
    ).filter(F.col("__qid") != F.col("__cid"))
    w = Window.partitionBy("__qid").orderBy(F.desc("cos_sim"), F.col("__cid"))
    exp = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 3).collect())
    key = lambda r: (r[0], r[2])  # (qid, rank)
    got_s = sorted([tuple(r) for r in out], key=lambda t: (t[0], t[2]))
    exp_s = sorted([(r["__qid"], r["__cid"], r["rank"], r["cos_sim"])
                    for r in exp], key=lambda t: (t[0], t[2]))
    assert got_s == exp_s
    assert len(got_s) == 3  # the poisoned form returned ZERO rows


def test_knn_join_reference_path_nan_rows(spark):
    # >= k NaN-scored corpus rows: the final Spark desc window ranks
    # JVM NaN FIRST, so a selection that sorted NaN last (pandas) or
    # dropped it would return the wrong top-k. The pure-JVM reference
    # below is the ground truth.
    import math

    from pyspark.sql import Window

    from csp_spark.similarity import knn_join
    from csp_spark.similarity.ann import dot, norm

    nan = float("nan")
    q = spark.createDataFrame([(100, [1.0, 0.0, 0.0])],
                              "qid int, embedding array<double>")
    corpus = spark.createDataFrame(
        [
            (1, [0.9, 0.1, 0.0]),
            (2, [0.5, 0.5, 0.0]),
            (3, [nan, 0.0, 0.0]),
            (4, [nan, 1.0, 0.0]),
            (5, [nan, nan, 0.0]),
        ],
        "cid int, embedding array<double>",
    )
    out = knn_join(q, corpus, k=3, query_id="qid", corpus_id="cid").collect()
    # pure-JVM reference: identical expressions and the same window
    qn = q.select(F.col("qid").alias("__qid"),
                  F.col("embedding").cast("array<double>").alias("__qv"))
    qn = qn.withColumn("__qn", norm(F.col("__qv")))
    cn = corpus.select(F.col("cid").alias("__cid"),
                       F.col("embedding").cast("array<double>").alias("__cv"))
    cn = cn.withColumn("__cn", norm(F.col("__cv")))
    scored = cn.join(F.broadcast(qn)).select(
        "__qid", "__cid",
        F.round(dot(F.col("__cv"), F.col("__qv"))
                / (F.col("__cn") * F.col("__qn")), 6).alias("cos_sim"),
    ).filter(F.col("__qid") != F.col("__cid"))
    w = Window.partitionBy("__qid").orderBy(F.desc("cos_sim"), F.col("__cid"))
    exp = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 3).collect())
    canon = lambda v: "NaN" if (v is not None and math.isnan(v)) else v
    got_s = sorted([(r["qid"], r["cid"], r["rank"], canon(r["cos_sim"]))
                    for r in out], key=lambda t: (t[0], t[2]))
    exp_s = sorted([(r["__qid"], r["__cid"], r["rank"], canon(r["cos_sim"]))
                    for r in exp], key=lambda t: (t[0], t[2]))
    assert got_s == exp_s
    # the NaN-scored rows ARE the JVM top-3 here (desc ranks NaN first)
    assert [t[1] for t in exp_s] == [3, 4, 5]


def test_hard_negatives_eps_none_zero_corpus_rows(spark):
    # eps=None branch: >= k zero-norm cell members used to poison the
    # kth the same way; the top-k must be the REAL pairs
    from csp_spark.similarity import hard_negatives

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.5, 0.5, 0.0]),
            (4, [0.0, 0.0, 0.0]),
            (5, [0.0, 0.0, 0.0]),
            (6, [0.0, 0.0, 0.0]),
        ],
        "vec_id int, embedding array<double>",
    )
    out = hard_negatives(emb, k=2, n_clusters=1, exclude_eps=None).toPandas()
    real = {1, 2, 3}
    for anchor, g in out.groupby("anchor"):
        if anchor in real:
            # both top-2 negatives of a real anchor are the other real
            # rows (zero-norm pairs have NULL cos_sim -> rank last)
            assert set(g["negative"]) == real - {anchor}, (anchor, g)
            assert g["cos_sim"].notna().all()


@pytest.mark.slow
def test_cosine_pairs_above_matches_join_form(spark, emb, degenerate_emb):
    # the BLAS-selected form must be row- and bit-identical to the
    # former all-pairs join expression, including degenerate inputs
    # (NULL vectors / NULL elements -> NULL cosine -> dropped;
    # duplicate ids keep the join's multiplicity)
    from csp_spark.similarity import cosine, cosine_pairs_above

    def join_form(df, thr):
        a = df.select(F.col("vec_id").alias("id_a"),
                      F.col("embedding").alias("va"))
        b = df.select(F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("vb"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim", F.round(
                cosine(F.col("va").cast("array<double>"),
                       F.col("vb").cast("array<double>")), 6))
            .filter(F.col("cos_sim") >= thr)
            .select("id_a", "id_b", "cos_sim")
        )

    def canon(rows):
        # NaN != NaN in tuple equality; NaN cos_sim rows (NaN-element
        # vectors: round(NaN) >= thr is TRUE via nanSafeCompare) are
        # expected from BOTH forms identically
        return sorted(
            (a, b, "NaN" if isinstance(c, float) and math.isnan(c) else c)
            for a, b, c in map(tuple, rows)
        )

    for df, thr in ((emb, 0.35), (degenerate_emb, 0.5)):
        got = canon(cosine_pairs_above(
            df, thr, id_col="vec_id", vec_col="embedding").collect())
        exp = canon(join_form(df, thr).collect())
        assert got == exp and len(exp) > 0

    # duplicate ids + NULL vector/element rows
    dup = spark.createDataFrame(
        [
            (1, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [1.0, 0.05]),
            (3, None), (4, [1.0, None]),
        ],
        "vec_id int, embedding array<double>",
    )
    got = sorted(map(tuple, cosine_pairs_above(
        dup, 0.5, id_col="vec_id", vec_col="embedding").collect()))
    exp = sorted(map(tuple, join_form(dup, 0.5).collect()))
    assert got == exp and len(exp) == 2  # both id-1 rows pair with id 2


def test_cosine_pairs_above_collect_guard(spark, emb, monkeypatch):
    # the driver collect is capped (VERDICT r12 item 9): past
    # CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS (rows x dim doubles) it
    # raises loudly, pointing at embedding_near_dups
    from csp_spark.similarity import cosine_pairs_above

    monkeypatch.setenv("CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS", "8")
    with pytest.raises(ValueError, match="embedding_near_dups"):
        cosine_pairs_above(emb, 0.5, id_col="vec_id", vec_col="embedding")
    monkeypatch.setenv(
        "CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS", str(64 * 1024 * 1024)
    )
    assert cosine_pairs_above(
        emb, 0.99, id_col="vec_id", vec_col="embedding"
    ).count() >= 0  # in-cap path unchanged


@pytest.mark.parametrize("scorer", ["cosine_pairs_above", "knn_join"])
def test_collect_guard_stops_before_over_cap_partitions(spark, monkeypatch,
                                                        scorer):
    # the guarded collect streams partition by partition and stops once
    # past the budget: 4 partitions x 3 rows of 2-dim vectors against a
    # budget of 8 doubles (4 rows) must raise the guard's error during
    # partition 1, before partitions 2 and 3 — which fail when
    # evaluated — are ever computed
    from csp_spark.similarity import cosine_pairs_above, knn_join

    df = spark.range(0, 12, 1, numPartitions=4).select(
        F.col("id").alias("vec_id"),
        F.when(F.spark_partition_id() >= 2,
               F.raise_error(F.lit("collected past the guard")))
        .otherwise(F.array(F.lit(1.0), F.col("id").cast("double")))
        .alias("embedding"),
    )
    monkeypatch.setenv("CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS", "8")
    with pytest.raises(ValueError, match="exceeds 4 rows x 2 dims"):
        if scorer == "knn_join":
            knn_join(df, df, k=1, query_id="vec_id", corpus_id="vec_id")
        else:
            cosine_pairs_above(df, 0.5)


# ---------------------------------------------------------------------------
# One degenerate-input contract for the four margin-select scorers: each
# result equals the pure-JVM expression form (every row pair scored by
# Spark expressions, never numpy), and ragged vectors raise loudly.

_NAN = float("nan")
_VEC_BASE = [
    (1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.5, 0.5, 0.0]),
    (4, [0.0, 1.0, 0.0]), (5, [0.2, 0.1, 0.9]), (6, [-1.0, 0.2, 0.0]),
]
_VEC_CASES = {
    "null_vector": _VEC_BASE + [(7, None), (8, [1.0, None, 0.0])],
    "nan_element": _VEC_BASE + [(7, [_NAN, 0.0, 0.0]), (8, [_NAN, 1.0, 0.0])],
    "zero_norm": _VEC_BASE + [(7, [0.0, 0.0, 0.0]), (8, [0.0, 0.0, 0.0])],
    "duplicate_ids": _VEC_BASE + [(2, [0.9, 0.1, 0.0]), (3, [0.4, 0.6, 0.0])],
    # a NULL id passes no id comparison, so it pairs with nothing
    "null_id": _VEC_BASE + [(None, [1.0, 0.0, 0.0]), (None, [0.4, 0.6, 0.0])],
    # exact-tie groups at the top-k boundary (cos = 1.0 three ways)
    "tied_vectors": _VEC_BASE + [(9, [1.0, 0.0, 0.0]), (10, [1.0, 0.0, 0.0]),
                                 (11, [2.0, 0.0, 0.0])],
    "ragged": _VEC_BASE + [(7, [1.0, 0.0])],
    "empty": [],
}


def _jvm_pairs(df, cond):
    """Every row pair meeting ``cond`` scored with the exact expression."""
    from csp_spark.similarity.ann import dot, norm

    a = df.select(F.col("vec_id").alias("id_a"),
                  F.col("embedding").cast("array<double>").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"),
                  F.col("embedding").cast("array<double>").alias("vb"))
    return a.crossJoin(b).filter(cond(F.col("id_a"), F.col("id_b"))).select(
        "id_a", "id_b",
        F.round(dot(F.col("va"), F.col("vb"))
                / (norm(F.col("va")) * norm(F.col("vb"))), 6).alias("cos_sim"),
    )


def _jvm_topk(df, k, eps=None):
    from pyspark.sql import Window

    s = _jvm_pairs(df, lambda a, b: a != b)
    if eps is not None:
        s = s.filter(F.col("cos_sim") < eps)
    w = Window.partitionBy("id_a").orderBy(F.desc("cos_sim"), F.col("id_b"))
    return s.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _run_knn(df):
    from csp_spark.similarity import knn_join

    spark = df.sparkSession
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    # several Arrow batches per partition and several partitions: the
    # running top-k across blocks and the per-partition pools both run
    spark.conf.set(key, "3")
    try:
        out = knn_join(
            df.select(F.col("vec_id").alias("qid"), "embedding"),
            df.select(F.col("vec_id").alias("cid"), "embedding").repartition(2),
            k=3,
        ).collect()
    finally:
        spark.conf.set(key, old)
    return [(r["qid"], r["cid"], r["rank"], r["cos_sim"]) for r in out]


def _run_hard_negatives(df):
    from csp_spark.similarity import hard_negatives

    out = hard_negatives(df, k=2, n_clusters=1, exclude_eps=0.95).collect()
    return [(r["anchor"], r["negative"], r["rank"], r["cos_sim"]) for r in out]


def _run_cosine_pairs(df):
    from csp_spark.similarity import cosine_pairs_above

    return [tuple(r) for r in cosine_pairs_above(df, 0.5).collect()]


def _run_semdedup(df):
    out = DD.semdedup(df, eps=0.9, n_clusters=1, keep="min_id").collect()
    return {r["vec_id"] for r in out if r["kept"] == 0}


def _topk_rows(df, k, eps=None):
    return [(r["id_a"], r["id_b"], r["rank"], r["cos_sim"])
            for r in _jvm_topk(df, k, eps).collect()]


_VEC_SCORERS = {
    "knn_join": (_run_knn, lambda df: _topk_rows(df, 3)),
    # knn_join covers the top-k mode without a bound, this with one
    "hard_negatives": (_run_hard_negatives, lambda df: _topk_rows(df, 2, 0.95)),
    "cosine_pairs_above": (_run_cosine_pairs, lambda df: [
        tuple(r) for r in _jvm_pairs(df, lambda a, b: a < b)
        .filter(F.col("cos_sim") >= 0.5).collect()]),
    "semdedup": (_run_semdedup,
                 lambda df: _jvm_semdedup_removed(df.sparkSession, df, 0.9,
                                                  "min_id")),
}


def _canon_rows(rows):
    if isinstance(rows, set):
        return rows
    return sorted(
        (tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
               for v in r) for r in rows),
        key=repr,
    )


@pytest.mark.parametrize("case", list(_VEC_CASES))
@pytest.mark.parametrize("scorer", list(_VEC_SCORERS))
def test_vector_scorers_degenerate_match_jvm(spark, scorer, case):
    df = spark.createDataFrame(
        _VEC_CASES[case], "vec_id int, embedding array<double>"
    )
    run, reference = _VEC_SCORERS[scorer]
    if case == "ragged":
        with pytest.raises(Exception, match="ragged"):
            run(df)
        return
    assert _canon_rows(run(df)) == _canon_rows(reference(df))


def test_knn_join_unknown_method_raises(spark, emb):
    from csp_spark.similarity import knn_join

    with pytest.raises(ValueError, match="'exact' or 'blas'"):
        knn_join(emb, emb, k=3, query_id="vec_id", corpus_id="vec_id",
                 method="reference")
