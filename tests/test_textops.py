"""Operator-level tests for dedup / similarity / stats / multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clp_spark.functions.multimodal import binary_meta, decode_features, frame_sample
from clp_spark.textops.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
)
from clp_spark.textops.similarity import (
    brute_force_topk,
    ivf_centroids,
    ivf_topk,
    lsh_bucketed_topk,
)
from clp_spark.textops.stats import fingerprint, token_counts

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_planted(spark):
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "cc dd"), (4, "aa bb")],
        "doc_id long, text string",
    )
    rows = {r["keep_id"]: r["dup_count"] for r in exact_dedup(df).collect()}
    assert rows == {1: 3, 3: 1}


def test_ngram_jaccard_known(spark):
    # doc1/doc2 differ by last word: shingles 3 each? "a b c d" → {a b c, b c d}
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "p q r s t")],
        "doc_id long, text string",
    )
    # shingles(1)={abc,bcd,cde}, shingles(2)={abc,bcd,cdx}: inter=2, union=4 → 1/2
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(df, n=3, threshold=(1, 2)).collect()
    }
    assert pairs == {(1, 2)}
    # raise threshold above 1/2 → no pairs
    assert ngram_jaccard_pairs(df, n=3, threshold=(3, 5)).count() == 0


def test_minhash_lsh_subset_of_exact(docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=(4, 5)).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, threshold=(4, 5)).collect()
    }
    assert lsh <= exact
    # the planted near-identical dups (J≈0.98) must be recalled
    assert len(exact) > 0 and len(lsh) >= len(exact) * 0.8


def test_minhash_lsh_bucket_cap_same_pairs(docs):
    """max_bucket_size=1 forces EVERY bucket through the oversized-bucket
    self-join path; the candidate set (and thus the verified output) must
    be identical to the default array-expansion path."""
    default = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, threshold=(4, 5)).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            docs, threshold=(4, 5), max_bucket_size=1
        ).collect()
    }
    assert capped == default


def test_simhash_identical_docs_equal(spark):
    df = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z w"), (3, "completely different words here")],
        "doc_id long, text string",
    )
    s = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    assert s[1] == s[2] != s[3]
    pairs = simhash_near_dup_pairs(df, max_hamming=3).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}
    assert all(r["hamming"] == 0 for r in pairs if r["doc_a"] == 1)


def test_simhash_blocking_complete(docs):
    """Blocked pair generation must find every pair within the bound that
    a full cross product would (pigeonhole: 4 blocks, ≤3 flips)."""
    s = {r["id"]: r["simhash"] for r in simhash(docs).limit(0).collect()}  # schema probe
    sdf = simhash(docs).collect()
    full = set()
    for i, a in enumerate(sdf):
        for b in sdf[i + 1 :]:
            x, y = sorted((a["id"], b["id"]))
            d = bin((a["simhash"] ^ b["simhash"]) & ((1 << 60) - 1)).count("1")
            if d <= 3:
                full.add((x, y))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    assert got == full and len(full) > 0


def test_simhash_blocking_complete_large_radius(docs):
    """Recall property at the OLD default radius: max_hamming=12 forces
    13 pigeonhole blocks (scale-unsafe for big inputs — that's why the
    default moved to 3 — but recall must still be exact when a caller
    opts in on a small corpus)."""
    sdf = simhash(docs).collect()
    full = set()
    for i, a in enumerate(sdf):
        for b in sdf[i + 1 :]:
            x, y = sorted((a["id"], b["id"]))
            d = bin((a["simhash"] ^ b["simhash"]) & ((1 << 60) - 1)).count("1")
            if d <= 12:
                full.add((x, y))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dup_pairs(docs, max_hamming=12).collect()
    }
    assert got == full and len(full) > 0


def test_embedding_near_dup_symmetric_bound(emb):
    pairs = embedding_near_dup_pairs(emb, threshold=(2, 5)).collect()
    ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    for r in pairs:
        assert r["doc_a"] < r["doc_b"]
        assert r["doc_a"] in ids and r["doc_b"] in ids


def test_ann_lsh_dots_exact_and_recall(emb):
    qv = list(emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    rest = emb.filter(F.col("vec_id") != 0)
    bf = brute_force_topk(rest, qv, k=10).collect()
    lsh = lsh_bucketed_topk(rest, qv, k=10, num_planes=6).collect()
    bf_dots = {r["vec_id"]: r["dot"] for r in bf}
    from clp_spark.textops.similarity import quantized_dot

    qlit = "array(" + ",".join(f"cast({float(x)} as float)" for x in qv) + ")"
    all_dots = {
        r["vec_id"]: r["dot"]
        for r in rest.select(
            "vec_id", F.expr(quantized_dot("embedding", qlit)).alias("dot")
        ).collect()
    }
    # every LSH-returned dot is the true dot for that id
    for r in lsh:
        assert all_dots[r["vec_id"]] == r["dot"]
    # recall: at least 3 of true top-10 in the probed buckets
    assert len({r["vec_id"] for r in lsh} & set(bf_dots)) >= 3


def test_ann_ivf_matches_python_recompute(emb):
    # the Spark plan (md5-ranked centroids -> map-side argmax cell ->
    # nprobe-pruned exact scan) must equal a from-scratch integer
    # recomputation of the same IVF semantics
    import math

    qv = list(emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    rest = emb.filter(F.col("vec_id") != 0)
    got = [(r["vec_id"], r["dot"]) for r in ivf_topk(rest, qv, k=10, n_cells=8, nprobe=3).collect()]

    def quant(v):
        return [math.floor(float(x) * 1000 + 0.5) for x in v]

    data = {r["vec_id"]: quant(r["embedding"]) for r in rest.collect()}
    cents = [(c, quant(v)) for c, v in ivf_centroids(rest, 8)]
    qq = quant(qv)

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    probe = [c for _, c in sorted((-dot(qq, cv), c) for c, cv in cents)[:3]]
    expected = []
    for vid, v in data.items():
        cell = min((-dot(v, cv), c) for c, cv in cents)[1]
        if cell in probe:
            expected.append((-dot(v, qq), vid))
    expected = [(vid, -nd) for nd, vid in sorted(expected)[:10]]
    assert got == expected
    # recall sanity: the pruned scan still finds true neighbors
    bf = {r["vec_id"] for r in brute_force_topk(rest, qv, k=10).collect()}
    assert len({vid for vid, _ in got} & bf) >= 3


def test_ann_ivf_write_probe_partition_pruned(emb, tmp_path):
    # the materialized index: cell-partitioned parquet + saved
    # centroids. A probe must (a) equal the in-memory ivf_topk answer
    # and (b) reach the scan as PartitionFilters on `cell`, so unprobed
    # cells are never listed, let alone read.
    from clp_spark.textops.similarity import ivf_read_topk, ivf_write

    spark = emb.sparkSession
    qv = list(emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    rest = emb.filter(F.col("vec_id") != 0)
    idx = str(tmp_path / "ivf")
    ivf_write(rest, idx, n_cells=8)

    out = ivf_read_topk(spark, idx, qv, k=10, nprobe=3)
    got = [(r["vec_id"], r["dot"]) for r in out.collect()]
    want = [
        (r["vec_id"], r["dot"])
        for r in ivf_topk(rest, qv, k=10, n_cells=8, nprobe=3).collect()
    ]
    assert got == want

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta alpha")], "doc_id long, text string"
    )
    fps = {r["id"]: r["fp"] for r in fingerprint(df).collect()}
    assert fps[1] != fps[2]


def test_token_counts_edges(spark):
    df = spark.createDataFrame(
        [(1, "one two  three"), (2, "a1 b2! c,d")], "doc_id long, text string"
    )
    rows = {r["id"]: (r["n_ws_tokens"], r["n_bpe_tokens"]) for r in token_counts(df).collect()}
    assert rows[1] == (3, 3)
    # a1 b2! c,d → ws: 3; bpe: a,1,b,2,!,c,',',d → 8
    assert rows[2] == (3, 8)


def test_binary_meta_magic(spark):
    df = spark.createDataFrame(
        [
            (1, bytes([0x89, 0x50, 0x4E, 0x47, 0, 0])),
            (2, b"\xff\xd8\xff\xe0abcd"),
            (3, b"plain text bytes"),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["id"]: (r["kind"], r["n_bytes"]) for r in binary_meta(df).collect()}
    assert rows[1] == ("png", 6)
    assert rows[2] == ("jpeg", 8)
    assert rows[3][0] == "unknown"


def test_decode_features_fake_and_stub(spark):
    df = spark.createDataFrame(
        [(1, b"x" * 300), (2, b"y" * 100)], "doc_id long, payload binary"
    )
    rows = {r["id"]: r for r in decode_features(df, fake=True).collect()}
    assert rows[1]["channels"] == 3 and len(rows[1]["features"]) == 16
    assert rows[1]["width"] == 1 + 300 % 64
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        decode_features(df, fake=False).collect()


def test_frame_sample(spark):
    df = spark.createDataFrame([(1, b"z" * 4096)], "doc_id long, payload binary")
    rows = frame_sample(df, every_n_bytes=1024, fake=True).collect()
    assert len(rows) == 4
    assert [r["frame_offset"] for r in rows] == [0, 1024, 2048, 3072]
    # fake=False demuxes for real now: a non-AVI payload fails inside
    # the task (ValueError("not an AVI") surfaces as PythonException)
    with pytest.raises(Exception):
        frame_sample(df, fake=False).collect()


def test_avi_demux_roundtrip():
    """write_avi → demux_avi/decode_avi_frames: real RIFF chunk walk,
    byte-exact frames, offsets pointing at the actual DIB data."""
    import numpy as np

    from clp_spark.functions.multimodal import (
        decode_avi_frames,
        demux_avi,
        synth_avi,
        write_avi,
    )

    rng = np.random.default_rng(11)
    for w, h, n in [(1, 1, 1), (6, 4, 3), (13, 7, 4), (32, 2, 2)]:
        frames = [
            rng.integers(0, 256, w * h * 3, dtype=np.uint8).tobytes()
            for _ in range(n)
        ]
        payload = write_avi(frames, w, h)
        w2, h2, metas = demux_avi(payload)
        assert (w2, h2, len(metas)) == (w, h, n)
        stride = ((w * 3 + 3) // 4) * 4
        for k, (idx, off, sz) in enumerate(metas):
            assert idx == k and sz == stride * h
            # the offset is real: the chunk id sits 8 bytes before it
            assert payload[off - 8 : off - 4] == b"00db"
        _w, _h, decoded = decode_avi_frames(payload)
        for got, want in zip(decoded, frames):
            assert got.tobytes() == want
    # uncompressed DIB frames from a non-zero stream number ('01db' —
    # video as the second stream of a real AVI) must decode, not be
    # mistaken for compressed
    p = write_avi(frames, w, h).replace(b"00db", b"01db")
    _w, _h, decoded = decode_avi_frames(p)
    for got, want in zip(decoded, frames):
        assert got.tobytes() == want
    # synth_avi's closed-form offsets (the mm_frame_sample_avi oracle)
    for did in (0, 7, 13, 41, 9999):
        p = synth_avi(did)
        w, h, metas = demux_avi(p)
        fsz = ((w * 3 + 3) // 4) * 4 * h
        assert [off for _i, off, _s in metas] == [
            232 + k * (8 + fsz) for k in range(len(metas))
        ]


def test_frame_sample_real_avi(spark):
    from clp_spark.functions.multimodal import demux_avi, synth_avi

    ids = [3, 14, 15]
    df = spark.createDataFrame(
        [(i, synth_avi(i)) for i in ids], "doc_id long, payload binary"
    )
    rows = frame_sample(df, fake=False).collect()
    got = {(r["id"], r["frame_idx"], r["frame_offset"]) for r in rows}
    want = {
        (i, k, off)
        for i in ids
        for k, off, _sz in demux_avi(synth_avi(i))[2]
    }
    assert got == want
    # frame-rate subsampling keeps every 2nd frame
    sub = frame_sample(df, fake=False, every_n_frames=2).collect()
    assert {(r["id"], r["frame_idx"]) for r in sub} == {
        (i, k) for i in ids for k in range(0, 1 + i % 4, 2)
    }


def test_codecs_roundtrip():
    """Native BMP/PPM/WAV codecs: encode→decode is byte-exact (public
    container formats, no libraries — multimodal.py)."""
    import numpy as np

    from clp_spark.functions.multimodal import (
        decode_bmp,
        decode_image,
        decode_ppm,
        decode_wav,
        synth_bmp,
        write_bmp,
        write_ppm,
        write_wav,
    )

    rng = np.random.default_rng(7)
    for w, h in [(1, 1), (3, 2), (31, 17), (64, 5)]:
        rgb = rng.integers(0, 256, w * h * 3, dtype=np.uint8).tobytes()
        for enc, dec in ((write_bmp, decode_bmp), (write_ppm, decode_ppm)):
            w2, h2, c2, arr = dec(enc(w, h, rgb))
            assert (w2, h2, c2) == (w, h, 3)
            assert arr.tobytes() == rgb, (enc.__name__, w, h)
    # dispatch picks the right parser
    rgb = rng.integers(0, 256, 6 * 4 * 3, dtype=np.uint8).tobytes()
    assert decode_image(write_bmp(6, 4, rgb))[3].tobytes() == rgb
    assert decode_image(write_ppm(6, 4, rgb))[3].tobytes() == rgb

    samples = rng.integers(-32768, 32768, 777, dtype=np.int16)
    ch, rate, got = decode_wav(write_wav(samples, 8000, 1))
    assert (ch, rate) == (1, 8000)
    assert (got == samples).all()

    # synth_bmp decodes to its closed-form pixel sum
    for doc_id in (0, 1, 17, 31, 255, 256, 9999):
        w, h, c, arr = decode_bmp(synth_bmp(doc_id))
        n = w * h * 3
        seed = doc_id % 256
        S = lambda m: (m // 256) * 32640 + (m % 256) * ((m % 256) - 1) // 2
        assert int(arr.astype(np.int64).sum()) == S(seed + n) - S(seed), doc_id


def test_decode_features_real_bmp(spark):
    from clp_spark.functions.multimodal import synth_bmp

    df = spark.createDataFrame(
        [(i, synth_bmp(i)) for i in (5, 123, 4096)], "doc_id long, payload binary"
    )
    rows = {r["id"]: r for r in decode_features(df).collect()}
    for i in (5, 123, 4096):
        assert rows[i]["width"] == 1 + i % 31
        assert rows[i]["height"] == 1 + i % 17
        assert rows[i]["channels"] == 3
        assert len(rows[i]["features"]) == 16


class TestSpanDedup:
    """ExactSubstr-style span/paragraph dedup (Lee et al. 2022 shape):
    duplicated units survive only in the smallest doc id."""

    def test_strip_duplicated_paragraphs(self, spark):
        from clp_spark.textops.dedup import strip_duplicated_paragraphs

        docs = spark.createDataFrame(
            [
                (1, "alpha\n\ncommon para\n\nbeta"),
                (2, "common para\n\ngamma"),
                (3, "delta"),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["text"]
            for r in strip_duplicated_paragraphs(docs).collect()
        }
        assert got == {
            1: "alpha\n\ncommon para\n\nbeta",
            2: "gamma",
            3: "delta",
        }

    def test_strip_duplicated_spans(self, spark):
        from clp_spark.textops.dedup import strip_duplicated_spans

        docs = spark.createDataFrame(
            [
                (1, "a b c d e x y z v w"),
                (2, "a b c d e q r s t u"),
                (3, "solo text"),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["text"]
            for r in strip_duplicated_spans(docs, span_words=5).collect()
        }
        assert got == {
            1: "a b c d e x y z v w",
            2: "q r s t u",
            3: "solo text",
        }

    def test_fully_stripped_doc_drops(self, spark):
        from clp_spark.textops.dedup import strip_duplicated_spans

        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["text"]
            for r in strip_duplicated_spans(docs, span_words=3).collect()
        }
        assert got == {1: "a b c"}


def test_embedding_near_dup_empty_input_is_noop(spark):
    """An upstream filter may drain the frame; the dedup stage must
    return an empty pair frame, not crash on first()[0]."""
    from clp_spark.textops.dedup import embedding_near_dup_pairs

    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    out = embedding_near_dup_pairs(emb)
    assert out.count() == 0
    assert out.columns == ["doc_a", "doc_b"]


def test_embedding_near_dup_null_leading_embedding(spark):
    """The LSH dimension comes from the first NON-null embedding: a
    leading row without an embedding must not empty the pair set."""
    from clp_spark.textops.dedup import embedding_near_dup_pairs

    emb = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0, 0.5]), (3, [1.0, 0.0, 0.5])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    got = {(r["doc_a"], r["doc_b"]) for r in embedding_near_dup_pairs(emb).collect()}
    assert got == {(2, 3)}


def test_minhash_rejects_uneven_bands(spark):
    """bands must divide num_hashes: remainder hashes would silently
    change recall, and bands > num_hashes degenerates every band to one
    global bucket (an O(n^2) cross-pairing)."""
    import pytest as _pytest

    from clp_spark.textops.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=5)
    with _pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=20)
