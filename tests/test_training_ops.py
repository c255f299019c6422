"""Tests for the training-data pipeline operators: splits, dedup family,
similarity search, text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from page_segmentation_spark.functions import text as T
from page_segmentation_spark.functions.hashing import h32, h32_py
from page_segmentation_spark.operators import dedup as D
from page_segmentation_spark.operators import multimodal as MM
from page_segmentation_spark.operators import similarity as S
from page_segmentation_spark.operators.splits import (
    create_splits,
    fold_test,
    fold_train,
    single_split,
)


# ------------------------------------------------------------------ hashing

def test_h32_matches_python(spark):
    df = spark.createDataFrame([("abc",), ("",), ("ümlaut",)], "s string")
    rows = df.select("s", h32(F.col("s")).alias("h")).collect()
    for r in rows:
        assert r["h"] == h32_py(r["s"])


# ------------------------------------------------------------------- splits

def test_single_split_fractions_and_determinism(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    out = single_split(df, "id", {"train": 0.8, "test": 0.1, "eval": -1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "test", "eval"}
    assert 700 < counts["train"] < 900  # hash buckets ~80%
    # determinism under repartition
    out2 = single_split(
        df.repartition(7), "id", {"train": 0.8, "test": 0.1, "eval": -1}
    )
    assert out.orderBy("id").collect() == out2.orderBy("id").collect()


def test_single_split_validation(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        single_split(df, "id", {"a": 0.5, "b": 0.6})
    with pytest.raises(ValueError):
        single_split(df, "id", {"a": -1, "b": -1})


def test_kfold_partition(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "id long")
    folds = create_splits(df, "id", k=5)
    n = df.count()
    for f in range(5):
        tr, te = fold_train(folds, f).count(), fold_test(folds, f).count()
        assert tr + te == n
    assert folds.select("fold").distinct().count() == 5


# -------------------------------------------------------------------- dedup

def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (2, "THE  Quick Brown   Fox jumps over the lazy dog "),  # norm dup
        (3, "a completely different document about spark engines"),
        (4, "the quick brown fox jumps over the sleepy dog"),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = D.exact_dedup(_docs(spark), "doc_id", "text").collect()
    groups = {r["keep_id"]: r["dup_count"] for r in out}
    assert groups[0] == 3  # docs 0,1,2 collapse after normalization
    assert groups[3] == 1 and groups[4] == 1


def test_ngram_jaccard_near_dup(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard(
            _docs(spark), "doc_id", "text", n=3, threshold=0.2
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0
    assert 0.4 < pairs[(0, 4)] < 1.0  # one word differs
    assert (0, 3) not in pairs


def test_minhash_lsh_finds_near_dups(spark):
    cand = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(
            _docs(spark), "doc_id", "text", n=3, n_perms=8, band_size=2
        ).collect()
    }
    assert (0, 1) in cand and (0, 2) in cand and (1, 2) in cand
    assert (0, 3) not in cand


_M64 = (1 << 64) - 1


def _ham(a, b):
    """Hamming distance on the raw 64-bit pattern (signed-safe)."""
    return bin((a ^ b) & _M64).count("1")


def test_simhash_identical_and_near(spark):
    sh = {r["sid"]: r["simhash"] for r in
          D.simhash(_docs(spark), "doc_id", "text", bits=64).collect()}
    assert sh[0] == sh[1] == sh[2]
    assert _ham(sh[0], sh[4]) <= _ham(sh[0], sh[3])  # near-dup closer
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_neardup_pairs(
            _docs(spark), "doc_id", "text", max_hamming=2
        ).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs


def test_simhash16_demo_width_matches_low_bits_semantics(spark):
    """The 16-bit demo wrapper stays non-negative and is the bits=16
    projection of the same (+1/-1 bit-vote) construction."""
    sh16 = {r["sid"]: r["simhash"] for r in
            D.simhash16(_docs(spark), "doc_id", "text").collect()}
    assert all(0 <= v < (1 << 16) for v in sh16.values())
    sh16b = {r["sid"]: r["simhash"] for r in
             D.simhash(_docs(spark), "doc_id", "text", bits=16).collect()}
    assert sh16 == sh16b


def test_simhash_pairs_plan_is_hash_joinable(spark):
    """The piece-block must plan as equi-joins (a union of them), never a
    nested-loop OR-join — the quadratic scale-killer at 10^12 rows."""
    plan = (
        D.simhash_neardup_pairs(_docs(spark), "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_multi_index_blocking_is_complete(spark):
    """Pigeonhole completeness at the production 64-bit width: with the
    default n_pieces = max_hamming+1 the blocked result equals the
    brute-force pair set — the old 2-half blocker silently lost pairs
    differing >=1 bit in each half."""
    sh = {r["sid"]: r["simhash"] for r in
          D.simhash(_docs(spark), "doc_id", "text", bits=64).collect()}
    for h in (1, 3, 6):
        brute = {
            (a, b): _ham(sh[a], sh[b])
            for a in sh for b in sh
            if a < b and _ham(sh[a], sh[b]) <= h
        }
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in D.simhash_neardup_pairs(
                _docs(spark), "doc_id", "text", max_hamming=h
            ).collect()
        }
        assert got == brute, h
    # explicit n_pieces below h+1: documented recall bound, still a subset
    partial = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_neardup_pairs(
            _docs(spark), "doc_id", "text", max_hamming=6, n_pieces=2
        ).collect()
    }
    assert partial <= set(
        (a, b) for a in sh for b in sh
        if a < b and _ham(sh[a], sh[b]) <= 6
    )
    # 16-bit demo width stays complete too
    sh16 = {r["sid"]: r["simhash"] for r in
            D.simhash16(_docs(spark), "doc_id", "text").collect()}
    got16 = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_neardup_pairs(
            _docs(spark), "doc_id", "text", max_hamming=2, bits=16
        ).collect()
    }
    assert got16 == {
        (a, b): _ham(sh16[a], sh16[b])
        for a in sh16 for b in sh16
        if a < b and _ham(sh16[a], sh16[b]) <= 2
    }


def test_ngram_jaccard_block_col_restricts_pairs(spark):
    from pyspark.sql import functions as F

    docs = _docs(spark).withColumn(
        "blk", F.when(F.col("doc_id") < 2, "a").otherwise("b")
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard(
            docs, "doc_id", "text", n=3, threshold=0.2, block_col="blk"
        ).collect()
    }
    assert (0, 1) in pairs  # same block
    assert (0, 2) not in pairs  # identical text but different block


def test_lsh_verified_pairs_matches_exact_jaccard(spark):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard(
            _docs(spark), "doc_id", "text", n=3, threshold=0.2
        ).collect()
    }
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.lsh_verified_pairs(
            _docs(spark), "doc_id", "text", n=3, n_perms=8,
            band_size=2, threshold=0.2,
        ).collect()
    }
    # every verified candidate carries the exact all-pairs jaccard value
    for pair, jac in verified.items():
        assert exact[pair] == jac
    assert (0, 1) in verified and (0, 2) in verified
    assert (0, 3) not in verified


# --------------------------------------------------------------- similarity

def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
        (4, [0.8, 0.2, 0.1, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark):
    top = S.brute_force_topk(_emb(spark), [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [0, 1, 4]
    assert top[0]["cos_sim"] == 1.0


def test_lsh_bucket_topk_recall(spark):
    exact = [r["vec_id"] for r in
             S.brute_force_topk(_emb(spark), [1.0, 0.0, 0.0, 0.0], k=1).collect()]
    approx = [r["vec_id"] for r in
              S.lsh_bucket_topk(
                  _emb(spark), [1.0, 0.0, 0.0, 0.0], k=1, n_planes=2
              ).collect()]
    assert approx[0] == exact[0]  # nearest vector shares the query bucket


def test_ivf_topk_probes_nearest_lists(spark):
    """IVF: probing the single nearest list finds the exact nearest
    vector; probing all lists recovers the full brute-force ranking."""
    q = [1.0, 0.0, 0.0, 0.0]
    exact = [r["vec_id"] for r in S.brute_force_topk(_emb(spark), q, k=5).collect()]
    one = S.ivf_topk(_emb(spark), q, k=1, n_centroids=2, n_probe=1).collect()
    assert one[0]["vec_id"] == exact[0]
    both = [r["vec_id"] for r in
            S.ivf_topk(_emb(spark), q, k=5, n_centroids=2, n_probe=2).collect()]
    assert both == exact


def test_embedding_neardup_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_neardup_pairs(
            _emb(spark), dim=4, threshold=0.95, n_planes=2
        ).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (0, 3) not in pairs


# -------------------------------------------------------------- text analysis

def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and it is warm",),
            ("der hund und die katze das ist gut",),
            ("xyzzy plugh",),
        ],
        "text string",
    )
    out = [r["lang"] for r in T.with_lang_id(df, "text").collect()]
    assert out == ["en", "de", "und"]


def test_token_count_and_quality(spark):
    df = spark.createDataFrame([("Hello, world. Fine!",), ("",)], "text string")
    rows = df.select(
        T.token_count(F.col("text")).alias("t"),
        T.word_token_count(F.col("text")).alias("b"),
        T.quality_score(F.col("text")).alias("q"),
    ).collect()
    assert rows[0]["t"] == 3 and rows[0]["b"] == 6
    assert rows[1]["t"] == 0 and rows[1]["q"] == 0.0
    assert 0.0 < rows[0]["q"] <= 1.0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",)], "text string"
    )
    fps = [r[0] for r in df.select(T.fingerprint(F.col("text"))).collect()]
    assert fps[0] == fps[1]


def test_url_normalize_branches(spark):
    from page_segmentation_spark.functions.text import url_normalize

    cases = [
        ("HTTPS://WWW.Example.TEST:443/Doc/5/", "https://www.example.test/Doc/5"),
        ("http://site.test:80/doc/1#frag", "http://site.test/doc/1"),
        ("https://other.test/doc/2", "https://other.test/doc/2"),
        ("HTTP://Mixed.Case.test/Path/3/#x", "http://mixed.case.test/Path/3"),
        ("www.nochain.test/doc/4#f", "www.nochain.test/doc/4"),
        ("ftp://files.test:80/doc/6/", "ftp://files.test:80/doc/6"),
        ("https://h.test/", "https://h.test/"),  # root slash kept
        ("https://h.test:8443/x", "https://h.test:8443/x"),  # odd port kept
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(url_normalize(F.col("url"))).collect()]
    assert got == [e for _, e in cases]


def test_vocab_coverage_semantics_and_plan(spark):
    from page_segmentation_spark.functions.text import vocab_coverage

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog xylophone qwerty"),
        (3, "   "),  # blank: dropped like token_count's zero case
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           vocab_coverage(df, "doc_id", "text", top_k=3).collect()}
    # top-3 vocab by (count desc, token asc): the(3), cat(1), dog(1)
    assert 3 not in out
    assert (out[1]["n_tokens"], out[1]["in_vocab"]) == (6, 3)
    assert out[1]["coverage"] == 3 / 6
    assert (out[2]["n_tokens"], out[2]["in_vocab"]) == (4, 2)
    # plan: per-partition top-k (TakeOrdered), broadcast mark join, no
    # global sort of the vocabulary
    plan = vocab_coverage(df, "doc_id", "text", top_k=3)._jdf \
        .queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


# --------------------------------------------------------------- multimodal

def _pixval(x, y, c):
    return (7 * x + 13 * y + 17 * c) % 256


def test_png_roundtrip_all_filters_and_colortypes():
    from page_segmentation_spark.datagen import build_png

    for channels in (1, 3, 4):
        for ftype in range(5):
            png = build_png(6, 5, channels, _pixval, filter_type=ftype)
            w, h, ch, samples = MM.decode_png(png)
            assert (w, h, ch) == (6, 5, channels)
            expected = bytes(
                _pixval(x, y, c)
                for y in range(5)
                for x in range(6)
                for c in range(channels)
            )
            assert samples == expected, f"filter={ftype} ch={channels}"


def test_bmp_roundtrip_with_row_padding():
    from page_segmentation_spark.datagen import build_bmp

    # width 5 -> 15 pixel bytes/row -> 1 pad byte (exercises stride math)
    bmp = build_bmp(5, 4, _pixval)
    w, h, ch, samples = MM.decode_bmp(bmp)
    assert (w, h, ch) == (5, 4, 3)
    expected = bytes(
        _pixval(x, y, c) for y in range(4) for x in range(5) for c in range(3)
    )
    assert samples == expected


def test_image_features_closed_form():
    from page_segmentation_spark.datagen import make_media_payload, media_dims

    for doc_id in range(12):  # covers all (filter, colortype, bmp) combos
        w, h, ch = media_dims(doc_id)
        feats = MM.image_features(make_media_payload(doc_id))
        vals = [
            (7 * x + 13 * y + 31 * doc_id + 17 * c) % 256
            for y in range(h)
            for x in range(w)
            for c in range(ch)
        ]
        fg = sum(
            1
            for y in range(h)
            for x in range(w)
            if (7 * x + 13 * y + 31 * doc_id) % 256 < MM.FG_THRESHOLD
        )
        assert feats == (w, h, ch, sum(vals) / len(vals), fg / (w * h))


def test_image_features_rejects_garbage():
    assert MM.image_features(None) is None
    assert MM.image_features(b"") is None
    assert MM.image_features(b"JFIF not supported") is None
    assert MM.image_features(b"\x89PNG\r\n\x1a\x08truncated") is None
    assert MM.image_features(b"BM short") is None


def test_multimodal_feature_plumbing(spark):
    from page_segmentation_spark.datagen import make_media_payload

    rows = [
        ("u1", 0, make_media_payload(0)),
        ("u1", 1, None),
        ("u2", 0, b"JFIF x"),
        ("u2", 1, make_media_payload(5)),
    ]
    df = spark.createDataFrame(rows, "url string, media_idx int, payload binary")
    out = MM.extract_features(df).collect()
    assert len(out) == 4
    by_key = {(r["url"], r["media_idx"]): r for r in out}
    good = by_key[("u1", 0)]
    assert (good["width"], good["height"], good["channels"]) == (4, 4, 1)
    assert by_key[("u1", 1)]["width"] is None  # null payload -> null features
    assert by_key[("u2", 0)]["px_mean"] is None  # unsupported format
    exp = MM.image_features(make_media_payload(5))
    got5 = by_key[("u2", 1)]
    assert (
        got5["width"], got5["height"], got5["channels"],
        got5["px_mean"], got5["fg_ratio"],
    ) == exp


def test_wav_decode_closed_form():
    import math

    from page_segmentation_spark.datagen import (
        audio_params,
        audio_sample,
        build_wav,
    )

    for doc_id in range(8):  # covers all (rate, channels) combos
        rate, ch, nf = audio_params(doc_id)
        r2, c2, samples = MM.decode_wav(build_wav(doc_id))
        assert (r2, c2, len(samples)) == (rate, ch, nf * ch)
        assert [int(s) for s in samples[:6]] == [
            audio_sample(doc_id, k // ch, k % ch) for k in range(6)
        ]
        feats = MM.audio_features(build_wav(doc_id))
        ss = sum(
            audio_sample(doc_id, f, c) ** 2
            for f in range(nf) for c in range(ch)
        )
        cross = sum(
            (audio_sample(doc_id, f, c) < 0)
            != (audio_sample(doc_id, f - 1, c) < 0)
            for f in range(1, nf) for c in range(ch)
        )
        assert feats == (
            rate, ch, nf, nf / rate,
            math.sqrt(ss / (nf * ch)), cross / (ch * (nf - 1)),
        )


def test_wav_rejects_garbage():
    from page_segmentation_spark.datagen import build_wav

    wav = build_wav(3)
    assert MM.audio_features(None) is None
    assert MM.audio_features(b"") is None
    assert MM.audio_features(b"RIFFxxxxWAVE") is None  # no fmt/data
    assert MM.audio_features(wav[:40]) is None  # truncated
    # non-PCM format tag -> NULL, never an exception
    bad = bytearray(wav)
    fmt_at = wav.index(b"fmt ")
    bad[fmt_at + 8] = 3  # IEEE-float format tag
    assert MM.audio_features(bytes(bad)) is None


def test_audio_feature_plumbing(spark):
    from page_segmentation_spark.datagen import build_wav

    rows = [
        ("u1", 0, build_wav(0)),
        ("u1", 1, None),
        ("u2", 0, b"not audio"),
    ]
    df = spark.createDataFrame(
        rows, "url string, media_idx int, payload binary"
    )
    out = {(r["url"], r["media_idx"]): r
           for r in MM.extract_audio_features(df).collect()}
    assert len(out) == 3
    exp = MM.audio_features(build_wav(0))
    good = out[("u1", 0)]
    assert (
        good["sample_rate"], good["channels"], good["n_frames"],
        good["duration_s"], good["rms"], good["zcr"],
    ) == exp
    assert out[("u1", 1)]["sample_rate"] is None
    assert out[("u2", 0)]["rms"] is None


def test_avi_meta_closed_form():
    from page_segmentation_spark.datagen import build_avi, video_params

    for doc_id in range(12):  # covers all (w, h, frames, usec) combos
        w, h, nf, usec = video_params(doc_id)
        assert MM.parse_avi_meta(build_avi(doc_id)) == (w, h, nf, usec)
        assert MM.video_meta(build_avi(doc_id)) == (
            w, h, nf, 1000000 / usec, (nf * usec) / 1000000
        )


def test_avi_rejects_garbage():
    from page_segmentation_spark.datagen import build_avi, build_wav

    assert MM.video_meta(None) is None
    assert MM.video_meta(b"") is None
    assert MM.video_meta(build_wav(1)) is None  # WAVE, not AVI
    assert MM.video_meta(build_avi(1)[:20]) is None  # truncated
    # an AVI with no avih header anywhere -> NULL, never an exception
    assert MM.video_meta(b"RIFF\x10\x00\x00\x00AVI JUNK\x04\x00\x00\x00abcd") is None


def test_avi_frame_decode_closed_form():
    import numpy as np

    from page_segmentation_spark.datagen import (
        build_avi_frames,
        video_frame_params,
    )

    for doc_id in range(15):  # covers all (w, h, nf) combos incl. padded
        w, h, nf = video_frame_params(doc_id)
        gw, gh, frames = MM.decode_avi_frames(build_avi_frames(doc_id))
        assert (gw, gh, len(frames)) == (w, h, nf)
        for f in (0, nf // 2, nf - 1):
            fr = frames[f].astype(np.int64)
            # pixel closed form, top-down after the bottom-up flip
            y, x = 3, 2
            assert tuple(fr[y, x]) == (3 * x + f, 5 * y + 2 * f, x + y + f)
            sums = fr.reshape(-1, 3).sum(axis=0)
            assert sums[0] == h * (3 * w * (w - 1) // 2 + w * f)
            assert sums[1] == w * (5 * h * (h - 1) // 2 + 2 * f * h)
            assert sums[2] == (h * w * (w - 1) // 2
                               + w * h * (h - 1) // 2 + w * h * f)


def test_avi_frame_decode_rejects_compressed():
    import pytest as _pytest

    from page_segmentation_spark.datagen import build_avi, build_avi_frames

    # metadata-only AVI (no strl/strf) and compressed streams both raise
    with _pytest.raises(ValueError):
        MM.decode_avi_frames(build_avi(1))
    data = bytearray(build_avi_frames(1))
    i = data.find(b"strf")
    data[i + 8 + 16: i + 8 + 20] = b"MJPG"  # biCompression
    with _pytest.raises(ValueError, match="out of scope"):
        MM.decode_avi_frames(bytes(data))


def test_extract_frame_features_samples_and_skips(spark):
    from page_segmentation_spark.datagen import build_avi_frames
    from page_segmentation_spark.packaging import ship_package

    ship_package(spark)
    df = spark.createDataFrame(
        [
            ("u1", 0, bytearray(build_avi_frames(0))),   # 16x8, 6 frames
            ("u1", 1, bytearray(b"not media")),          # skipped
            ("u2", 0, None),                             # skipped
        ],
        "url string, media_idx int, payload binary",
    )
    rows = MM.extract_frame_features(df, every_n=4).collect()
    got = {(r["url"], r["media_idx"], r["frame_idx"]): r for r in rows}
    assert set(got) == {("u1", 0, 0), ("u1", 0, 4)}
    r = got[("u1", 0, 4)]
    w, h, f = 16, 8, 4
    assert (r["width"], r["height"]) == (w, h)
    assert r["mean_b"] == h * (3 * w * (w - 1) // 2 + w * f) / (w * h)
    assert r["mean_g"] == w * (5 * h * (h - 1) // 2 + 2 * f * h) / (w * h)


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([("u", 25)], "url string, n_frames int")
    idx = [r["frame_idx"] for r in
           MM.frame_sample_plan(df, every_n=10).collect()]
    assert idx == [0, 10, 20]


def test_widen_channels_and_remap(spark):
    from page_segmentation_spark.functions.arrays import (
        remap_to_original,
        widen_channels,
    )

    df = spark.createDataFrame([(1.5,)], "x double")
    assert df.select(widen_channels(F.col("x"))).first()[0] == [1.5, 1.5, 1.5]

    orig = spark.createDataFrame(
        [("u", i) for i in range(6)], "url string, node_idx long"
    )
    coarse = spark.createDataFrame(
        [("u", 0, 10), ("u", 1, 20), ("u", 2, 30)],
        "url string, node_idx long, pred int",
    )
    out = remap_to_original(orig, coarse, stride=2)
    got = {r["node_idx"]: r["pred"] for r in out.collect()}
    assert got == {0: 10, 1: 10, 2: 20, 3: 20, 4: 30, 5: 30}


# ------------------------------------------------- paragraph dedup / PII


def test_paragraph_dedup_newline_paragraphs(spark):
    """Real CCNet case: newline-delimited paragraphs, the shared footer
    paragraph is dropped everywhere, unique prose survives in order."""
    boiler = "subscribe to our newsletter"
    docs = [
        (1, f"alpha beta gamma\n{boiler}\ndelta epsilon"),
        (2, f"{boiler}\nzeta eta theta"),
        (3, "iota kappa lambda\nmu nu xi"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.paragraph_dedup(
            df, "doc_id", F.split(F.col("text"), "\n"), max_dup=1,
            separator="\n",
        ).collect()
    }
    assert out[1]["clean_text"] == "alpha beta gamma\ndelta epsilon"
    assert out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == "zeta eta theta"
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"] == "iota kappa lambda\nmu nu xi"


def test_paragraph_dedup_all_dropped_keeps_row(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in D.paragraph_dedup(
            df, "doc_id", F.array(F.col("text")), max_dup=1
        ).collect()
    }
    assert out[1]["clean_text"] == "" and out[1]["n_kept"] == 0
    assert out[2]["n_removed"] == 1


def test_word_chunks_cover_text_in_order(spark):
    df = spark.createDataFrame([("a b c d e f g",)], "text string")
    row = df.select(
        D.word_chunks(F.col("text"), 3).alias("ch")
    ).collect()[0]
    assert row["ch"] == ["a b c", "d e f", "g"]


def test_scrub_pii_and_counts(spark):
    cases = [
        (1, "mail me at jane.doe+x@sub.example.co.uk today"),
        (2, "call +49 (030) 1234-5678 or 555 010 9999"),
        (3, "no pii here, version 1.2.3 and year 2024"),
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            T.scrub_pii(F.col("text")).alias("s"),
            T.pii_count(F.col("text"), T.EMAIL_RE).alias("ne"),
            T.pii_count(F.col("text"), T.PHONE_RE).alias("np"),
        ).collect()
    }
    assert rows[1]["s"] == "mail me at <EMAIL> today"
    assert rows[1]["ne"] == 1 and rows[1]["np"] == 0
    assert rows[2]["s"] == "call <PHONE> or <PHONE>"
    assert rows[2]["np"] == 2
    # short digit runs (versions, years) are NOT phones
    assert rows[3]["s"] == cases[2][1]


def test_repetition_signals_closed_form(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),   # top=4/4, grams: 3 total 1 distinct
            (2, "a b c d"),               # all unique
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in T.repetition_signals(df, "doc_id", "text").collect()
    }
    assert rows[1]["top_word_frac"] == 1.0
    assert rows[1]["dup_2gram_frac"] == round(1.0 - 1 / 3.0, 6)
    assert rows[2]["top_word_frac"] == 0.25
    assert rows[2]["dup_2gram_frac"] == 0.0


def test_word_shingles_short_text_yields_empty(spark):
    """Texts shorter than n words must yield an EMPTY shingle array (the
    unguarded sequence() version errored on slice start 0)."""
    df = spark.createDataFrame(
        [(0, "one two"), (1, "one two three four five")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", D.word_shingles(F.col("text"), 4).alias("sh")
    ).collect()}
    assert rows[0] == []
    assert rows[1] == ["one two three four", "two three four five"]


def test_decontaminate_flags_ngram_overlap(spark):
    """A doc sharing any 5-gram with the benchmark set is contaminated;
    others (including short docs) are not."""
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta"),
            (1, "totally different words in this document here"),
            (2, "short doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("xx alpha beta gamma delta epsilon yy",)], "text string"
    )
    out = {r["doc_id"]: r["contaminated"] for r in D.decontaminate(
        corpus, bench, "doc_id", "text", n=5
    ).collect()}
    assert out == {0: True, 1: False, 2: False}


def test_decontaminate_plan_no_nested_loop(spark):
    """The benchmark anti-join must be a hash join on the n-gram hash,
    never a nested loop (quadratic at corpus scale)."""
    corpus = spark.createDataFrame(
        [(0, "a b c d e f g")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([("a b c d e",)], "text string")
    plan = (
        D.decontaminate(corpus, bench, "doc_id", "text", n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_url_host_extraction(spark):
    from page_segmentation_spark.functions.text import url_host

    df = spark.createDataFrame(
        [
            ("https://www.example.test/path?q=1",),
            ("http://user:pw@sub.host.org:8080/x",),
            ("www.bare.test/page",),
            ("ftp://files.example.org/f",),
        ],
        "url string",
    )
    hosts = [r["h"] for r in df.select(url_host(F.col("url")).alias("h")).collect()]
    assert hosts == [
        "www.example.test", "sub.host.org", "www.bare.test",
        "files.example.org",
    ]


def test_c4_line_filter_rules(spark):
    """Each C4 rule class fires independently: terminal punctuation,
    minimum word count, banned word, page-level markers, and the
    ordered reconstruct."""
    from page_segmentation_spark.functions.text import c4_line_filter

    docs = [
        # keeps both long punctuated lines, drops title + short line
        (0, "Title line\nthe quick brown fox jumps over it.\nshort one.\n"
            "a second good line with plenty of words here!"),
        # banned word drops an otherwise-good line
        (1, "this line mentions JavaScript embedded somewhere in prose.\n"
            "a perfectly fine line with enough words here."),
        # page marker: '{' rejects the page even with good lines
        (2, "function() { return 1; }\n"
            "one good line with enough words to pass muster.\n"
            "another good line with enough words to pass muster."),
        # lorem ipsum marker, case-insensitive
        (3, "Lorem Ipsum dolor sit amet something something here.\n"
            "another good line with enough words to pass muster."),
        # too few kept lines -> page dropped
        (4, "only one good line with enough words to pass muster."),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in c4_line_filter(
            df, "doc_id", "text", min_words=5,
            banned_words=("javascript",), min_kept_lines=2,
        ).collect()
    }
    assert out[0]["n_kept"] == 2 and out[0]["page_kept"] == 1
    assert out[0]["clean_text"] == (
        "the quick brown fox jumps over it.\n"
        "a second good line with plenty of words here!"
    )
    assert out[1]["n_kept"] == 1 and out[1]["page_kept"] == 0
    assert "JavaScript" not in out[1]["clean_text"]
    assert out[2]["page_kept"] == 0 and out[2]["n_kept"] == 2
    assert out[3]["page_kept"] == 0
    assert out[4]["n_kept"] == 1 and out[4]["page_kept"] == 0


def test_c4_line_filter_is_zero_shuffle(spark):
    """The standalone operator must plan as one Arrow kernel: no
    Exchange, no per-row Python eval — it composes into any pipeline."""
    from page_segmentation_spark.functions.text import c4_line_filter

    df = spark.createDataFrame([(0, "x.")], "doc_id long, text string")
    plan = (
        c4_line_filter(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_gopher_quality_rules(spark):
    """Each Gopher rule class (Rae et al. 2021 A1.1) flips keep
    independently; a clean document passes all of them."""
    from page_segmentation_spark.functions.text import gopher_quality

    good = ("the quick brown fox jumps over the lazy dog and then "
            "rests with a calm heart that beats slowly ") * 3  # 57 words
    docs = [
        (0, good),                              # passes everything
        (1, "short text with the and of."),     # < min_words
        (2, good + " " + " ".join(["a"] * 200)),   # mean word len < 3
        (3, good + " " + "## " * 10),           # symbol ratio > 0.1
        (4, good + "\n• one\n• two\n• three"),  # bullet lines > 0.1
        (5, good + "\ntrails..."),              # ellipsis lines > 0.3
        (6, good + " " + " ".join(str(n) for n in range(100, 120))),
        (7, "walk run sit stand move rest stop go come stay " * 6),
    ]
    out = {
        r["doc_id"]: r
        for r in gopher_quality(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id", "text",
        ).collect()
    }
    assert out[0]["keep"] == 1
    assert out[1]["keep"] == 0 and out[1]["n_words"] < 50
    assert out[2]["keep"] == 0 and out[2]["mean_word_len"] < 3.0
    assert out[3]["keep"] == 0 and out[3]["symbol_ratio"] > 0.1
    assert out[4]["keep"] == 0 and out[4]["bullet_frac"] > 0.1
    assert out[5]["keep"] == 0 and out[5]["ellipsis_frac"] > 0.3
    # 20 numeric words over 77 total: alpha fraction below 0.8
    assert out[6]["keep"] == 0 and out[6]["alpha_frac"] < 0.8
    # 60 words but zero Gopher stop words
    assert out[7]["keep"] == 0 and out[7]["n_stop_hits"] < 2


def test_gopher_quality_is_zero_shuffle(spark):
    """Doc-level Gopher rules must plan as one Arrow kernel (the
    corpus-wide repetition rules live elsewhere): no Exchange, no
    per-row Python eval."""
    from page_segmentation_spark.functions.text import gopher_quality

    df = spark.createDataFrame([(0, "x.")], "doc_id long, text string")
    plan = (
        gopher_quality(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def _pipe_page(url, title, paras):
    html = (
        "<!DOCTYPE html><html><head><title>t</title></head><body>"
        f"<article><h1>{title}</h1>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</article>"
        '<nav><ul><li><a href="/">Home</a></li>'
        '<li><a href="/about">About us</a></li>'
        '<li><a href="/c">Contact</a></li></ul></nav></body></html>'
    )
    return (url, None, html.encode(), None, None)


def test_build_training_corpus_funnel(spark):
    """The composed pipeline: C4 drops the title + short pages, Gopher
    drops low-alpha pages, dedup keeps the min url of an exact pair."""
    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
    )

    body = [
        "the quick brown fox jumps over the lazy dog and then rests "
        "with a calm heart near the river bank every day.",
        "a second paragraph of plain prose keeps the word count up "
        "and gives the filter something real to keep.",
        "the third paragraph closes out this little document with "
        "enough words that every rule passes today.",
    ]
    numeric = [" ".join(str(n) for n in range(100, 160)) + " ok."] * 3
    pages = spark.createDataFrame(
        [
            _pipe_page("https://t/a", "One", body),
            _pipe_page("https://t/b", "Two", body),   # dup after C4
            _pipe_page("https://t/c", "Tiny", ["hi."]),  # < min kept lines
            _pipe_page("https://t/d", "Nums", numeric),  # alpha frac fails
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = build_training_corpus(pages).collect()
    assert [r["url"] for r in out] == ["https://t/a"]
    assert out[0]["lang"] == "en"
    assert out[0]["n_tokens"] >= 50
    assert "\n" in out[0]["clean_text"]


def test_build_training_corpus_plan_shape(spark):
    """Whole funnel = ONE dedup Exchange on the fingerprint: extraction
    and the C4/Gopher/langid gates are ONE shuffle-free Arrow kernel,
    and the fingerprint adds no shuffle and no Python eval."""
    import re

    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
    )

    pages = spark.createDataFrame(
        [_pipe_page("https://t/a", "One", ["hello there world today."])],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    plan = (
        build_training_corpus(pages)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "BatchEvalPython" not in plan, plan
    # extraction and the gates share ONE Python worker per task
    assert len(re.findall(r"MapInArrow", plan)) == 1, plan


def test_build_training_corpus_fused_identity_and_plan(spark):
    """The still-accepted fused=True produces identical rows, with the
    dedup fingerprint partition as the ONLY Exchange in the whole
    funnel."""
    import re

    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
    )

    body = [
        "the quick brown fox jumps over the lazy dog and then rests "
        "with a calm heart near the river bank every day.",
        "a second paragraph of plain prose keeps the word count up "
        "and gives the filter something real to keep.",
        "the third paragraph closes out this little document with "
        "enough words that every rule passes today.",
    ]
    pages = spark.createDataFrame(
        [
            _pipe_page("https://t/a", "One", body),
            _pipe_page("https://t/b", "Two", body),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    fused_df = build_training_corpus(pages, fused=True)
    # plan BEFORE execution (post-collect AQE strings repeat the
    # exchange in their Initial Plan section)
    plan = fused_df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "BatchEvalPython" not in plan, plan
    decl = {tuple(r) for r in build_training_corpus(pages).collect()}
    assert {tuple(r) for r in fused_df.collect()} == decl


def test_surprisal_buckets_exact(spark):
    """Integer-exact inverse-frequency surprisal: hand-computed floor
    sums, tercile bucketing with id tie-break."""
    from page_segmentation_spark.functions.text import surprisal_buckets

    docs = [(0, "a a a b"), (1, "a c")]
    # corpus: a=4, b=1, c=1, N=6
    # doc0: 3*(6//4) + 6//1 = 9 over 4 toks -> 2.25
    # doc1: 6//4 + 6//1 = 7 over 2 toks -> 3.5
    out = {
        r["doc_id"]: r
        for r in surprisal_buckets(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id", "text",
        ).collect()
    }
    assert out[0]["surprisal"] == 2.25 and out[0]["bucket"] == "middle"
    assert out[1]["surprisal"] == 3.5 and out[1]["bucket"] == "tail"


def test_repetition_profile_exact(spark):
    """Hand-computed duplicate-line and top-n-gram char fractions."""
    from page_segmentation_spark.functions.text import repetition_profile

    docs = [
        # lines: x / y / y / x -> 2 of 4 are repeats; chars 1 each
        (0, "x\ny\ny\nx"),
        # norm "a b a b a b c" (13 chars): top 2-gram "a b" cnt 3 ->
        # 3*3/13; top 3-gram "a b a" cnt 2 -> 2*5/13; top 4-gram
        # "a b a b" cnt 2 -> 2*7/13 (overlaps count)
        (1, "a b a b a b c"),
        (2, "one two"),  # no 3/4-grams -> 0.0
    ]
    out = {
        r["doc_id"]: r
        for r in repetition_profile(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id", "text",
        ).collect()
    }
    assert out[0]["dup_line_frac"] == 0.5
    assert out[0]["dup_line_char_frac"] == 0.5
    assert out[1]["dup_line_frac"] == 0.0
    assert out[1]["top2gram_char_frac"] == round(9 / 13, 6)
    assert out[1]["top3gram_char_frac"] == round(10 / 13, 6)
    assert out[1]["top4gram_char_frac"] == round(14 / 13, 6)
    assert out[2]["top2gram_char_frac"] == round(7 / 7, 6)
    assert out[2]["top3gram_char_frac"] == 0.0
    assert out[2]["top4gram_char_frac"] == 0.0


def test_host_cap(spark):
    """Per-host cap keeps the K lexicographically-first urls per host."""
    from page_segmentation_spark.functions.text import host_cap

    urls = [
        "https://big.test/1", "https://big.test/2", "https://big.test/3",
        "https://small.test/1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = {r["url"]: r for r in host_cap(df, "url", 2).collect()}
    assert set(out) == {
        "https://big.test/1", "https://big.test/2", "https://small.test/1"
    }
    assert out["https://big.test/1"]["host_rank"] == 1
    assert out["https://big.test/2"]["host_rank"] == 2
    assert out["https://small.test/1"]["host_rank"] == 1
    assert out["https://big.test/2"]["host"] == "big.test"


def test_host_cap_salted_matches_exact_on_megasite_skew(spark):
    """Megasite-skew guarantee: on a one-hot-host fixture the salted
    two-phase cap (a) reproduces the plain single-window result exactly
    and (b) bounds the phase-2 input to <= n_salts * K rows per host —
    no task ever sorts the megasite's full page set."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from page_segmentation_spark.functions.text import (
        _host_cap_candidates,
        host_cap,
        url_host,
    )

    k, n_salts = 7, 8
    urls = [f"https://mega.test/p{i:05d}" for i in range(2000)] + [
        f"https://tiny{j}.test/p{i}" for j in range(5) for i in range(3)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")

    got = sorted(
        (r["url"], r["host_rank"])
        for r in host_cap(df, "url", k, n_salts=n_salts).collect()
    )
    w = Window.partitionBy("host").orderBy(F.col("url").asc())
    exact = sorted(
        (r["url"], r["host_rank"])
        for r in df.select(
            "url", url_host(F.col("url")).alias("host")
        )
        .withColumn("host_rank", F.row_number().over(w))
        .where(F.col("host_rank") <= k)
        .collect()
    )
    assert got == exact

    surv = (
        _host_cap_candidates(df, "url", k, n_salts)
        .groupBy("host")
        .count()
        .collect()
    )
    assert max(r["count"] for r in surv) <= n_salts * k
    # phase 1 genuinely splits the hot host across salt partitions
    plan = (
        host_cap(df, "url", k, n_salts=n_salts)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "__salt" in plan


def test_build_training_corpus_neardup(spark):
    """neardup=True removes verified near-duplicate clusters, keeping
    the min-url representative — exact-dup pages already collapsed by
    the fingerprint stage, near-dup pages by the LSH+Jaccard+components
    chain."""
    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
    )

    body = [
        "the quick brown fox jumps over the lazy dog and then rests "
        "with a calm heart near the river bank every day.",
        "a second paragraph of plain prose keeps the word count up "
        "and gives the filter something real to keep.",
        "the third paragraph closes out this little document with "
        "enough words that every rule passes today.",
    ]
    near = [body[0], body[1],
            body[2].replace("rule passes", "rule still passes")]
    other = [p.replace("the", "an overly").replace("fox", "heron")
             for p in body]
    pages = spark.createDataFrame(
        [
            _pipe_page("https://t/a", "One", body),
            _pipe_page("https://t/b", "Two", near),    # near-dup of /a
            _pipe_page("https://t/c", "Three", other), # distinct
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    base = {r["url"] for r in build_training_corpus(pages).collect()}
    assert base == {"https://t/a", "https://t/b", "https://t/c"}
    nd = {
        r["url"]
        for r in build_training_corpus(
            pages, neardup=True,
            neardup_opts=dict(threshold=0.5, n_perms=8, band_size=2),
        ).collect()
    }
    assert nd == {"https://t/a", "https://t/c"}


def test_surprisal_ref_corpus_and_oov(spark):
    """Reference-corpus scoring: counts come from the ref; a token the
    reference never saw contributes the full N_total (cnt=1 floor)."""
    from page_segmentation_spark.functions.text import surprisal_buckets

    ref = spark.createDataFrame([(100, "a a b")], "doc_id long, text string")
    # ref counts: a=2, b=1, N=3
    docs = [(0, "a b"), (1, "a zz")]
    # doc0: 3//2 + 3//1 = 4 over 2 -> 2.0 ; doc1: 1 + 3 (OOV) = 4/2 -> 2.0
    out = {
        r["doc_id"]: r
        for r in surprisal_buckets(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id", "text", ref=ref,
        ).collect()
    }
    assert out[0]["surprisal"] == 2.0
    assert out[1]["surprisal"] == 2.0


def test_truncate_tokens(spark):
    """Over-budget docs truncate at the word boundary; short docs pass
    through byte-identical (including odd whitespace)."""
    from page_segmentation_spark.functions.text import truncate_tokens

    docs = [(0, "one  two\tthree four"), (1, "a b c")]
    out = {
        r["doc_id"]: r
        for r in truncate_tokens(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id", "text", 3,
        ).collect()
    }
    assert out[0]["text"] == "one two three" and out[0]["truncated"] == 1
    assert out[0]["n_tokens_in"] == 4 and out[0]["n_tokens_out"] == 3
    assert out[1]["text"] == "a b c" and out[1]["truncated"] == 0


def test_sampled_rank_cutoffs_rate1_matches_window_ranks(spark):
    """rate=1.0 identity on distinct values: the helper's floor/ceil
    rank arithmetic must reproduce a hand-computed nearest-rank over the
    full set — pins the integer-rational cutoff math for both modes."""
    from page_segmentation_spark.functions.text import sampled_rank_cutoffs

    vals = sorted({(i * 37) % 101 for i in range(101)})  # 101 distinct
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    )
    m = len(vals)
    floor_cuts = sampled_rank_cutoffs(
        df, "v", "id", ((1, 3), (2, 3)), rate=1.0, mode="floor"
    ).collect()[0]
    assert floor_cuts["cut_1"] == vals[max(1, (m * 1) // 3) - 1]
    assert floor_cuts["cut_2"] == vals[max(1, (m * 2) // 3) - 1]
    ceil_cuts = sampled_rank_cutoffs(
        df, "v", "id", ((25, 100), (90, 100)), rate=1.0, mode="ceil"
    ).collect()[0]
    assert ceil_cuts["cut_1"] == vals[-(-m * 25 // 100) - 1]
    assert ceil_cuts["cut_2"] == vals[-(-m * 90 // 100) - 1]


def test_surprisal_sampled_rate1_matches_exact_up_to_ties(spark):
    """With rate=1.0 the sampled path reproduces the exact terciles for
    every document whose surprisal value maps to a SINGLE exact bucket
    (value-threshold and rank-threshold can only differ where one value
    straddles a tercile boundary — rank ties break on id there)."""
    from page_segmentation_spark.functions.text import surprisal_buckets

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    exact = {
        r["doc_id"]: (r["surprisal"], r["bucket"])
        for r in surprisal_buckets(d, "doc_id", "text").collect()
    }
    by_val = {}
    for _id, (v, b) in exact.items():
        by_val.setdefault(v, set()).add(b)
    unambiguous = {k for k, (v, _b) in exact.items() if len(by_val[v]) == 1}
    assert len(unambiguous) >= 0.95 * len(exact)  # fixture sanity
    sampled = {
        r["doc_id"]: (r["surprisal"], r["bucket"])
        for r in surprisal_buckets(
            d, "doc_id", "text", cutoffs="sampled", sample_rate=1.0
        ).collect()
    }
    assert sampled.keys() == exact.keys()
    for k in unambiguous:
        assert sampled[k] == exact[k], (k, sampled[k], exact[k])


def test_surprisal_sampled_is_close_and_windowless(spark):
    """At rate=0.5 the sampled terciles must agree with the exact form
    on the large majority of documents, and the full-corpus branch of
    the plan must carry NO window at all (the whole point: the only
    row_number sorts the sample)."""
    from page_segmentation_spark.functions.text import surprisal_buckets

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    exact = {
        r["doc_id"]: r["bucket"]
        for r in surprisal_buckets(d, "doc_id", "text").collect()
    }
    out = surprisal_buckets(
        d, "doc_id", "text", cutoffs="sampled", sample_rate=0.5
    )
    sampled = {r["doc_id"]: r["bucket"] for r in out.collect()}
    assert sampled.keys() == exact.keys()
    agree = sum(1 for k in exact if sampled[k] == exact[k])
    assert agree / len(exact) >= 0.9, (agree, len(exact))
    # bucket sizes stay near-tercile
    from collections import Counter

    c = Counter(sampled.values())
    n = len(sampled)
    for b in ("head", "middle", "tail"):
        assert abs(c[b] - n / 3) <= 0.15 * n, c
    # the window must sit on the sampled branch only: the plan has one
    # Window and it is fed by the hash-threshold Filter
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 1
    import re

    widx = plan.index("Window")
    tail_of_window_subtree = plan[widx:]
    assert re.search(r"Filter.*md5", tail_of_window_subtree, re.S) or (
        "conv(" in tail_of_window_subtree
    ), plan


def test_token_quantiles_sampled_rate1_matches_exact_audit(spark):
    """token_quantiles_sampled at rate=1.0 reproduces the exact audit
    (queries.text_token_quantiles) value-for-value; at rate=0.5 the
    quantiles stay within a tolerance band while n_docs/max stay exact."""
    from page_segmentation_spark.functions.text import (
        token_quantiles_sampled,
    )
    from page_segmentation_spark.queries import QUERIES

    exact = {
        r["lang"]: r.asDict()
        for r in QUERIES["text_token_quantiles"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    full = {
        r["stratum"]: r.asDict()
        for r in token_quantiles_sampled(
            d, "lang", "doc_id", "text", rate=1.0
        ).collect()
    }
    assert full.keys() == exact.keys()
    for lang, e in exact.items():
        s = full[lang]
        assert s["n_docs"] == e["n_docs"]
        assert s["max_tokens"] == e["max_tokens"]
        for p in ("p25", "p50", "p75", "p90"):
            assert s[p] == e[p], (lang, p, s[p], e[p])
    half = {
        r["stratum"]: r.asDict()
        for r in token_quantiles_sampled(
            d, "lang", "doc_id", "text", rate=0.5
        ).collect()
    }
    for lang, e in exact.items():
        s = half[lang]
        assert s["n_docs"] == e["n_docs"]
        assert s["max_tokens"] == e["max_tokens"]
        for p in ("p25", "p50", "p75", "p90"):
            # sampled rank error: stay within 20% of the exact value
            assert abs(s[p] - e[p]) <= max(2, 0.2 * e[p]), (lang, p, s, e)


def test_latest_capture_semantics(spark):
    from datetime import datetime

    from page_segmentation_spark.operators.dedup import latest_capture

    df = spark.createDataFrame(
        [
            ("u1", datetime(2024, 1, 1), "old"),
            ("u1", datetime(2024, 3, 1), "new"),
            ("u1", datetime(2024, 2, 1), "mid"),
            ("u2", datetime(2024, 1, 1), "only"),
            # equal timestamps: deterministic tie-break on text (max)
            ("u3", datetime(2024, 1, 1), "aaa"),
            ("u3", datetime(2024, 1, 1), "zzz"),
        ],
        "url string, warc_ts timestamp, text string",
    )
    out = {r["url"]: (r["warc_ts"], r["text"])
           for r in latest_capture(df).collect()}
    assert out == {
        "u1": (datetime(2024, 3, 1), "new"),
        "u2": (datetime(2024, 1, 1), "only"),
        "u3": (datetime(2024, 1, 1), "zzz"),
    }
    # plan: aggregation with map-side partial reduction, never a Window
    # (row_number would keep every capture of a url on one task); the
    # SortAggregate's local sorts are partition-local (global=false)
    plan = latest_capture(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_max" in plan  # map-side combine before the exchange
    assert ", true, 0" not in plan  # no global sort anywhere


def test_url_blocklist_filter_semantics_and_plan(spark):
    bl = spark.createDataFrame(
        [("bad.example",), ("sub2.site5.example",)], "domain string"
    )
    df = spark.createDataFrame(
        [
            ("https://ok.example/a",),
            ("https://bad.example/x",),           # exact domain
            ("https://deep.sub.bad.example/y",),  # subdomain, depth 4
            ("https://notbad.example/z",),        # suffix NOT on a label
            ("https://bad.example.evil/w",),      # blocked name mid-host
            ("https://sub2.site5.example/q",),    # 3-label exact
        ],
        "url string",
    )
    kept = T.url_blocklist_filter(df, bl)
    assert sorted(r["url"] for r in kept.collect()) == [
        "https://bad.example.evil/w",
        "https://notbad.example/z",
        "https://ok.example/a",
    ]
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # zero-shuffle gate
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_duplicate_span_scrub_lee_semantics(spark):
    """Lee-et-al substring dedup: the min-(id,pos) occurrence of a
    duplicated k-gram keeps, every other occurrence's covered words
    drop — including a doc scrubbed to empty (still emitted), and
    untouched docs pass through normalized."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta unique tail"),
        (1, "prefix one alpha beta gamma delta epsilon zeta eta theta x"),
        (2, "totally different words with no overlap whatsoever here"),
        (3, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["clean_text"], r["n_words"], r["n_scrubbed"])
        for r in D.duplicate_span_scrub(df, "doc_id", "text", k=8).collect()
    }
    assert out[0] == (rows[0][1], 10, 0)       # keeper: untouched
    assert out[1] == ("prefix one x", 11, 8)   # span cut mid-doc
    assert out[2] == (rows[2][1], 8, 0)        # no dup: untouched
    assert out[3] == ("", 8, 8)                # fully scrubbed, still a row


def test_duplicate_span_scrub_overlapping_spans_merge(spark):
    """Overlapping duplicated windows cover a union of positions, not
    double-count: a 10-word repeat shared between two docs with k=8
    yields three overlapping duplicated 8-grams in the copy — all 10
    words scrubbed once."""
    shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    df = spark.createDataFrame(
        [(0, shared + " endfirst"), (1, "copy starts " + shared)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_scrubbed"])
        for r in D.duplicate_span_scrub(df, "doc_id", "text", k=8).collect()
    }
    assert out[0] == (shared + " endfirst", 0)
    assert out[1] == ("copy starts", 10)


def test_resize_nearest_exact_mapping():
    import numpy as np

    # 6x4 gray ramp -> 3x2: source coord = floor(target * src / dst)
    a = np.arange(4 * 6, dtype=np.uint8).tobytes()
    r = MM.resize_nearest(a, 6, 4, 1, 3, 2)
    assert r.shape == (2, 3, 1)
    assert r[:, :, 0].tolist() == [[0, 2, 4], [12, 14, 16]]
    # upscale repeats source pixels (floor mapping)
    up = MM.resize_nearest(bytes([1, 2, 3, 4]), 2, 2, 1, 4, 4)
    assert up[:, :, 0].tolist() == [
        [1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 4, 4], [3, 3, 4, 4]
    ]


def test_extract_resized_features(spark):
    from page_segmentation_spark.datagen import make_media_payload, media_dims
    from page_segmentation_spark.packaging import ship_package

    ship_package(spark)
    df = spark.createDataFrame(
        [("u", 4, bytearray(make_media_payload(4))),
         ("u", 1, bytearray(b"junk"))],
        "url string, media_idx int, payload binary",
    )
    out = {r["media_idx"]: r for r in
           MM.extract_resized_features(df, 6, 6).collect()}
    w, h, ch = media_dims(4)
    total = sum(
        (7 * ((x * w) // 6) + 13 * ((y * h) // 6) + 31 * 4 + 17 * c) % 256
        for x in range(6) for y in range(6) for c in range(ch)
    )
    r = out[4]
    assert (r["width"], r["height"], r["channels"]) == (6, 6, ch)
    assert r["px_mean"] == total / (36 * ch)
    assert out[1]["px_mean"] is None  # undecodable -> NULL features


def test_audio_segment_features_boundaries():
    import math

    from page_segmentation_spark.datagen import (
        audio_params,
        audio_sample,
        build_wav,
    )

    for d in (0, 3, 5):  # covers odd frame counts + both channel counts
        rate, ch, nf = audio_params(d)
        segs = MM.audio_segment_features(build_wav(d), 4)
        exp = {}
        for f in range(nf):
            i = (f * 4) // nf  # the shared integer boundary convention
            sq, n = exp.get(i, (0, 0))
            exp[i] = (
                sq + sum(
                    audio_sample(d, f, c) ** 2 for c in range(ch)
                ),
                n + 1,
            )
        want = [
            (i, n, math.sqrt(sq / (n * ch)))
            for i, (sq, n) in sorted(exp.items())
        ]
        assert segs == want
    assert MM.audio_segment_features(None, 4) is None
    assert MM.audio_segment_features(b"junk", 4) is None
