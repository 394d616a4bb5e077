"""Text analysis + multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from applications_analytics_midas_hbase_metrics_spark.functions.keys import java_hash_py
from applications_analytics_midas_hbase_metrics_spark.operators import multimodal as MM
from applications_analytics_midas_hbase_metrics_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat and it is a good day for the cat"),
        (2, "der Hund ist nicht ein Tier und das ist gut"),
        (3, "!!! ??? ... ###"),
        (4, "le chat est sur la table et il est pour les chats"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_identify_language(docs):
    got = {r.id: r.predicted_lang for r in T.identify_language(docs).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[4] == "fr"


def test_quality_features(docs):
    rows = {r.id: r for r in T.quality_features(docs).collect()}
    good, punct = rows[1], rows[3]
    assert good.stopword_ratio > 0.2
    assert punct.punct_ratio > 0.5
    assert good.quality_score > punct.quality_score
    assert rows[1].n_tokens == 15


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello world, 42 times!")], ["doc_id", "text"])
    r = T.token_counts(df).first()
    assert r.ws_tokens == 4
    # hello, world, ',', 4, 2, times, '!' -> 7
    assert r.bpe_tokens == 7


def test_repetition_features(spark):
    rows = [
        (1, "spam spam spam spam spam"),     # one repeated 2-gram
        (2, "all words here are unique now"),  # no repeats
        (3, "solo"),                          # < 2 tokens -> no grams
        (4, ""),                              # empty -> no grams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.id: r for r in T.repetition_features(df).collect()}
    # doc 1: 4 grams, all "spam spam" -> 1 distinct, dup frac 0.75, top 1.0
    assert got[1].n_grams == 4
    assert got[1].dup_ngram_frac == pytest.approx(0.75)
    assert got[1].top_ngram_frac == pytest.approx(1.0)
    # doc 2: 5 distinct grams -> no repetition, top gram appears once
    assert got[2].n_grams == 5
    assert got[2].dup_ngram_frac == 0.0
    assert got[2].top_ngram_frac == pytest.approx(0.2)
    # short/empty docs still emit a zero row (curation filters need one
    # verdict per doc, not a missing row)
    for i in (3, 4):
        assert got[i].n_grams == 0
        assert got[i].dup_ngram_frac == 0.0 and got[i].top_ngram_frac == 0.0


def test_scrub_pii(spark):
    rows = [
        (1, "mail a@b.io and c.d+e@f-g.org or call 555-123-4567 now"),
        (2, "no pii here, just 12345 and a@b"),  # @ without TLD: no match
        (3, "served from 10.0.3.77 (backup 192.168.1.1) v1.2 ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.id: r for r in T.scrub_pii(df).collect()}
    assert got[1].n_emails == 2 and got[1].n_phones == 1
    assert got[1].n_ips == 0
    assert got[1].text == "mail <EMAIL> and <EMAIL> or call <PHONE> now"
    assert got[2].n_emails == 0 and got[2].n_phones == 0
    assert got[2].text == "no pii here, just 12345 and a@b"  # unchanged
    # dotted quads scrub; 'v1.2' is not a quad and survives
    assert got[3].n_ips == 2 and got[3].n_emails == 0
    assert got[3].text == "served from <IP> (backup <IP>) v1.2 ok"


def test_fingerprint_matches_python_hash(spark):
    df = spark.createDataFrame([(1, "Some  Text\nHere")], ["doc_id", "text"])
    r = T.fingerprint(df).first()
    assert r.fingerprint == java_hash_py("some text here")


def test_ngram_decontaminate(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # contains bench 3-gram
            (2, "zeta eta theta iota kappa"),       # clean
            (3, "alpha beta gamma"),                # exactly one gram, a hit
            (4, "too short"),                       # < n tokens -> no grams
            (5, "beta gamma delta beta gamma delta x"),  # dup grams count once
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (101, "mu nu xi omicron")],
        ["doc_id", "text"],
    )
    got = {r.id: r for r in T.ngram_decontaminate(corpus, bench, n=3).collect()}
    assert len(got) == 5
    # doc 1: grams {abg, bgd, gde} — abg and bgd are bench grams
    assert (got[1].n_grams, got[1].n_hits, got[1].contaminated) == (3, 2, 1)
    assert (got[2].n_hits, got[2].contaminated) == (0, 0)
    assert (got[3].n_grams, got[3].n_hits, got[3].contaminated) == (1, 1, 1)
    assert (got[4].n_grams, got[4].n_hits, got[4].contaminated) == (0, 0, 0)
    # doc 5: 5 positional grams but only 4 distinct ("beta gamma delta"
    # occurs twice and counts once); the single bench hit is that gram
    assert (got[5].n_grams, got[5].n_hits, got[5].contaminated) == (4, 1, 1)


def test_blocklist_filter_threshold(spark):
    rows = [
        (1, "bad bad good good good good good good good good"),  # 20% -> drop
        (2, "good " * 19 + "bad"),                               # 5%  -> keep
        (3, "all clean here"),                                   # 0%  -> keep
        (4, ""),                                                 # no tokens -> keep
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.id: r for r in T.blocklist_filter(df, ("bad",), max_frac=0.05).collect()
    }
    assert (got[1].n_flagged, got[1].keep) == (2, 0)
    assert (got[2].flagged_frac, got[2].keep) == (0.05, 1)
    assert (got[3].n_flagged, got[3].keep) == (0, 1)
    assert (got[4].n_tokens, got[4].keep) == (0, 1)


def test_chunk_documents_boundaries(spark):
    rows = [
        (1, "a b c d e f g"),  # 7 tokens, window 3 stride 2
        (2, ""),               # empty -> no chunks
        (3, "x"),              # single token -> one short chunk
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r.id, r.chunk_idx, r.n_tokens, r.chunk_text)
        for r in T.chunk_documents(df, window=3, stride=2).collect()
    )
    assert got == [
        (1, 0, 3, "a b c"),
        (1, 1, 3, "c d e"),
        (1, 2, 3, "e f g"),
        (1, 3, 1, "g"),
        (3, 0, 1, "x"),
    ]
    # non-overlapping mode: stride == window tiles the doc exactly
    tiled = sorted(
        (r.chunk_idx, r.chunk_text)
        for r in T.chunk_documents(
            df.filter(F.col("doc_id") == 1), window=3, stride=3
        ).collect()
    )
    assert tiled == [(0, "a b c"), (1, "d e f"), (2, "g")]


def test_multimodal_feature_extraction(docs):
    mm = MM.attach_binary_payload(docs, "text", "doc_id")
    assert dict(mm.dtypes)["payload"] == "binary"
    feats = {r.id: r for r in MM.extract_features(mm).collect()}
    assert all(r.feature_ok == "ok" for r in feats.values())
    r1 = feats[1]
    text1 = "the cat sat on the mat and it is a good day for the cat"
    assert r1.n_bytes == len(text1.encode())
    assert r1.mean_byte == pytest.approx(
        sum(text1.encode()) / len(text1.encode()), abs=1e-6
    )
    assert 1 <= r1.width <= 640 and 1 <= r1.height <= 480


def test_multimodal_error_isolation(spark):
    # empty payload must produce an error row, not kill the task
    df = spark.createDataFrame([(1, ""), (2, "ok")], ["doc_id", "text"])
    mm = MM.attach_binary_payload(df, "text", "doc_id")
    rows = {r.id: r for r in MM.extract_features(mm).collect()}
    assert rows[1].feature_ok.startswith("error:")
    assert rows[2].feature_ok == "ok"


def test_sample_frames_stride(spark):
    df = spark.createDataFrame([(1, "x" * 300)], ["doc_id", "text"])
    mm = MM.attach_binary_payload(df, "text", "doc_id")
    frames = MM.sample_frames(mm, every_n_bytes=64, max_frames=8).collect()
    assert len(frames) == 4  # 300 // 64
    assert all(len(f.frame) <= 64 for f in frames)
    assert [f.frame_idx for f in sorted(frames, key=lambda f: f.frame_idx)] == [0, 1, 2, 3]


def test_resize_payload_budget_and_composition(spark):
    df = spark.createDataFrame(
        [(1, "a" * 5000), (2, "tiny")], ["doc_id", "text"]
    )
    mm = MM.attach_binary_payload(df, "text", "doc_id")
    small = MM.resize_payload(mm, target_width=16, target_height=16)
    rows = {r.id: r for r in small.collect()}
    assert len(rows[1].payload) == 256  # downsampled to the byte budget
    assert rows[1].width == 16 and rows[1].height == 16
    assert rows[2].payload == b"tiny"  # under budget passes through
    # resize output keeps the multimodal schema -> composes downstream
    feats = {r.id: r for r in MM.extract_features(small).collect()}
    assert feats[1].feature_ok == "ok" and feats[1].n_bytes == 256


def test_decode_image_real_non_bmp_is_stubbed():
    with pytest.raises(NotImplementedError):
        MM.decode_image_real(b"\x89PNG")


def test_bmp_roundtrip_decode():
    import numpy as np

    rng = np.random.default_rng(7)
    # width 5 -> 15-byte pixel rows padded to 16: exercises row padding
    px = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    payload = MM.encode_bmp(px)
    feats = MM.decode_image_real(payload)
    assert (feats["width"], feats["height"]) == (5, 3)
    assert feats["n_bytes"] == len(payload)
    assert feats["mean_byte"] == pytest.approx(float(px.mean()))
    with pytest.raises(ValueError):
        MM.decode_image_real(payload[:-8])  # truncated body


def test_extract_features_with_real_bmp_decoder(spark):
    import numpy as np

    px = np.full((2, 2, 3), 100, dtype=np.uint8)
    good = MM.encode_bmp(px)
    rows = [(1, "image", good, 2, 2), (2, "image", b"JFIF....", 0, 0)]
    mm = spark.createDataFrame(
        rows, ["id", "modality", "payload", "width", "height"]
    )
    got = {
        r.id: r
        for r in MM.extract_features(mm, decoder=MM.decode_image_real).collect()
    }
    assert got[1].feature_ok == "ok"
    assert got[1].mean_byte == pytest.approx(100.0)
    # undecodable blob -> isolated error row, not a task failure
    assert got[2].feature_ok.startswith("error:")


def test_png_roundtrip_pixel_exact():
    import zlib

    import numpy as np

    rng = np.random.default_rng(11)
    # 7 rows cycles through ALL five scanline filters (row % 5); odd
    # width exercises the 3-byte-left lookbehind at row starts
    px = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    payload = MM.encode_png(px)
    feats = MM.decode_png(payload)
    assert (feats["width"], feats["height"]) == (5, 7)
    assert feats["n_bytes"] == len(payload)
    assert feats["mean_byte"] == pytest.approx(float(px.mean()))
    # pixel-exactness, not just the mean: re-encoding the decoded
    # payload must reproduce the identical deflate stream
    # (encode is deterministic, so byte-equality implies pixel-equality)
    sig = MM.decode_image_real(payload)  # dispatch routes PNG correctly
    assert sig["width"] == 5

    # corrupt a byte inside the IDAT chunk -> CRC failure
    bad = bytearray(payload)
    bad[len(payload) // 2] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        MM.decode_png(bytes(bad))
    # truncation into the IDAT chunk -> loud error, not garbage pixels
    # (clipping only the trailing IEND is tolerated: pixel data intact)
    with pytest.raises(ValueError):
        MM.decode_png(payload[:-20])
    # unsupported variant (grayscale color type) -> NotImplementedError
    ihdr = bytearray(payload[8:33])
    ihdr[8 + 4 + 9] = 0  # color type byte inside IHDR data
    patched = bytearray(payload)
    patched[25] = 0  # color-type byte at fixed offset 8+4+4+8+1
    # recompute the IHDR CRC so the variant check (not CRC) fires
    data = bytes(patched[16:29])
    patched[29:33] = zlib.crc32(b"IHDR" + data).to_bytes(4, "big")
    with pytest.raises(NotImplementedError, match="unsupported PNG"):
        MM.decode_png(bytes(patched))


def test_extract_features_prefers_decoder_dimensions(spark):
    import numpy as np

    px = np.full((4, 6, 3), 42, dtype=np.uint8)
    payload = MM.encode_png(px)
    # metadata columns LIE about the dimensions; the decoder's IHDR
    # parse must win (round-6 advice: the gate has to exercise the
    # parsed header fields, not synthesizer metadata)
    mm = spark.createDataFrame(
        [(1, "image", payload, 999, 999)],
        ["id", "modality", "payload", "width", "height"],
    )
    r = MM.extract_features(mm, decoder=MM.decode_image_real).collect()[0]
    assert (r.width, r.height) == (6, 4)
    assert r.feature_ok == "ok"
    # fake_decode reports no dims -> metadata passthrough preserved
    r2 = MM.extract_features(mm).collect()[0]
    assert (r2.width, r2.height) == (999, 999)


def test_wav_roundtrip_and_error_paths():
    import numpy as np

    rng = np.random.default_rng(3)
    # mono, stereo, and 3-channel: the frame interleave must invert
    for shape, rate in [((37,), 8000), ((16, 2), 44100), ((5, 3), 12000)]:
        s = rng.integers(-2048, 2048, shape).astype(np.int16)
        d = MM.decode_wav(MM.encode_wav(s, rate))
        ch = 1 if len(shape) == 1 else shape[1]
        assert (d["sample_rate"], d["n_samples"], d["n_channels"]) == (
            rate, shape[0], ch,
        )
        assert d["mean_abs"] == pytest.approx(
            float(np.abs(s.astype(np.int32)).mean())
        )
        assert d["n_bytes"] == 44 + 2 * s.size
    # non-RIFF -> NotImplementedError (extractor stubs it to an error row)
    with pytest.raises(NotImplementedError):
        MM.decode_wav(b"OggS" + b"\x00" * 60)
    # RIFF/WAVE with garbage chunks -> loud ValueError
    with pytest.raises(ValueError):
        MM.decode_wav(
            b"RIFF" + (100).to_bytes(4, "little") + b"WAVE" + b"\x01" * 60
        )


def test_extract_audio_features_isolates_bad_rows(spark):
    import numpy as np

    good = MM.encode_wav(np.arange(-10, 10, dtype=np.int16), 8000)
    rows = [(1, "audio", good), (2, "audio", b"ID3\x03garbage....")]
    mm = spark.createDataFrame(rows, ["id", "modality", "payload"])
    got = {r.id: r for r in MM.extract_audio_features(mm).collect()}
    assert got[1].feature_ok == "ok"
    assert got[1].n_samples == 20 and got[1].n_channels == 1
    assert got[2].feature_ok.startswith("error:")
    assert got[2].n_samples is None


def test_repeated_ngram_spans_semantics(spark):
    rows = [
        (1, "a b c d e f g h"),   # shares "c d e f" with doc 2
        (2, "x y c d e f z w"),
        (3, "p q r s t u v"),     # unique -> clean
        (4, "m m m m m m"),       # within-doc repeats flag everything
        (5, "one two"),           # shorter than n -> zero grams, clean
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.id: r for r in T.repeated_ngram_spans(df, n=4).collect()}
    assert (got[1].n_flagged, got[1].flagged_frac) == (4, 0.5)
    assert (got[2].n_flagged, got[2].flagged_frac) == (4, 0.5)
    assert got[3].n_flagged == 0 and got[5].n_flagged == 0
    assert (got[4].n_flagged, got[4].flagged_frac) == (6, 1.0)
    # overlapping repeated grams union, not double-count: doc 4 has 3
    # identical grams covering 6 positions, not 12
    assert len(got) == 5  # every doc gets a verdict row


def test_ngram_lm_score_semantics(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),   # twin: identical score
        (3, "zyx qwv jkl pqr"),          # all-rare bigrams: lowest score
        (4, "one"),                      # single token: no pairs, NULL
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.id: r for r in T.ngram_lm_score(df).collect()}
    assert got[1].lm_score == got[2].lm_score
    assert got[3].lm_score < got[1].lm_score
    assert got[4].n_pairs == 0 and got[4].lm_score is None
    # exact value replay of doc 3: each bigram occurs once (bc=1), every
    # unigram count... "zyx qwv jkl pqr" tokens appear once each; vocab
    # spans all docs
    import math

    uni: dict = {}
    for _, t_ in rows:
        for w in t_.lower().split():
            uni[w] = uni.get(w, 0) + 1
    V = len(uni)
    lps = [math.log((1 + 1) / (uni[a] + V)) for a in ("zyx", "qwv", "jkl")]
    assert got[3].lm_score == round(sum(lps) / 3, 6)


def test_ngram_lm_score_copartition_equivalence(spark):
    """The scale-adaptive gram co-partition (docpairs hash-partitioned
    by (a, b) before the pin so the `big` aggregate and the score join
    share one exchange) must be a pure layout change: forced on, the
    operator returns exactly the default branch's rows.  The default
    trigger is the disk-pin size policy, which never fires at test
    scale — forcing both branches here is the only coverage the
    co-partitioned shape gets below the rung."""
    from pyspark.sql import functions as F

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("the quick brown fox"),
            F.conv(F.col("id") % 17, 10, 16),
            F.lit("jumps over the lazy dog"),
            F.conv(F.col("id") % 5, 10, 16),
        ).alias("text"),
    )
    base = sorted(
        T.ngram_lm_score(docs, copartition=False).collect()
    )
    copart = sorted(
        T.ngram_lm_score(docs, copartition=True).collect()
    )
    assert base == copart


def test_image_ahash_groups_identical_payloads(spark):
    """aHash signatures: identical pixel content hashes identically
    across distinct doc ids; different geometries carry different
    n_tiles (no cross-size collisions); undecodable payloads emit the
    (0, '') error signature instead of failing."""
    from pyspark.sql import functions as F

    ids = spark.createDataFrame(
        [(i,) for i in (3, 63, 123, 7, 11)], "doc_id bigint"
    )
    pay = MM.synthesize_bmp_payloads(
        ids.select(F.pmod("doc_id", F.lit(60)).alias("gid")).distinct(),
        id_col="gid",
    )
    imgs = ids.select(
        "doc_id", F.pmod("doc_id", F.lit(60)).alias("gid")
    ).join(
        pay.withColumnRenamed("id", "gid").select("gid", "payload"), "gid"
    ).select(F.col("doc_id").alias("id"), "payload")
    got = {r.id: (r.n_tiles, r.ahash) for r in MM.image_ahash(imgs).collect()}
    # 3, 63, 123 share gid 3 -> identical payloads -> identical hash
    assert got[3] == got[63] == got[123]
    assert len(got[3][1]) == got[3][0] > 0
    assert got[7] != got[3] and got[11] != got[3]
    bad = spark.createDataFrame(
        [(99, bytearray(b"notbmp"))], "id bigint, payload binary"
    )
    assert tuple(MM.image_ahash(bad).first()) == (99, 0, "")


def test_audio_fingerprint_groups_identical_payloads(spark):
    """Energy-sign fingerprints: identical PCM hashes identically
    across doc ids; different clips differ; undecodable payloads emit
    (0, '')."""
    from pyspark.sql import functions as F

    # gid 5 -> 25 samples -> 3 frames; gid 44 -> 64 samples -> 8 frames
    # (same-frame-count clips CAN collide in a 3-bit signature space —
    # that is the grouping key working as designed, so the difference
    # assertion uses clips whose n_frames differ structurally)
    ids = spark.createDataFrame(
        [(i,) for i in (5, 65, 125, 44)], "doc_id bigint"
    )
    pay = MM.synthesize_wav_payloads(
        ids.select(F.pmod("doc_id", F.lit(60)).alias("gid")).distinct(),
        id_col="gid",
    )
    clips = ids.select(
        "doc_id", F.pmod("doc_id", F.lit(60)).alias("gid")
    ).join(
        pay.withColumnRenamed("id", "gid").select("gid", "payload"), "gid"
    ).select(F.col("doc_id").alias("id"), "payload")
    got = {
        r.id: (r.n_frames, r.fp)
        for r in MM.audio_fingerprint(clips, frame=8).collect()
    }
    assert got[5] == got[65] == got[125]
    assert len(got[5][1]) == got[5][0] > 0
    assert got[44] != got[5] and got[44][0] == 8
    bad = spark.createDataFrame(
        [(99, bytearray(b"noise"))], "id bigint, payload binary"
    )
    assert tuple(MM.audio_fingerprint(bad).first()) == (99, 0, "")


def test_video_explode_and_scene_cuts(spark):
    """Container plumbing: frames explode to standalone BMPs the image
    path consumes (hand-verified count/order + a decodable first
    frame); scene counts are in [1, n_frames]; truncated containers
    and bad payloads take the error row, not the task."""
    from pyspark.sql import functions as F

    ids = spark.createDataFrame([(3,), (7,)], "doc_id bigint")
    vids = MM.synthesize_video_payloads(ids)
    fr = MM.explode_video_frames(vids.select("id", "payload"))
    got = {(r.id, r.frame_idx) for r in fr.collect()}
    assert got == {(3, f) for f in range(5)} | {(7, f) for f in range(4)}
    # every frame payload is a real BMP the image hasher accepts
    sig = MM.image_ahash(
        fr.select(
            (F.col("id") * 64 + F.col("frame_idx")).alias("id"),
            F.col("frame_payload").alias("payload"),
        )
    )
    assert sig.filter(F.col("n_tiles") == 0).count() == 0
    cuts = {r.id: (r.n_frames, r.n_scenes) for r in MM.video_scene_cuts(
        vids.select("id", "payload")
    ).collect()}
    assert cuts[3][0] == 5 and cuts[7][0] == 4
    assert all(1 <= s <= n for n, s in cuts.values())
    # error isolation: garbage and a truncated container
    trunc = vids.select(
        "id", F.expr("substring(payload, 1, 20)").alias("payload")
    )
    assert {tuple(r) for r in MM.video_scene_cuts(trunc).collect()} == {
        (3, 0, 0), (7, 0, 0)
    }


def test_image_near_pairs_banded_equals_brute(spark):
    """The banded pigeonhole join enumerates exactly the brute-force
    hamming<=d pair set over real BMP signatures — sound and complete
    blocking, for both d=1 (bands 2) and d=2 (bands 3)."""
    from pyspark.sql import functions as F

    ids = spark.createDataFrame([(i,) for i in range(40)], "gid bigint")
    pay = MM.synthesize_bmp_payloads(ids, id_col="gid")
    imgs = pay.select("id", "payload")
    sigs = {r.id: (r.n_tiles, r.ahash) for r in MM.image_ahash(imgs).collect()}

    def brute(d):
        out = set()
        for a, (na, ha) in sigs.items():
            for b, (nbt, hb) in sigs.items():
                if a < b and na == nbt:
                    hm = sum(x != y for x, y in zip(ha, hb))
                    if hm <= d:
                        out.add((a, b, hm))
        return out

    for d in (1, 2):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in MM.image_ahash_near_pairs(imgs, max_hamming=d).collect()
        }
        assert got == brute(d), d
        assert len(got) > 0
    with pytest.raises(ValueError, match="pigeonhole"):
        MM.image_ahash_near_pairs(imgs, max_hamming=2, bands=2)


def test_winnow_fingerprints_guarantee_and_edges(spark):
    # the winnowing guarantee: a shared substring of length >= k+w-1
    # (= 11 for k=8, w=4) forces at least one shared fingerprint
    shared = "quick brown foxes"  # 17 chars after normalization
    docs = spark.createDataFrame(
        [
            (1, f"AAAA {shared} zzz"),
            (2, f"completely other preamble {shared}"),
            (3, "nothing in common here at all"),
            (4, "tiny"),  # shorter than k=8: whole text is the one gram
            (5, "   "),   # normalizes to empty: no rows
        ],
        ["doc_id", "text"],
    )
    out = T.winnow_fingerprints(docs, k=8, w=4).collect()
    fps = {}
    for r in out:
        fps.setdefault(r.id, set()).add(r.fp)
    assert fps[1] & fps[2], "docs sharing an 11+ char substring must share a fp"
    # short doc: exactly one fingerprint, the hash of the whole text
    assert fps[4] == {java_hash_py("tiny")}
    assert 5 not in fps
    # reference parity: every emitted fp is a java_hash of some 8-gram
    norm1 = f"aaaa {shared} zzz"
    grams1 = {java_hash_py(norm1[i : i + 8]) for i in range(len(norm1) - 7)}
    assert fps[1] <= grams1


def test_winnow_overlap_pairs(spark):
    shared = "the quick brown fox jumps over the lazy dog"
    boiler = "all rights reserved worldwide"
    docs = spark.createDataFrame(
        # docs 1 and 2 share a long substring -> pair; the boilerplate
        # suffix is in ALL docs, so with max_df=3 its fingerprints are
        # stop-fps and cannot create pairs among 3,4,5
        [
            (1, f"alpha {shared} {boiler}"),
            (2, f"omega preamble {shared} {boiler}"),
            (3, f"unrelated text one {boiler}"),
            (4, f"different text two {boiler}"),
            (5, f"yet another text {boiler}"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r.id_a, r.id_b): r.n_shared
        for r in T.winnow_overlap_pairs(
            docs, k=8, w=4, max_df=3, min_shared=2
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)] >= 2
    # no pair among the boilerplate-only docs
    assert not any(a >= 3 for (a, b) in out), out


def test_compression_ratio_matches_zlib(spark):
    import zlib

    texts = [
        (1, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),  # compresses hard
        (2, "The quick brown fox jumps over the lazy dog."),
        (3, ""),
        (4, None),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    out = {r.id: r for r in T.compression_ratio(docs).collect()}
    for i, txt in texts:
        raw = (txt or "").encode("utf-8")
        if raw:
            comp = len(zlib.compress(raw, 6))
            assert out[i].raw_bytes == len(raw)
            assert out[i].compressed_bytes == comp
            assert out[i].compression_ratio == round(comp / len(raw), 6)
        else:
            assert out[i].compressed_bytes == 0
            assert out[i].compression_ratio is None
    # the repetitive doc must compress below the prose doc
    assert out[1].compression_ratio < out[2].compression_ratio


def test_winnow_positions_reference(spark):
    """Positional winnowing must select, per window, the FIRST in-window
    occurrence of the window-minimum gram hash — verified against a
    direct Python replay of the algorithm."""
    import re as _re

    from applications_analytics_midas_hbase_metrics_spark.functions.keys import (
        java_hash_py,
    )

    texts = {
        1: "The  quick brown fox jumps over the lazy dog",
        2: "aaaaaaaaaaaaaaa",          # degenerate: all grams equal
        3: "short",                    # shorter than k -> whole-text gram
        4: "one two three four five six seven eight nine",
    }
    k, w = 8, 4
    want = set()
    for doc_id, text in texts.items():
        nm = _re.sub(r"\s+", " ", text.lower()).strip()
        if not nm:
            continue
        n_grams = max(len(nm) - (k - 1), 1)
        gh = [java_hash_py(nm[i : i + k]) for i in range(n_grams)]
        n_windows = max(len(gh) - (w - 1), 1)
        for j in range(n_windows):
            window = gh[j : j + w]
            m = min(window)
            want.add((doc_id, m, j + window.index(m) + 1))
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {
        (r.id, r.fp, r.pos)
        for r in T.winnow_fingerprints(df, k=k, w=w, positions=True).collect()
    }
    assert got == want
    # the value-only variant is exactly the positional variant's fp set
    vals = {
        (r.id, r.fp) for r in T.winnow_fingerprints(df, k=k, w=w).collect()
    }
    assert vals == {(i, fp) for i, fp, _ in want}


def test_winnow_overlap_spans_localizes(spark):
    """Span extents must bracket the shared substring on both sides."""
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, f"alpha {shared} trailing words here"),
            (2, f"omega preamble interlude {shared}"),
            (3, "completely unrelated content in this one"),
        ],
        ["doc_id", "text"],
    )
    rows = T.winnow_overlap_spans(
        docs, k=8, w=4, max_df=3, min_shared=2
    ).collect()
    spans = {(r.id_a, r.id_b): r for r in rows}
    assert set(spans) == {(1, 2)}
    r = spans[(1, 2)]
    # normalized texts: shared starts at 7 in doc 1 ("alpha " is 6
    # chars) and at 26 in doc 2 ("omega preamble interlude " is 25);
    # extents must fall inside the shared region of each doc
    a_lo, a_hi = 7, 7 + len(shared) - 1
    b_lo, b_hi = 26, 26 + len(shared) - 1
    assert a_lo <= r.a_start <= r.a_end <= a_hi, r
    assert b_lo <= r.b_start <= r.b_end <= b_hi, r
    # the shared fingerprints are the same set on both sides, so the
    # spans cover the same RELATIVE offsets
    assert r.a_end - r.a_start == r.b_end - r.b_start
    assert r.n_shared >= 2


def test_cut_spans_semantics(spark):
    """Interval merging + stitch: overlapping and adjacent spans merge,
    spans inside earlier cuts add nothing, untouched docs pass through
    normalized, full-cover docs empty out."""
    docs = spark.createDataFrame(
        [
            (1, "The quick  brown fox jumps"),   # normalized: 25 chars
            (2, "untouched doc here"),
            (3, "abcdef"),
        ],
        ["doc_id", "text"],
    )
    spans = spark.createDataFrame(
        [(1, 5, 9), (1, 8, 15), (1, 21, 25), (3, 1, 6), (3, 2, 3)],
        ["id", "start", "end"],
    )
    rows = {r.id: r for r in T.cut_spans(docs, spans).collect()}
    assert rows[1].text_cut == "the  fox "      # cut [5,15] and [21,25]
    assert rows[1].cut_chars == 16
    assert rows[1].n_spans == 3
    assert rows[2].text_cut == "untouched doc here" and rows[2].n_spans == 0
    assert rows[3].text_cut == "" and rows[3].cut_chars == 6
    # adjacent spans (e+1 == s) merge into one cut with no seam
    sp2 = spark.createDataFrame([(3, 1, 3), (3, 4, 5)], ["id", "start", "end"])
    r3 = {r.id: r for r in T.cut_spans(docs, sp2).collect()}[3]
    assert r3.text_cut == "f" and r3.cut_chars == 5


def test_winnow_cut_removes_detected_overlap(spark):
    """Composed detect→localize→cut: after cutting, re-running detection
    on the cut corpus finds no remaining overlap pair."""
    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, f"alpha leading words {shared}"),
            (2, f"{shared} omega trailing content"),
            (3, "entirely unrelated filler text document"),
        ],
        ["doc_id", "text"],
    )
    spans = T.winnow_overlap_spans(docs, k=8, w=4, max_df=3, min_shared=2)
    cut_input = spans.selectExpr("id_b as id", "b_start as start", "b_end as end")
    cut = T.cut_spans(docs, cut_input)
    rows = {r.id: r for r in cut.collect()}
    assert rows[2].cut_chars > 0          # the higher-id copy was cut
    assert rows[1].cut_chars == 0         # the kept copy untouched
    assert rows[3].cut_chars == 0
    # detection over the cut corpus is clean
    redetect = T.winnow_overlap_pairs(
        cut.selectExpr("id as doc_id", "text_cut as text"),
        k=8, w=4, max_df=3, min_shared=2,
    )
    assert redetect.count() == 0


def test_html_extract_hand_checked(spark):
    """Tag/block stripping, entity decode, title extraction, and the
    jusText link-density signal — hand-checked, including the traps:
    a '<p>' INSIDE a script body must not leak, head content (title
    text) must not appear in the body, entities decode in the order
    that keeps '&amp;lt;' literal."""
    df = spark.createDataFrame(
        [
            (1, '<html><head><title> My  Page </title><style>p{x}</style>'
                '</head><body><h1>Head</h1><p>Hello &amp; welcome.</p>'
                '<a href="/nav">nav <b>home</b></a>'
                '<script>var x="<p>";</script><!-- c --></body></html>'),
            (2, "plain text no tags &lt;kept&gt; &amp;lt;"),
            (3, '<a href="x">all link</a>'),
            (4, ""),
        ],
        "doc_id bigint, html string",
    )
    got = {r.id: r for r in T.html_extract(df).collect()}
    assert got[1].title == "My Page"
    assert got[1].text == "Head Hello & welcome. nav home"
    assert got[1].n_links == 1
    # link chars = len("nav home") = 8 over len(body) = 30
    assert got[1].link_density == pytest.approx(8 / 30, abs=1e-6)
    assert got[2].text == "plain text no tags <kept> &lt;"
    assert got[2].n_links == 0 and got[2].link_density == 0.0
    assert got[3].text == "all link" and got[3].link_density == 1.0
    assert got[4].text == "" and got[4].n_links == 0


def test_exact_substring_spans_hand_checked(spark):
    """ExactSubstr semantics at k=3: every k-token shingle whose exact
    text occurs >= 2 times corpus-wide is marked at ALL occurrences
    (cross-doc AND within-doc); shorter shared runs are untouched;
    merged cuts are character-exact."""
    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee xx yy"),
            (2, "pp qq aa bb cc dd ee rr"),
            (3, "zz ww vv zz ww vv"),           # within-doc duplication
            (4, "aa bb short shared run only"),  # 2-token overlap: kept
            (5, ""),
            (6, "uu tt"),                        # < k tokens: no shingles
        ],
        ["doc_id", "text"],
    )
    out = {r.id: r for r in T.exact_substring_dedup(docs, k=3).collect()}
    # docs 1+2 share the exact 5-token run "aa bb cc dd ee": its three
    # k=3 shingles are all duplicated, so the merged cut is the full run
    # in BOTH copies (the all-copies rule)
    assert out[1].text_cut == " xx yy" and out[1].cut_chars == 14
    assert out[2].text_cut == "pp qq  rr" and out[2].cut_chars == 14
    # "zz ww vv" occurs twice INSIDE doc 3: both occurrences cut
    assert out[3].text_cut == " " and out[3].cut_chars == 16
    # the 2-token "aa bb" overlap is below k: untouched
    assert out[4].text_cut == "aa bb short shared run only"
    assert out[4].cut_chars == 0
    assert out[5].text_cut == "" and out[5].n_spans == 0
    assert out[6].text_cut == "uu tt" and out[6].n_spans == 0
    # re-detection over the cut corpus is clean
    cut_corpus = spark.createDataFrame(
        [(i, r.text_cut) for i, r in out.items()], ["doc_id", "text"]
    )
    redetect = T.exact_substring_spans(cut_corpus, k=3)
    assert redetect.count() == 0
    with pytest.raises(ValueError):
        T.exact_substring_spans(docs, k=1)
    with pytest.raises(ValueError):
        T.exact_substring_spans(docs, k=3, key_fn="md5")


def test_exact_substring_incremental_semantics(spark, tmp_path):
    """Batch-vs-history cut: spans already in history are cut from the
    batch (history untouched by contract), within-batch repeats are
    cut, novel tails and fresh docs survive; and the persisted key
    store (parquet roundtrip) reproduces the in-memory result."""
    history = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg"), (2, "unrelated history content here")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "aa bb cc dd ee ff gg"),            # exact copy: all cut
            (11, "xx yy aa bb cc dd zz ww"),          # quotes 4-token run
            (12, "pp qq rr ss pp qq rr tt"),          # within-batch repeat? no: k=3 "pp qq rr" twice
            (13, "totally fresh novel words only"),   # untouched
        ],
        ["doc_id", "text"],
    )
    keys = T.substring_shingle_keys(history, k=3)
    out = {
        r.id: r
        for r in T.exact_substring_dedup_incremental(batch, keys, k=3).collect()
    }
    assert out[10].text_cut == "" and out[10].cut_chars == 20
    # doc 11: history run "aa bb cc dd" (4 tokens) -> shingles
    # "aa bb cc","bb cc dd" in history; merged cut = chars of that run
    assert out[11].text_cut == "xx yy  zz ww"
    # doc 12: "pp qq rr" occurs twice within the batch -> both cut
    assert out[12].n_spans == 2 and "pp qq rr" not in out[12].text_cut
    assert out[13].text_cut == "totally fresh novel words only"
    assert out[13].cut_chars == 0
    # a store built with the other key_fn is a disjoint key space:
    # loud error, never a silent no-op cut
    with pytest.raises(ValueError, match="other key_fn"):
        T.exact_substring_dedup_incremental(batch, keys, k=3, key_fn="xxhash64")
    # persisted store roundtrip: identical cut
    store = str(tmp_path / "shkeys")
    keys.write.parquet(store)
    out2 = {
        r.id: r
        for r in T.exact_substring_dedup_incremental(
            batch, spark.read.parquet(store), k=3
        ).collect()
    }
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in out2.items()
    }


def test_exact_substring_store_replay_idempotent(spark, tmp_path):
    """An at-least-once replay re-appends a micro-batch's shingle keys
    to the streamed store (streaming.dedup_stream.stream_shingle_ingest
    layout); the read-side distinct in
    exact_substring_dedup_incremental absorbs the duplicate rows — the
    cut result is byte-identical."""
    history = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg"), (2, "other history words")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(10, "xx aa bb cc dd yy"), (11, "fresh words only")],
        ["doc_id", "text"],
    )
    store = str(tmp_path / "store" / "keys")
    keys = T.substring_shingle_keys(history, k=3).withColumn(
        "sh_bucket", F.pmod(F.xxhash64("_sh"), F.lit(8))
    )
    keys.write.partitionBy("sh_bucket").parquet(store)
    before = sorted(
        tuple(r)
        for r in T.exact_substring_dedup_incremental(
            batch, spark.read.parquet(store), k=3
        ).collect()
    )
    # replay: the same keys land a second time
    keys.write.mode("append").partitionBy("sh_bucket").parquet(store)
    assert (
        spark.read.parquet(store).count() == 2 * keys.count()
    )  # duplicates really are on disk
    after = sorted(
        tuple(r)
        for r in T.exact_substring_dedup_incremental(
            batch, spark.read.parquet(store), k=3
        ).collect()
    )
    assert after == before
    assert any(r[2] > 0 for r in before)  # something was actually cut


def test_exact_substring_online_two_batches(spark, tmp_path):
    """The online loop a deployment runs: cut each incoming batch
    against the store, then append the ORIGINAL batch's keys (pre-cut,
    so later repeats of even the removed content still match).  Batch
    2 must lose the span batch 1 introduced; batch 1 (first arrival)
    keeps it."""
    import os

    store = str(tmp_path / "keys")
    b1 = spark.createDataFrame(
        [(1, "aa bb cc dd novel run one")], ["doc_id", "text"]
    )
    b2 = spark.createDataFrame(
        [(2, "xx aa bb cc dd yy")], ["doc_id", "text"]
    )

    def step(batch, first):
        if first:
            # empty store: batch 1 is cut only against itself
            keys = T.substring_shingle_keys(
                batch.limit(0), k=3
            )
        else:
            keys = spark.read.parquet(store)
        out = T.exact_substring_dedup_incremental(batch, keys, k=3)
        # append the ORIGINAL batch's keys for future batches
        T.substring_shingle_keys(batch, k=3).write.mode(
            "append" if os.path.isdir(store) else "overwrite"
        ).parquet(store)
        return {r.id: r for r in out.collect()}

    r1 = step(b1, first=True)
    r2 = step(b2, first=False)
    # batch 1: nothing duplicated yet -> untouched
    assert r1[1].cut_chars == 0
    assert r1[1].text_cut == "aa bb cc dd novel run one"
    # batch 2: the "aa bb cc dd" run now exists in the store -> cut
    assert r2[2].text_cut == "xx  yy"
    assert r2[2].cut_chars == len("aa bb cc dd")


def test_exact_substring_keyfn_equivalence(spark, sf_dir):
    """The 8-byte xxhash64 shuffle-key path marks the identical span
    set as the collision-proof exact-text path on the real documents
    fixture (collision probability ~ n²/2^65 — a disagreement here
    would be a logic bug, not bad luck)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.id, r.start, r.end)
        for r in T.exact_substring_spans(docs, k=12).collect()
    }
    hashed = {
        (r.id, r.start, r.end)
        for r in T.exact_substring_spans(docs, k=12, key_fn="xxhash64").collect()
    }
    assert exact == hashed
    assert len(exact) > 0  # the fixture has real duplicated spans
    # two-phase exact (hash prefilter + string verify) is bit-identical
    # to one-phase exact: the prefilter is a superset, the verify kills
    # every collision
    two = {
        (r.id, r.start, r.end)
        for r in T.exact_substring_spans(docs, k=12, two_phase=True).collect()
    }
    assert two == exact
    with pytest.raises(ValueError, match="exact"):
        T.exact_substring_spans(docs, k=12, key_fn="xxhash64", two_phase=True)


def test_winnow_xxhash64_properties(spark):
    """The production-hash path (hash_fn='xxhash64'): the winnowing
    GUARANTEE and the structural invariants are hash-agnostic, so they
    must hold without any DuckDB replay — (1) docs sharing a >= k+w-1
    substring share a fingerprint, (2) every emitted fp is the xxhash64
    of some k-gram of the doc (selection only ever chooses, never
    invents), (3) the selection keeps ~1/w of grams (the storage bound
    the algorithm exists for), (4) deterministic across runs, and (5)
    the two hash fns agree on WHICH DOCS overlap even though their
    fingerprint values differ."""
    shared = "quick brown foxes jumping high"
    docs = spark.createDataFrame(
        [
            (1, f"AAAA {shared} zzz"),
            (2, f"completely other preamble {shared}"),
            (3, "nothing in common here at all with others"),
            (4, "tiny"),
        ],
        ["doc_id", "text"],
    )
    out = T.winnow_fingerprints(docs, k=8, w=4, hash_fn="xxhash64").collect()
    fps = {}
    for r in out:
        fps.setdefault(r.id, set()).add(r.fp)
    # (1) guarantee
    assert fps[1] & fps[2], "shared >= k+w-1 substring must share a fp"
    assert not (fps[1] & fps[3])
    # (2) membership: fps are xxhash64 of real grams (computed via the
    # same engine expression over an exploded gram table)
    norm1 = f"aaaa {shared} zzz"
    gram_rows = spark.createDataFrame(
        [(norm1[i : i + 8],) for i in range(len(norm1) - 7)], ["g"]
    ).select(F.xxhash64("g").alias("h")).collect()
    assert fps[1] <= {r.h for r in gram_rows}
    # (3) compression: selected fps ~ grams/w, never more than windows
    n_grams = len(norm1) - 7
    assert len(fps[1]) <= n_grams - 3
    assert len(fps[1]) < n_grams / 2
    # (4) determinism
    again = T.winnow_fingerprints(docs, k=8, w=4, hash_fn="xxhash64").collect()
    assert {(r.id, r.fp) for r in again} == {(r.id, r.fp) for r in out}
    # (5) pair-level agreement with the java-hash path on this corpus
    pj = {
        (r.id_a, r.id_b)
        for r in T.winnow_overlap_pairs(docs, k=8, w=4, max_df=3).collect()
    }
    px = {
        (r.id_a, r.id_b)
        for r in T.winnow_overlap_pairs(
            docs, k=8, w=4, max_df=3, hash_fn="xxhash64"
        ).collect()
    }
    assert pj == px == {(1, 2)}
    # unknown hash_fn fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash_fn"):
        T.winnow_fingerprints(docs, hash_fn="md5")


def test_ngram_novelty_copy_scores_zero(spark):
    """An exact later copy owns none of its grams (novelty 0); the
    original and a fresh doc own all of theirs (novelty 1); a half
    borrowed doc lands strictly between."""
    from pyspark.sql import functions as F

    rows = [
        (1, "abcdefghijklmnop"),
        (2, "abcdefghijklmnop"),          # exact copy, higher id
        (3, "zzzzyyyyxxxxwwww"),          # fresh
        (4, "abcdefgh" + "QRSTUVWX"),     # half borrowed from doc 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from applications_analytics_midas_hbase_metrics_spark.operators import dedup as D

    g = docs.select("doc_id", F.explode(D.char_ngrams("text", 5)).alias("gram"))
    f = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    nov = {
        r.doc_id: r.novelty
        for r in g.join(f, "gram")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg((F.col("first_doc") == F.col("doc_id")).cast("double")), 6
            ).alias("novelty")
        )
        .collect()  # driver-ok: 4-doc fixture
    }
    assert nov[1] == 1.0 and nov[3] == 1.0
    assert nov[2] == 0.0
    assert 0.0 < nov[4] < 1.0


def test_pmi_collocations_exact_counts(spark):
    """Hand-computed PMI on a fixed corpus: 'a b' appears 6 times,
    unigrams and totals are known, so the quantized score is exactly
    floor(ln((bc/M) / ((ua/N)*(ub/N))) * 1e9)."""
    import math

    rows = [(i, "a b x") for i in range(6)] + [(100, "x y x y x")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = T.pmi_collocations(df, min_count=2, top_k=10).collect()
    by_pair = {(r.term_a, r.term_b): r for r in out}
    # corpus tokens: 6*3 + 5 = 23; pairs: 6*2 + 4 = 16
    n, m = 23.0, 16.0
    ua, ub, bc = 6.0, 6.0, 6.0  # 'a', 'b', ('a','b')
    want = math.floor(
        math.log((bc / m) / ((ua / n) * (ub / n))) * 1e9
    )
    got = by_pair[("a", "b")]
    assert got.pair_count == 6
    assert got.pmi_q == want
    # min_count=2 cuts nothing that appears once: ('b','x') appears 6x,
    # ('x','y') 2x (wait: 'x y x y x' pairs are xy, yx, xy, yx -> 2 each)
    assert ("x", "y") in by_pair and by_pair[("x", "y")].pair_count == 2
    # ordering: descending pmi_q, ties on terms
    qs = [r.pmi_q for r in out]
    assert qs == sorted(qs, reverse=True)


def test_pmi_min_count_filter(spark):
    df = spark.createDataFrame(
        [(1, "p q"), (2, "r s"), (3, "r s")],
        "doc_id bigint, text string",
    )
    pairs = {
        (r.term_a, r.term_b)
        for r in T.pmi_collocations(df, min_count=2, top_k=10).collect()
    }
    assert pairs == {("r", "s")}


def test_perplexity_buckets_thirds_and_keep_rule(spark):
    """Six docs, one language: rank thirds put exactly 2 docs per
    bucket; head always kept; middle/tail keep by the Fibonacci hash
    (replayed in-test), and docs with <2 tokens (NULL score) sink to
    the tail end of the order."""
    rows = [
        (1, "a a a a a a a a", "en"),   # repeated bigram -> high score
        (2, "a a a a a a a b", "en"),
        (3, "a b a b c d e f", "en"),
        (4, "c d e f g h i j", "en"),
        (5, "k l m n o p q r", "en"),
        (6, "solo", "en"),              # 1 token -> NULL score -> last
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {r.id: r for r in T.perplexity_buckets(df).collect()}
    assert len(out) == 6
    buckets = [out[i].bucket for i in (1, 2, 3, 4, 5, 6)]
    # 2 per third; doc 6 (NULL score) must be in the tail
    assert buckets.count("head") == 2
    assert buckets.count("middle") == 2
    assert buckets.count("tail") == 2
    assert out[6].bucket == "tail"
    # replay the keep rule
    def fib(i: int) -> int:
        return ((i % 2**31) * 2246822519 % 2**31) * 100 // 2**31
    for i, r in out.items():
        if r.bucket == "head":
            want = 1
        elif r.bucket == "middle":
            want = 1 if fib(i) < 50 else 0
        else:
            want = 1 if fib(i) < 10 else 0
        assert r.kept == want, (i, r.bucket, fib(i))


def test_pmi_empty_and_below_min_count(spark):
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert T.pmi_collocations(empty, min_count=1, top_k=5).collect() == []
    ones = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    assert T.pmi_collocations(ones, min_count=2, top_k=5).collect() == []


def test_perplexity_buckets_single_doc_lang(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "x y", "fr")],
        "doc_id bigint, text string, lang string",
    )
    out = {r.id: r for r in T.perplexity_buckets(df).collect()}
    # each language has one doc: rank 1 of 1 -> head -> kept
    assert out[1].bucket == "head" and out[1].kept == 1
    assert out[2].bucket == "head" and out[2].kept == 1


def test_patchify_hand_checked_and_error_isolated(spark):
    """A 4x2 image with known pixels yields exactly 2 full 2x2 tiles
    with hand-computed means; a garbage payload emits the single
    (-1, -1, NULL) isolation row."""
    import numpy as np

    px = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    rows = [
        (1, MM.encode_bmp(px)),
        (2, b"not a bmp at all, clearly"),
    ]
    df = spark.createDataFrame(rows, "id bigint, payload binary")
    got = {(r.id, r.patch_row, r.patch_col): r.patch_mean
           for r in MM.patchify_images(df, patch=2).collect()}
    # tile (0,0): rows 0-1, cols 0-1 -> byte indices {0..5} u {12..17}
    t00 = (sum(range(0, 6)) + sum(range(12, 18))) / 12
    t01 = (sum(range(6, 12)) + sum(range(18, 24))) / 12
    assert got[(1, 0, 0)] == round(t00, 6)
    assert got[(1, 0, 1)] == round(t01, 6)
    assert got[(2, -1, -1)] is None
    assert len(got) == 3


def test_frame_audio_hand_checked_and_error_isolated(spark):
    """A 20-sample mono WAV yields 2 full 8-sample frames with
    hand-computed mean-abs/peak (trailing 4 samples dropped); garbage
    emits the (-1, NULL, NULL) isolation row."""
    import numpy as np

    samples = np.array([(-1) ** i * (i * 100) for i in range(20)], dtype=np.int16)
    rows = [(1, MM.encode_wav(samples)), (2, b"RIFFbroken")]
    df = spark.createDataFrame(rows, "id bigint, payload binary")
    got = {(r.id, r.frame_idx): (r.frame_mean_abs, r.frame_peak)
           for r in MM.frame_audio(df, frame=8).collect()}
    f0 = np.abs(samples[:8].astype(np.int64))
    f1 = np.abs(samples[8:16].astype(np.int64))
    assert got[(1, 0)] == (round(int(f0.sum()) / 8, 6), int(f0.max()))
    assert got[(1, 1)] == (round(int(f1.sum()) / 8, 6), int(f1.max()))
    assert got[(2, -1)] == (None, None)
    assert len(got) == 3


def test_pmi_randomized_vs_python_brute_force(spark):
    """Seeded random corpus: every (pair, count, pmi_q) must equal a
    pure-Python recomputation of the same closed form."""
    import math
    import random
    from collections import Counter

    rng = random.Random(7)
    words = ["a", "b", "c", "dd", "ee"]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 12))))
        for i in range(80)
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    uni, pairs = Counter(), Counter()
    for _, txt in docs:
        tks = txt.split()
        uni.update(tks)
        pairs.update(zip(tks, tks[1:]))
    n, m = sum(uni.values()), sum(pairs.values())
    want = {}
    for (a, b), bc in pairs.items():
        if bc >= 3:
            pmi = math.log((bc / m) / ((uni[a] / n) * (uni[b] / n)))
            want[(a, b)] = (bc, math.floor(pmi * 1e9))
    got = {
        (r.term_a, r.term_b): (r.pair_count, r.pmi_q)
        for r in T.pmi_collocations(df, min_count=3, top_k=1000).collect()
    }
    assert got == want


def test_video_lying_header_is_one_error_row(spark):
    """A container whose header DECLARES more frames than the payload
    holds must land in the per-row error row, not loop: without the
    short-header guard, int.from_bytes(b'') == 0 reads every missing
    length prefix as a zero-length frame and a VID0 + 0xffffffff
    header appends up to 4B empty rows from one bad byte string."""
    lying = MM.VIDEO_MAGIC + (0xFFFFFFFF).to_bytes(4, "little")
    # a second lie: declares 3 frames, carries 1 real one then stops
    import numpy as np

    bmp = MM.encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8))
    partial = (
        MM.VIDEO_MAGIC
        + (3).to_bytes(4, "little")
        + len(bmp).to_bytes(4, "little")
        + bmp
    )
    df = spark.createDataFrame(
        [(1, bytearray(lying)), (2, bytearray(partial))],
        "id bigint, payload binary",
    )
    got = {tuple(r) for r in MM.explode_video_frames(df).collect()}
    assert got == {(1, -1, None), (2, -1, None)}


def test_video_frame_stride_overflow_raises_not_collides(spark):
    """Composite frame ids are doc*stride+frame: a clip with >= stride
    frames must raise LOUDLY (silent collision would bleed its tail
    frames into the next doc's signatures).  The same clip under a
    bigger stride segments fine."""
    import numpy as np

    import pytest as _pt

    bmp = MM.encode_bmp(np.arange(12, dtype=np.uint8).reshape(2, 2, 3))
    n = 5
    body = b"".join(len(bmp).to_bytes(4, "little") + bmp for _ in range(n))
    vid = MM.VIDEO_MAGIC + n.to_bytes(4, "little") + body
    df = spark.createDataFrame(
        [(7, bytearray(vid))], "id bigint, payload binary"
    )
    with _pt.raises(Exception, match="frame_stride"):
        MM.video_scene_cuts(df, frame_stride=4).collect()
    with _pt.raises(Exception, match="frame_stride"):
        MM.video_keyframes(df, frame_stride=4).collect()
    ok = MM.video_scene_cuts(df, frame_stride=8).collect()
    assert [tuple(r) for r in ok] == [(7, 5, 1)]  # identical frames: 1 scene
    kf = MM.video_keyframes(df, frame_stride=8).collect()
    assert [(r.id, r.frame_idx) for r in kf] == [(7, 0)]


def test_audio_fingerprint_stereo_exact(spark):
    """Multichannel exactness: the frame-sum recovery multiplies by
    frame * n_channels (mean divides by frame*ch, so frame alone
    recovers sum/ch — half-integers on stereo that can flip threshold
    bits).  A stereo clip's bits must equal a pure-Python recompute of
    the integer energy-sign rule, and identical stereo PCM under
    different ids fingerprints identically."""
    import numpy as np

    rng = np.random.default_rng(42)
    pcm = rng.integers(-2000, 2000, size=(24, 2), dtype=np.int16)
    # force at least one frame whose doubled sum is ODD so the old
    # sum/ch recovery would sit exactly on a half-integer
    pcm[0, 0] = 101
    wav = MM.encode_wav(pcm)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(wav))],
        "id bigint, payload binary",
    )
    got = {
        r.id: (r.n_frames, r.fp)
        for r in MM.audio_fingerprint(df, frame=8).collect()
    }
    assert got[1] == got[2]
    # python model: per-frame integer sum of |amp| over frame*ch values
    aa = np.abs(pcm.astype(np.int64))
    sums = [int(aa[f * 8 : (f + 1) * 8].sum()) for f in range(3)]
    total = sum(sums)
    bits = "".join("1" if s * 3 > total else "0" for s in sums)
    assert got[1] == (3, bits)
    # and frame_audio now reports the channel count
    ch = {
        r.frame_idx: r.n_channels
        for r in MM.frame_audio(df.limit(1), frame=8).collect()
    }
    assert ch == {0: 2, 1: 2, 2: 2}


def test_disk_persist_pin_identical_verdicts(spark, monkeypatch):
    """With SMALL_FRAME_BYTES forced to 0, a ``pin=`` that takes the
    lazy DISK_ONLY flavor (lineage kept) instead of the default
    lineage-truncating DISK_ONLY checkpoint must produce byte-identical
    cuts for
    BOTH the self-contained and the incremental ExactSubstr operators,
    and the pinned frame must really be DISK_ONLY."""
    from pyspark import StorageLevel

    from applications_analytics_midas_hbase_metrics_spark.operators import (
        pinning,
    )

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee ff gg hh"),
            (2, "xx aa bb cc dd yy zz"),
            (3, "totally novel words only here"),
            (4, "pp qq rr pp qq rr tail"),
        ],
        ["doc_id", "text"],
    )
    monkeypatch.setattr(pinning, "SMALL_FRAME_BYTES", 0)
    pinned = []

    def pin(df):
        out = pinning.pin(df, "substring_disk", eager=False)
        assert out.storageLevel == StorageLevel.DISK_ONLY
        pinned.append(out)
        return out

    with pinning.scope():
        base = sorted(
            tuple(r) for r in T.exact_substring_dedup(docs, k=3).collect()
        )
        got = sorted(
            tuple(r)
            for r in T.exact_substring_dedup(docs, k=3, pin=pin).collect()
        )
        assert got == base
        assert any(r[1] > 0 for r in base)  # spans really were cut

        history = docs.filter(F.col("doc_id") <= 2)
        batch = spark.createDataFrame(
            [(10, "zz aa bb cc dd ww"), (11, "nothing shared at all")],
            ["doc_id", "text"],
        )
        keys = T.substring_shingle_keys(history, k=3)
        inc_base = sorted(
            tuple(r)
            for r in T.exact_substring_dedup_incremental(
                batch, keys, k=3
            ).collect()
        )
        inc_got = sorted(
            tuple(r)
            for r in T.exact_substring_dedup_incremental(
                batch, keys, k=3, pin=pin
            ).collect()
        )
        assert inc_got == inc_base
        assert any(r[2] > 0 for r in inc_base)  # history cut the batch
        assert len(pinned) == 2  # both operators routed through the pin


def test_gopher_quality_rules_hand_checked(spark):
    """Each constructed doc fails exactly one published rule (except the
    short/empty tails); the good doc passes all eight."""
    filler = " ".join(f"word{i:02d}" for i in range(1, 49))
    good = "the and " + filler
    bullet = "\n".join(["• the word and more here"] * 10)
    ellipsis = "\n".join(
        ["the quick brown and fox here"] * 6
        + ["jumps over lazy dogs today..."] * 4
    )
    symbol = good + " # # # # # # # #"
    alpha = (
        "the and "
        + " ".join(f"word{i:02d}" for i in range(1, 29))
        + " "
        + " ".join(["123"] * 20)
    )
    nostop = " ".join(f"word{i:02d}" for i in range(1, 51))
    rows = [
        (1, good),
        (2, bullet),
        (3, ellipsis),
        (4, symbol),
        (5, alpha),
        (6, nostop),
        (7, "the and hi"),
        (8, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.id: r for r in T.gopher_quality_rules(df).collect()}
    assert out[1].keep == 1
    assert (out[1].n_words, out[1].n_stop_hits) == (50, 2)
    assert out[1].mean_word_len == round(294 / 50, 6)
    assert out[2].keep == 0 and out[2].bullet_line_frac == 1.0
    assert out[2].alpha_word_frac == round(50 / 60, 6)  # '•' is a word
    assert out[3].keep == 0 and out[3].ellipsis_line_frac == 0.4
    assert out[4].keep == 0
    assert out[4].hash_word_ratio == round(8 / 58, 6)
    assert out[4].ellipsis_word_ratio == 0.0
    assert out[5].keep == 0 and out[5].alpha_word_frac == 0.6
    assert out[6].keep == 0 and out[6].n_stop_hits == 0
    assert out[7].keep == 0 and out[7].n_words == 3
    r8 = out[8]
    assert (r8.n_words, r8.keep, r8.mean_word_len) == (0, 0, 0.0)
    assert (r8.bullet_line_frac, r8.ellipsis_line_frac) == (0.0, 0.0)


def test_gopher_symbol_ratios_thresholded_separately(spark):
    """The published rule bounds EACH symbol's per-word ratio at 0.1
    (Rae et al. 2021 Table A1) — a doc with ~0.07 hashes AND ~0.07
    ellipses per word passes, even though the pooled sum (0.14) would
    fail the pre-r13 stricter pooling."""
    filler = " ".join(f"word{i:02d}" for i in range(1, 49))
    mixed = "the and " + filler + " ... ... ... ... # # # #"
    df = spark.createDataFrame([(1, mixed)], ["doc_id", "text"])
    row = T.gopher_quality_rules(df).collect()[0]
    assert row.n_words == 58
    assert row.hash_word_ratio == round(4 / 58, 6)
    assert row.ellipsis_word_ratio == round(4 / 58, 6)
    assert row.hash_word_ratio + row.ellipsis_word_ratio > 0.1
    assert row.keep == 1


def test_gopher_quality_rules_zero_shuffle_plan(spark):
    df = spark.createDataFrame([(1, "a b c.")], ["doc_id", "text"])
    plan = (
        T.gopher_quality_rules(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Window" not in plan


def test_script_profile_hand_cases(spark):
    rows = [
        (1, "привет мир"),                 # pure Cyrillic
        (2, "hello мир"),                  # 5 latin vs 3 cyrillic
        (3, "12345 .,!?"),                 # no profiled characters
        (4, "abcd абвг"),                  # 4 vs 4 tie -> alphabetical
        (5, "你好 こんにちは"),              # CJK han + kana unify
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in T.script_profile(df).collect()}
    assert out[1].dominant_script == "cyrillic"
    assert out[1].cyrillic_frac == 1.0 and out[1].n_letters == 9
    assert out[2].dominant_script == "latin"
    assert out[2].latin_frac == round(5 / 8, 6)
    assert out[3].dominant_script == "none" and out[3].n_letters == 0
    assert out[3].latin_frac == 0.0
    # tie: cyrillic sorts before latin, argmax is total-ordered
    assert out[4].dominant_script == "cyrillic"
    assert out[5].dominant_script == "cjk" and out[5].cjk_frac == 1.0


def test_script_profile_zero_shuffle_plan(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    plan = T.script_profile(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
