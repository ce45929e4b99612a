"""Semantic tests for the training-data pipeline ops: dedup, similarity,
text analysis, multimodal plumbing. Uses small hand-built frames so expected
values are checkable by eye."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (3, "the quick brown fox jumps over a lazy dog", "en"),    # near dup
        (4, "der schnelle braune fuchs und der faule hund ist da", "de"),
        (5, "completely different words entirely here now", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dup_groups(docs):
    from docling_spark.ops.dedup import exact_dup_groups

    got = {r["text_hash"]: r["dup_count"] for r in exact_dup_groups(docs).collect()}
    assert sorted(got.values()) == [1, 1, 1, 2]


def test_minhash_identical_docs_same_signature(docs):
    from docling_spark.ops.dedup import minhash_signature

    sig = {r["doc_id"]: [r[f"mh_{i}"] for i in range(16)]
           for r in minhash_signature(docs).collect()}
    assert sig[1] == sig[2]              # exact dups → identical signature
    agree_near = sum(a == b for a, b in zip(sig[1], sig[3]))
    agree_far = sum(a == b for a, b in zip(sig[1], sig[5]))
    assert agree_near > agree_far        # near dup agrees on more rows


def _minhash_sql(df, id_col, n_hashes=16, shingle_n=3):
    """The Spark SQL signature assembled from `ops.portable`, as
    `__spark_entry__` builds it."""
    from docling_spark.ops import portable as P

    out = (
        df.select(F.col(id_col), F.expr(P.tokens_spark("text")).alias("_tk"))
        .withColumn("_sh", F.expr(P.ngrams_from_tokens_spark("_tk", shingle_n)))
        .withColumn("_th", F.expr(f"transform(_sh, g -> {P.token_hash_spark('g')})"))
    )
    return out.select(id_col, *[F.expr(P.minhash_spark("_th", i)).cast("long").alias(f"mh_{i}")
                                for i in range(n_hashes)])


def _parity_texts():
    import random

    rng = random.Random(7)
    texts = [
        None, "", " ", "one", "one two", "one two three",
        "\none two three", "one two three\n", "\tone two three\t",
        "\x0bone two three\x0b", "\fone two three\f", "\rone two three\r",
        " \n\t one \r\n\x0b two\f \tthree four \r",
        "a\xa0b c\xa0d e", "a\u2003b c\u3000d e f",  # not Java \s: no split
        "pre \U0001F600 post \U0001F600\U0001F600 end",
        "x" * 5001 + " y z " + "\u017e" * 5003,
        " ".join(f"w{i % 977}" for i in range(50_000)),
    ]
    alphabet = ["a", "b", "\u017e", "\U0001F600", "\xa0", " ", " ", "\n", "\t",
                "\r", "\x0b", "\f", "xy"]
    texts += ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
              for _ in range(300)]
    return texts


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_minhash_signature_matches_sql_form(spark, id_type):
    """The numpy signature equals the portable Spark SQL form value for value,
    null for null, and keeps the id column's type."""
    from docling_spark.ops.dedup import minhash_signature

    texts = _parity_texts()
    ids = list(range(len(texts))) if id_type == "long" else [f"d{i}" for i in range(len(texts))]
    df = spark.createDataFrame(list(zip(ids, texts)), f"doc_id {id_type}, text string")
    sig = minhash_signature(df)
    assert sig.schema["doc_id"].dataType == df.schema["doc_id"].dataType
    got = {r["doc_id"]: tuple(r)[1:] for r in sig.collect()}
    want = {r["doc_id"]: tuple(r)[1:] for r in _minhash_sql(df, "doc_id").collect()}
    assert len(got) == len(texts)
    assert got == want
    nulls = {i for i, r in want.items() if r[0] is None}
    assert ids[0] in nulls and ids[4] in nulls and ids[5] not in nulls


def test_minhash_band_pairs_finds_dups(docs):
    from docling_spark.ops.dedup import minhash_band_pairs

    # default geometry (3-gram shingles, 4 bands × 4 rows, threshold ≈ 0.71):
    # exact dups collide, unrelated docs never do
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_band_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 5) not in pairs

    # recall-maximal geometry (16 bands × 1 row: collide on ANY agreeing
    # minhash) also catches the one-word-off near dup (3-gram jaccard ≈ 0.45)
    loose = {
        (r["id_a"], r["id_b"])
        for r in minhash_band_pairs(docs, band_size=1).collect()
    }
    assert (1, 2) in loose
    assert (1, 3) in loose or (2, 3) in loose
    assert (1, 5) not in loose


def test_minhash_candidate_stats(docs):
    from docling_spark.ops.dedup import minhash_candidate_stats

    row = minhash_candidate_stats(docs).collect()[0]
    assert row["n_docs"] == 5
    assert row["possible_pairs"] == 10
    # default precision geometry: only the exact dup pair collides
    assert row["n_candidate_pairs"] == 1
    assert row["candidate_ratio_e6"] == 100_000


def test_ngram_jaccard(docs):
    from docling_spark.ops.dedup import ngram_jaccard_pairs

    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, n=3, block_col="lang").collect()}
    assert got[(1, 2)] == 1.0
    assert 0.3 < got[(1, 3)] < 1.0
    assert got[(1, 5)] == 0.0
    assert (1, 4) not in got  # different lang block


def test_simhash_hamming(docs):
    from docling_spark.ops.dedup import simhash

    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[1] == sh[2]
    # 64-bit fingerprints are signed longs — mask before popcount
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(sh[1], sh[3]) < ham(sh[1], sh[5])


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(0)
    base = rng.randn(20, 8)
    base[1] = base[0] + 0.01 * rng.randn(8)  # vec 1 ≈ vec 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact(emb):
    from docling_spark.ops.similarity import cosine_topk

    out = cosine_topk(emb, query_ids=[0], k=3).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["neighbor_id"] == 1       # the planted near-neighbor
    assert out[0]["cosine"] > 0.99
    # numpy ground truth for the full ranking
    import numpy as np

    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    q = vecs[0]
    cos = {
        i: float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
        for i, v in vecs.items() if i != 0
    }
    expected = sorted(cos, key=lambda i: (-round(cos[i], 6), i))[:3]
    assert [r["neighbor_id"] for r in out] == expected


def test_ann_bucketed_recall(emb):
    from docling_spark.ops.similarity import ann_bucketed_topk, srp_signature

    sig = {r["vec_id"]: r["bucket"] for r in srp_signature(emb, bits=4, dim=8).collect()}
    assert sig[0] == sig[1]  # near-identical vectors share the SRP bucket
    out = ann_bucketed_topk(emb, query_ids=[0], k=3, bits=4, dim=8).collect()
    assert out and out[0]["neighbor_id"] == 1


def test_ann_ivf(emb):
    from docling_spark.ops.similarity import ann_ivf_topk, ivf_assign

    cells = {r["vec_id"]: r["cell"] for r in
             ivf_assign(emb, n_cells=4, dim=8, seed=11).collect()}
    assert set(cells) == set(range(20))
    assert cells[0] == cells[1]  # near-identical vectors share a cell
    out = ann_ivf_topk(emb, query_ids=[0], k=3, n_cells=4, n_probe=2, dim=8, seed=11).collect()
    assert out and out[0]["neighbor_id"] == 1  # planted neighbor found
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))


def test_embedding_neardup_pairs(emb):
    from docling_spark.ops.similarity import embedding_neardup_pairs

    out = embedding_neardup_pairs(emb, threshold=0.95, bits=4, dim=8).collect()
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out}
    assert (0, 1) in got and got[(0, 1)] > 0.99  # the planted near-dup pair
    # no pair violates the threshold, ordering is canonical
    assert all(c >= 0.95 for c in got.values())
    assert all(a < b for a, b in got)
    # random vectors in 8-dim almost surely stay below 0.95 cosine
    assert len(got) == 1


def test_textstats(docs):
    from docling_spark.ops.textstats import fingerprint, lang_id, quality_score, token_count

    tc = {r["doc_id"]: r["n_tokens_ws"] for r in token_count(docs).collect()}
    assert tc[1] == 9
    li = {r["doc_id"]: r["lang_guess"] for r in lang_id(docs).collect()}
    assert li[1] == "en"
    assert li[4] == "de"
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    assert fp[1] == fp[2] and fp[1] != fp[3]  # order-sensitive rolling hash
    qs = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    assert 0.0 <= min(qs.values()) and max(qs.values()) <= 1.0


def test_pii_scrub(spark):
    from docling_spark.ops.textstats import pii_scrub

    rows = [
        (1, "contact me at john.doe@example.com or +421 905 123 456 thanks"),
        (2, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert "<EMAIL>" in got[1]["scrubbed"] and "<PHONE>" in got[1]["scrubbed"]
    assert "example.com" not in got[1]["scrubbed"]
    assert got[1]["n_emails"] == 1 and got[1]["n_phones"] == 1
    assert got[2]["scrubbed"] == "no pii here at all"
    assert got[2]["n_emails"] == 0 and got[2]["n_phones"] == 0


def test_curation_pipeline(docs):
    from docling_spark.ops.textstats import curation_pipeline

    out = curation_pipeline(docs, min_quality=0.0, lang="en").collect()
    kept = {r["doc_id"] for r in out}
    assert 1 in kept and 2 not in kept  # exact dup: keep lowest doc_id
    assert 4 not in kept                # German doc filtered by lang
    assert all(r["quality_e6"] >= 0 for r in out)


def test_multimodal_plumbing(spark):
    from docling_spark.ops.multimodal import (
        frame_sample,
        image_features,
        media_metadata,
        synth_media_df,
    )

    media = synth_media_df(spark, n=12, seed=13)
    meta = media_metadata(media).collect()
    assert len(meta) == 12
    assert all(len(r["sha256"]) == 64 and r["byte_len"] > 0 for r in meta)

    feats = image_features(media).collect()
    assert all(r["decode_ok"] for r in feats)
    # mixed corpus: real netpbm (8-64 px) + stub fallback (64-255 px)
    assert all(8 <= r["width"] < 256 for r in feats)
    # deterministic across runs
    feats2 = image_features(synth_media_df(spark, n=12, seed=13)).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))

    frames = frame_sample(media, every_n=10)
    per_media = frames.groupBy("media_id").count().collect()
    assert len(per_media) == 12
    # plan stays narrow (no shuffle) for all three
    for df in (media_metadata(media), image_features(media)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_multimodal_audio_and_resize(spark):
    from docling_spark.ops.multimodal import (
        audio_features,
        image_resize,
        synth_media_df,
    )

    media = synth_media_df(spark, n=12, seed=13)
    audio = audio_features(media).collect()
    assert len(audio) == 12
    assert all(r["decode_ok"] for r in audio)
    assert all(r["sample_rate"] in (8000, 16000, 22050, 44100) for r in audio)
    # real WAVs are 0.25s; stub durations land in [0.5, 61]
    assert all(0.25 <= r["duration_s"] <= 61.0 for r in audio)

    thumbs = image_resize(media, max_side=32).collect()
    for r in thumbs:
        assert max(r["out_width"], r["out_height"]) <= 32
        # aspect preserved within integer truncation
        if r["width"] >= r["height"]:
            assert r["out_width"] >= r["out_height"]
        else:
            assert r["out_height"] >= r["out_width"]
        # real netpbm thumbs carry a header + w*h*channels samples; stub
        # thumbs are exactly w*h digest bytes
        from docling_spark.ops.multimodal import _parse_netpbm

        parsed = _parse_netpbm(bytes(r["out_payload"]))
        if parsed is not None:
            assert (parsed[0], parsed[1]) == (r["out_width"], r["out_height"])
        else:
            assert len(r["out_payload"]) == r["out_width"] * r["out_height"]
    # deterministic + narrow plan
    thumbs2 = image_resize(synth_media_df(spark, n=12, seed=13), max_side=32).collect()
    assert sorted(map(str, thumbs)) == sorted(map(str, thumbs2))
    plan = image_resize(media)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dup_components(spark):
    from docling_spark.ops.dedup import dup_components

    # two components {1,2,3} (chain) and {7,9}; 5 is isolated (no edges)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["component_id"] for r in dup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_repetition_stats(spark):
    from docling_spark.ops.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w"), (3, "go go go go")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["n_tokens"] == 4 and got[1]["top_token_count"] == 3
    assert got[1]["n_bigrams"] == 3 and got[1]["top_bigram_count"] == 2  # 'a a'
    assert got[2]["top_token_count"] == 1 and got[2]["top_bigram_count"] == 1
    assert got[3]["top_token_count"] == 4 and got[3]["top_bigram_count"] == 3


def test_simhash_neardup_pairs(docs):
    from itertools import combinations

    from docling_spark.ops.dedup import simhash, simhash_neardup_pairs

    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    for bits in (64, 32):
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in simhash_neardup_pairs(docs, bits=bits, max_hamming=3).collect()}
        assert got[(1, 2)] == 0          # exact dups: identical fingerprint
        assert all(h <= 3 for h in got.values())
        assert (1, 5) not in got         # unrelated docs stay apart
        # the pigeonhole search finds exactly the brute-force pairs
        sh = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=bits).collect()}
        brute = {(a, b): ham(sh[a], sh[b]) for a, b in combinations(sorted(sh), 2)
                 if ham(sh[a], sh[b]) <= 3}
        assert got == brute, bits


def test_ann_ivf_kmeans(emb):
    import numpy as np

    from docling_spark.ops.similarity import ann_ivf_topk, train_centroids_kmeans

    cents = train_centroids_kmeans(emb, n_cells=4, dim=8, iters=5, seed=11)
    assert cents.shape == (4, 8)
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)
    # deterministic: same seed → same centroids
    again = train_centroids_kmeans(emb, n_cells=4, dim=8, iters=5, seed=11)
    assert np.array_equal(cents, again)
    out = ann_ivf_topk(emb, query_ids=[0], k=3, n_cells=4, n_probe=2,
                       dim=8, seed=11, centroids=cents).collect()
    assert out and out[0]["neighbor_id"] == 1  # planted neighbor found


def test_shared_window_pairs(spark):
    from docling_spark.ops.dedup import shared_window_pairs

    long_a = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, long_a),
        (2, "intro words here " + " ".join(f"w{i}" for i in range(5, 28))),
        (3, "completely different content with many other words entirely"),
        (4, "tiny"),  # shorter than the window — must not crash
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["n_shared_windows"]
           for r in shared_window_pairs(df, window=20).collect()}
    # docs 1 and 2 share the exact 20-token windows w5..w27 (4 windows)
    assert got.get((1, 2)) == 4
    assert all(k == (1, 2) for k in got)


def test_ngram_ops_safe_on_short_docs(spark):
    # regression: Spark's sequence(1, 0) is DESCENDING — n-gram builders
    # must yield [] for docs shorter than the window, never crash slice(0)
    from docling_spark.ops.dedup import (
        minhash_signature,
        ngram_jaccard_pairs,
        shared_window_pairs,
    )

    df = spark.createDataFrame([(1, "a b"), (2, "x")], "doc_id long, text string")
    assert shared_window_pairs(df, window=20).count() == 0
    assert ngram_jaccard_pairs(df, n=3).count() == 1  # pair with jaccard 0.0
    sig = minhash_signature(df).collect()
    assert len(sig) == 2  # null signatures allowed, no crash


def test_shared_window_max_df_guard(spark):
    from docling_spark.ops.dedup import shared_window_pairs

    boiler = " ".join(f"b{i}" for i in range(20))
    rows = [(i, boiler + f" unique tail {i}") for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # every pair shares the boilerplate windows
    assert shared_window_pairs(df, window=20).count() == 10
    # with the document-frequency guard those windows drop → no pairs
    assert shared_window_pairs(df, window=20, max_df=3).count() == 0


def test_multimodal_real_decoders(spark):
    import numpy as np

    from docling_spark.ops.multimodal import (
        _encode_netpbm,
        audio_features,
        frame_sample,
        image_features,
        image_resize,
        synth_media_df,
        synth_wav,
        synth_y4m,
    )

    # exact-value image decode: 2x2 RGB with known pixels
    arr = np.array([[[255, 0, 0], [0, 255, 0]],
                    [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8)
    ppm = _encode_netpbm(arr)
    rng = np.random.RandomState(0)
    wav = synth_wav(rng, sr=8000, duration_s=0.5)
    y4m = synth_y4m(rng, w=8, h=8, n_frames=23)
    df = spark.createDataFrame(
        [("img", "image/x-portable-pixmap", bytearray(ppm)),
         ("wav", "audio/wav", bytearray(wav)),
         ("vid", "video/x-yuv4mpeg", bytearray(y4m)),
         ("blob", "image/png", bytearray(b"\x89PNG fake payload bytes"))],
        "media_id string, media_type string, payload binary",
    )
    img = {r["media_id"]: r for r in image_features(df).collect()}
    assert (img["img"]["width"], img["img"]["height"]) == (2, 2)
    expected_luma = round(float(
        (0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]).mean()
    ) / 255.0, 6)
    assert img["img"]["mean_luma"] == expected_luma
    assert img["blob"]["decode_ok"]  # stub fallback still reports

    aud = {r["media_id"]: r for r in audio_features(df).collect()}
    assert aud["wav"]["sample_rate"] == 8000
    assert aud["wav"]["duration_s"] == 0.5
    assert 0.2 < aud["wav"]["rms"] < 0.3  # sine rms = A/√2 = (12000/32768)/√2 ≈ 0.259

    frames = [r for r in frame_sample(df, every_n=10).collect() if r["media_id"] == "vid"]
    assert [f["frame_no"] for f in frames] == [0, 10, 20]  # 23 real frames

    rz = {r["media_id"]: r for r in image_resize(df, max_side=1).collect()}
    assert (rz["img"]["out_width"], rz["img"]["out_height"]) == (1, 1)
    # the thumbnail is itself a decodable netpbm
    from docling_spark.ops.multimodal import _parse_netpbm

    parsed = _parse_netpbm(bytes(rz["img"]["out_payload"]))
    assert parsed is not None and parsed[0] == 1 and parsed[1] == 1


def test_decode_wav_cut_mid_sample():
    # a 16-bit data chunk cut at an odd byte decodes its whole samples,
    # exactly like the cut one byte earlier
    from docling_spark.ops.multimodal import _decode_wav, synth_wav

    wav = synth_wav(np.random.RandomState(0), sr=8000, duration_s=0.5)
    odd, even = _decode_wav(wav[:-1]), _decode_wav(wav[:-2])
    assert len(even[0]) == 3_999
    assert np.array_equal(odd[0], even[0]) and odd[1:] == even[1:]


def test_dup_components_star_matches_driver(spark, monkeypatch):
    # the driver union-find and the star contraction (forced by a pair
    # bound of 0) must produce identical components on an arbitrary mixed
    # graph (cliques + chains + isolated pairs)
    import random

    from docling_spark.ops import dedup
    from docling_spark.ops.dedup import dup_components

    rng = random.Random(7)
    edges = set()
    for base in (0, 100, 200):           # three 6-cliques
        members = [base + i for i in range(6)]
        edges |= {(a, b) for a in members for b in members if a < b}
    edges |= {(300 + i, 300 + i + 1) for i in range(15)}   # a 16-node chain
    edges |= {(400, 401), (500, 501)}                      # isolated pairs
    rows = [(a, b) for a, b in sorted(edges)]
    rng.shuffle(rows)
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    drv = {r["doc_id"]: r["component_id"]
           for r in dup_components(pairs).collect()}
    monkeypatch.setattr(dedup, "_DRIVER_MAX_PAIRS", 0)
    st = {r["doc_id"]: r["component_id"]
          for r in dup_components(pairs).collect()}
    assert drv == st
    assert drv[305] == 300 and drv[105] == 100 and drv[501] == 500


def test_dup_components_nonconvergence_raises_and_star_converges(spark, monkeypatch):
    # regression: a chain longer than the round budget used to
    # return silently over-split labels; now it raises. The star
    # contraction converges in O(log n) rounds on the same graph.
    import pytest as _pytest

    from docling_spark.ops import dedup
    from docling_spark.ops.dedup import dup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    monkeypatch.setattr(dedup, "_DRIVER_MAX_PAIRS", 0)
    monkeypatch.setattr(dedup, "_MAX_ROUNDS", 2)
    with _pytest.raises(RuntimeError, match="fixpoint"):
        dup_components(chain).collect()
    monkeypatch.setattr(dedup, "_MAX_ROUNDS", 12)
    st = {r["doc_id"]: r["component_id"]
          for r in dup_components(chain).collect()}
    assert set(st.values()) == {0} and len(st) == 61
    # a list AT the bound still takes the driver union-find — exact on any
    # shape, no round budget involved; one pair over it takes the star path
    monkeypatch.setattr(dedup, "_MAX_ROUNDS", 2)
    monkeypatch.setattr(dedup, "_DRIVER_MAX_PAIRS", 60)
    au = {r["doc_id"]: r["component_id"]
          for r in dup_components(chain).collect()}
    assert au == st
    monkeypatch.setattr(dedup, "_DRIVER_MAX_PAIRS", 59)
    with _pytest.raises(RuntimeError, match="fixpoint"):
        dup_components(chain).collect()


def test_neardup_curation_keeps_representative(docs, spark):
    from docling_spark.ops.dedup import neardup_curation

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = {r["doc_id"] for r in neardup_curation(docs, pairs).collect()}
    # group {1,2,3} keeps min id 1; unpaired 4 and 5 survive untouched
    assert kept == {1, 4, 5}
    # columns unchanged
    assert neardup_curation(docs, pairs).columns == docs.columns
    with pytest.raises(ValueError, match="auto"):
        neardup_curation(docs, pairs, algorithm="star")


def test_ann_ivfpq(emb):
    import numpy as np

    from docling_spark.ops.similarity import (
        ann_ivfpq_topk, pq_codes, pq_lloyd, train_pq_codebooks)

    books = train_pq_codebooks(emb, m=4, nbits=2, dim=8, sample_n=20, seed=23)
    assert books.shape == (4, 4, 2)
    codes = pq_codes(emb, books, vec_col="embedding").collect()
    assert len(codes) == 20
    for r in codes:
        for j in range(4):
            assert 0 <= r[f"code_{j}"] < 4      # nbits=2 → codes in [0,4)
    out = ann_ivfpq_topk(
        emb, query_ids=[0], k=5, n_cells=4, n_probe=2, m=4, nbits=2, dim=8,
        codebooks=books, residual=False,
    ).collect()
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    # the planted near-identical neighbor (vec 1 ≈ vec 0) quantizes to the
    # same codes as the query would, so its ADC — which equals the query's
    # own reconstruction error — is the minimum and it ranks first
    assert out[0]["neighbor_id"] == 1

    # numpy ground-truth ADC for the query's probed candidates
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    code_map = {r["vec_id"]: [r[f"code_{j}"] for j in range(4)] for r in codes}
    q = vecs[0]
    for r in out:
        approx = sum(
            float(((q[j * 2:(j + 1) * 2] - books[j][code_map[r["neighbor_id"]][j]]) ** 2).sum())
            for j in range(4)
        )
        assert abs(approx - r["adc"]) < 1e-5


def test_ann_ivfpq_residual(emb):
    """Residual path (FAISS IndexIVFPQ proper): L2 mean-centroid cells,
    codes quantize x − centroid(cell), query re-centered per probed cell —
    verified against a numpy replay of assignment + encoding + ADC."""
    import numpy as np

    from docling_spark.ops.similarity import (
        ann_ivfpq_topk, kmeans_lloyd_l2, pq_lloyd, residualize)

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    X = np.array([vecs[i] for i in range(20)])
    cents = kmeans_lloyd_l2(X, 4, 10, 11)
    books = pq_lloyd(residualize(X, cents, "l2"), 4, 4, 8, 23)
    out = ann_ivfpq_topk(
        emb, query_ids=[0], k=5, n_cells=4, n_probe=2, m=4, nbits=2, dim=8,
        codebooks=books, centroids=cents,
    ).collect()
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    # vec 1 ≈ vec 0 → same cell, same residual codes → minimal ADC
    assert out[0]["neighbor_id"] == 1

    # numpy replay: assign cells by min L2 (ties → lowest), encode
    # residuals, ADC against the query's residual in the candidate's cell
    d = ((X[:, None] - cents[None]) ** 2).sum(-1)
    assign = np.argmin(d, axis=1)
    R = X - cents[assign]
    codes = np.zeros((20, 4), dtype=int)
    for j in range(4):
        dd = ((R[:, None, j * 2:(j + 1) * 2] - books[j][None]) ** 2).sum(-1)
        codes[:, j] = np.argmin(dd, axis=1)
    for r in out:
        nb = r["neighbor_id"]
        rq = X[0] - cents[assign[nb]]       # query re-centered to nb's cell
        approx = sum(
            float(((rq[j * 2:(j + 1) * 2] - books[j][codes[nb, j]]) ** 2).sum())
            for j in range(4)
        )
        assert abs(approx - r["adc"]) < 1e-5


def test_ann_recall_floor(spark):
    """Pins the ANN health metric on the gate corpus (sf0.01): each method
    holds its measured floor, and the controlled residual-vs-flat pair
    (same L2 cells, same 8-byte code budget) shows residual ≥ flat —
    the VERDICT-r3 'recall improvement shown by the metric' criterion."""
    import collections
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import __spark_entry__ as E

    rows = E.q_ann_recall(spark, "/root/testdata/sf0.01").collect()
    hits = collections.defaultdict(int)
    n_q = collections.defaultdict(set)
    for r in rows:
        hits[r["method"]] += r["n_hits"]
        n_q[r["method"]].add(r["query_id"])
    recall = {m: hits[m] / (10 * len(n_q[m])) for m in hits}
    assert recall["ivf"] >= 0.6          # measured 0.675
    assert recall["ivf_kmeans"] >= 0.6   # measured 0.715
    assert recall["ivfpq"] >= 0.4        # measured 0.435
    assert recall["ivfpq_flat"] >= 0.35  # measured 0.415
    assert recall["ivfpq"] > recall["ivfpq_flat"]


def test_ann_ivfpq_pq_sample_above_coarse_sample(spark, monkeypatch):
    # pq_sample above the coarse quantizer's 10k-row sample trains PQ on
    # pq_sample rows; the coarse quantizer still sees the first 10k
    from pyspark.sql import functions as F

    from docling_spark.ops import similarity as S

    seen = {}

    def spy(name):
        real = getattr(S, name)

        def wrapped(X, *a):
            seen[name] = len(X)
            return real(X, *a)

        monkeypatch.setattr(S, name, wrapped)

    spy("kmeans_lloyd_l2")
    spy("pq_lloyd")
    emb = spark.range(10_050).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * k) for k in (1, 2, 3, 5)]).alias("embedding"),
    )
    S.ann_ivfpq_topk(emb, query_ids=[0], k=2, n_cells=2, m=2, nbits=1, dim=4,
                     pq_iters=1, pq_sample=10_040, coarse_iters=1)
    assert seen == {"kmeans_lloyd_l2": 10_000, "pq_lloyd": 10_040}


def test_ann_ivfpq_plan_is_cell_equi_join(emb):
    from docling_spark.ops.similarity import ann_ivfpq_topk, train_pq_codebooks

    books = train_pq_codebooks(emb, m=4, nbits=2, dim=8, sample_n=20, seed=23)
    df = ann_ivfpq_topk(emb, query_ids=[0], k=3, n_cells=4, n_probe=2, m=4,
                        nbits=2, dim=8, codebooks=books)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # probed queries broadcast to codes


def test_decontaminate(spark):
    from docling_spark.ops.textstats import decontaminate

    train = spark.createDataFrame([
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "totally different words appear here now"),
        (3, "prefix alpha beta gamma delta epsilon suffix"),
    ], "doc_id long, text string")
    evals = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["n_shared_grams"], r["contaminated"])
           for r in decontaminate(train, evals, n=5, min_shared=1).collect()}
    assert got[1] == (1, True)      # shares the full 5-gram
    assert got[2] == (0, False)
    assert got[3] == (1, True)      # embedded occurrence still matches
    # raising the threshold declares everything clean
    strict = {r["doc_id"]: r["contaminated"]
              for r in decontaminate(train, evals, n=5, min_shared=2).collect()}
    assert not any(strict.values())


def test_stratified_sample_deterministic_and_monotone(spark):
    from docling_spark.ops.textstats import stratified_sample

    rows = [(i, "x", "en" if i % 2 else "de") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    lo = {r["doc_id"] for r in
          stratified_sample(docs, {"en": 0.2, "de": 0.6}).collect()}
    lo2 = {r["doc_id"] for r in
           stratified_sample(docs, {"en": 0.2, "de": 0.6}).collect()}
    assert lo == lo2                             # fully deterministic
    hi = {r["doc_id"] for r in
          stratified_sample(docs, {"en": 0.4, "de": 0.8}).collect()}
    assert lo <= hi                              # monotone: top-up = superset
    # negative ids fold into [0, P) instead of always passing the threshold
    neg = spark.createDataFrame(
        [(-i, "x", "en") for i in range(1, 401)],
        "doc_id long, text string, lang string",
    )
    kept_neg = stratified_sample(neg, {"en": 0.2}).count()
    assert 40 <= kept_neg <= 160                 # ~20%, not 100%
    n_en = sum(1 for d in lo if d % 2)
    n_de = sum(1 for d in lo if not d % 2)
    assert 40 <= n_en <= 160 and 240 <= n_de <= 360   # ~20% / ~60% of 500


def test_image_dhash_known_values(spark):
    import numpy as np

    from docling_spark.ops.multimodal import (
        _dhash64_from_gray, _encode_netpbm, image_dhash)

    # monotone-increasing columns: every left pixel < right pixel → all
    # bits 0; decreasing → all 64 bits set → signed -1
    inc = np.tile(np.arange(16, dtype=np.uint8) * 16, (16, 1))
    assert _dhash64_from_gray(inc.astype(np.float64)) == 0
    assert _dhash64_from_gray(inc[:, ::-1].astype(np.float64)) == -1

    df = spark.createDataFrame(
        [("a", bytearray(_encode_netpbm(inc[:, :, None]))),
         ("b", bytearray(b"\x89PNG not decodable"))],
        "media_id string, payload binary",
    )
    got = {r["media_id"]: (r["dhash"], r["decoded"]) for r in image_dhash(df).collect()}
    assert got["a"] == (0, True)
    assert got["b"][1] is False          # digest fallback flagged


def test_image_neardup_pairs_planted(spark):
    import numpy as np

    from docling_spark.ops.multimodal import _encode_netpbm, image_neardup_pairs

    rng = np.random.RandomState(3)
    base = rng.randint(0, 256, size=(32, 32, 1), dtype=np.int32).astype(np.uint8)
    noisy = base.astype(np.int32) + rng.randint(-6, 7, size=base.shape)
    noisy = noisy.clip(0, 255).astype(np.uint8)
    other = rng.randint(0, 256, size=(32, 32, 1), dtype=np.int32).astype(np.uint8)
    df = spark.createDataFrame(
        [("img-0", bytearray(_encode_netpbm(base))),
         ("img-1", bytearray(_encode_netpbm(noisy))),
         ("img-2", bytearray(_encode_netpbm(other)))],
        "media_id string, payload binary",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_neardup_pairs(df, max_hamming=10).collect()}
    assert ("img-0", "img-1") in pairs       # noise survives the dHash
    assert ("img-0", "img-2") not in pairs and ("img-1", "img-2") not in pairs


def test_audio_fingerprints_and_shared_pairs(spark):
    import numpy as np

    from docling_spark.ops.multimodal import (
        audio_fingerprints, media_shared_fingerprint_pairs, synth_wav)

    rng1, rng2 = np.random.RandomState(5), np.random.RandomState(9)
    a = synth_wav(rng1)
    b = synth_wav(rng2)
    df = spark.createDataFrame(
        [("au-0", bytearray(a)), ("au-1", bytearray(a)), ("au-2", bytearray(b)),
         ("au-3", bytearray(b"not audio"))],
        "media_id string, payload binary",
    )
    fps = audio_fingerprints(df)
    rows = fps.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append((r["frame_no"], r["fp"], r["decoded"]))
    assert sorted(by_id["au-0"]) == sorted(by_id["au-1"])   # same clip → same fps
    assert all(d for _n, _f, d in by_id["au-0"])
    assert by_id["au-3"] == [(0, by_id["au-3"][0][1], False)]  # digest fallback
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in media_shared_fingerprint_pairs(fps, min_shared=3).collect()}
    assert ("au-0", "au-1") in pairs


def test_video_frame_hashes_shared(spark):
    import numpy as np

    from docling_spark.ops.multimodal import (
        media_shared_fingerprint_pairs, synth_y4m, video_frame_hashes)

    clip = synth_y4m(np.random.RandomState(4), n_frames=20)
    other = synth_y4m(np.random.RandomState(8), n_frames=20)
    df = spark.createDataFrame(
        [("v-0", bytearray(clip)), ("v-1", bytearray(clip)),
         ("v-2", bytearray(other))],
        "media_id string, payload binary",
    )
    fh = video_frame_hashes(df, every_n=5)
    got = fh.collect()
    assert all(r["decoded"] for r in got)
    assert {r["frame_no"] for r in got if r["media_id"] == "v-0"} == {0, 5, 10, 15}
    pairs = {(r["id_a"], r["id_b"]) for r in media_shared_fingerprint_pairs(
        fh, fp_col="dhash", min_shared=2).collect()}
    assert ("v-0", "v-1") in pairs


def test_remove_duplicate_substrings(spark):
    from docling_spark.ops.dedup import remove_duplicate_substrings

    shared = "one two three four five"
    rows = [
        (1, f"alpha {shared} beta"),
        (2, f"gamma {shared} delta"),
        (3, "totally unrelated text with several words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text_dedup"], r["n_tokens_removed"])
           for r in remove_duplicate_substrings(docs, window=5, min_df=2).collect()}
    # the 5-token shared run is excised from BOTH docs; unique words survive
    assert got[1] == ("alpha beta", 5)
    assert got[2] == ("gamma delta", 5)
    assert got[3] == ("totally unrelated text with several words here", 0)

    # overlapping flagged windows mask the union of their coverage
    rows2 = [
        (1, "a b c d e f g tail1"),
        (2, "a b c d e f g tail2"),
    ]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    got2 = {r["doc_id"]: (r["text_dedup"], r["n_tokens_removed"])
            for r in remove_duplicate_substrings(docs2, window=5, min_df=2).collect()}
    # windows at starts 1,2,3 are all shared → tokens 1..7 covered
    assert got2[1] == ("tail1", 7)
    assert got2[2] == ("tail2", 7)


def test_c4_clean_span_dedup(spark):
    from docling_spark.ops.textstats import c4_clean

    # sentence-delimited docs (the real-[.!?] path): doc 1 and doc 2 share a
    # 3-sentence run; doc 2's copy is excised, doc 2 survives on its own tail
    shared = "one two three four. five six seven eight. nine ten eleven twelve."
    docs = spark.createDataFrame([
        (1, shared + " unique tail one here. second unique tail here. third unique tail here."),
        (2, shared + " other ending alpha beta. other ending gamma delta. other ending epsilon zeta."),
        (3, "totally different sentence one. totally different sentence two. totally different sentence three."),
        (4, "lorem ipsum dolor sit. more lorem filler text. and yet more filler."),  # policy drop
        (5, "just one short sentence."),                                             # < min_sentences
        (6, "no."),                                                                  # every sentence < min_words
        # the same words cut at other sentence boundaries: no shared span
        (7, "one two ab. c three four. five six seven."),
        (8, "one two a. bc three four. five six seven."),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_clean(docs).collect()}
    assert 4 not in out                       # policy word drops the whole doc
    assert 6 not in out                       # no qualifying sentence stream at all
    assert out[1]["n_dropped_dup"] == 0       # first occurrence keeps the span
    assert out[1]["survived"]
    assert out[2]["n_dropped_dup"] == 3       # later occurrence excised
    assert out[2]["survived"]                 # 3 unique sentences remain
    assert "one two three four" not in out[2]["clean_text"]
    assert "one two three four" in out[1]["clean_text"]
    assert out[3]["n_dropped_dup"] == 0 and out[3]["survived"]
    assert not out[5]["survived"] and out[5]["n_sentences"] == 1
    for d in (7, 8):
        assert out[d]["n_dropped_dup"] == 0 and out[d]["survived"]

    # word-stream fallback path: identical docs → the later one is excised
    # wholesale and fails the doc gate
    stream = " ".join(f"w{i}" for i in range(60))
    docs2 = spark.createDataFrame(
        [(10, stream), (11, stream)], "doc_id long, text string")
    out2 = {r["doc_id"]: r for r in c4_clean(docs2).collect()}
    assert out2[10]["survived"] and out2[10]["n_dropped_dup"] == 0
    assert not out2[11]["survived"]           # every span duplicated doc 10


def test_semdedup_keep_rule(spark):
    import math

    from docling_spark.ops.similarity import semdedup

    # 8-dim toy space: vectors 1,2,3 are near-identical (cosine ≈ 1);
    # vector 4 is orthogonal. The exemplar kept is the group member with
    # the LOWEST cosine to its cell centroid (most peripheral), not min id.
    base = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    near = [1.0, 0.05, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    nearer = [1.0, 0.01, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    ortho = [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    emb = spark.createDataFrame(
        [(1, base), (2, near), (3, nearer), (4, ortho)],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           semdedup(emb, n_cells=4, dim=8, threshold=0.95, seed=11).collect()}
    assert len(out) == 4                      # every row comes back flagged
    assert out[4]["kept"]                     # orthogonal: no duplicate
    group = [out[1], out[2], out[3]]
    kept = [r for r in group if r["kept"]]
    assert len(kept) == 1                     # exactly one exemplar survives
    # the survivor is the min-cent_cos member (tie-break min id)
    min_cos = min(r["cent_cos_e6"] for r in group)
    assert kept[0]["cent_cos_e6"] == min_cos
    # determinism
    out2 = {r["vec_id"]: r["kept"] for r in
            semdedup(emb, n_cells=4, dim=8, threshold=0.95, seed=11).collect()}
    assert out2 == {k: v["kept"] for k, v in out.items()}


def test_gopher_rules_battery(spark):
    from docling_spark.ops.textstats import gopher_rules

    long_ok = "the quick brown fox and that dog have gone with them today " * 5
    docs = spark.createDataFrame([
        (1, long_ok),                                  # passes everything
        (2, "the of and"),                             # too few words
        (3, " ".join(["supercalifragilistic"] * 60)),  # mean word len > 10, no stopwords
        (4, ("# " * 30) + long_ok),                    # symbol ratio >= 0.1
        (5, " ".join(["12345"] * 60) + " the of"),     # < 80% alphabetic words
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_rules(docs, min_words=20).collect()}
    assert got[1]["pass_gopher"]
    assert not got[2]["ok_word_count"] and not got[2]["pass_gopher"]
    assert not got[3]["ok_mean_word_len"] and not got[3]["ok_stopwords"]
    assert not got[4]["ok_symbol_ratio"] and got[4]["ok_stopwords"]
    assert not got[5]["ok_alpha_words"] and not got[5]["pass_gopher"]


def test_bm25_topk_matches_hand_computation(spark):
    import math

    from docling_spark.ops.retrieval import bm25_idf, bm25_topk

    corpus = [
        (1, "spark join window spark spark"),
        (2, "spark table"),
        (3, "nothing relevant here at all"),
        (4, "join join join join join join"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["doc_id"]: (r["score_e6"], r["rank"])
           for r in bm25_topk(docs, ["spark", "join"], k=3).collect()}
    assert 3 not in got                       # no query term → filtered out
    # hand computation (k1=1.2, b=0.75, Lucene idf)
    N, dls = 4, {1: 5, 2: 2, 3: 5, 4: 6}
    avgdl = sum(dls.values()) / N
    idf = {"spark": bm25_idf(N, 2), "join": bm25_idf(N, 2)}
    def score(doc_id, tfs):
        s = 0.0
        norm = 1.2 * (0.25 + 0.75 * dls[doc_id] / avgdl)
        for t, tf in tfs.items():
            s += idf[t] * (tf * 2.2) / (tf + norm)
        return math.floor(round(s, 6) * 1_000_000)
    exp = {1: score(1, {"spark": 3, "join": 1}),
           2: score(2, {"spark": 1}),
           4: score(4, {"join": 6})}
    assert {d: s for d, (s, _) in got.items()} == exp
    ranks = sorted(got.values(), key=lambda v: v[1])
    assert [s for s, _ in ranks] == sorted((s for s, _ in ranks), reverse=True)


def test_sequence_pack_placement_and_partition_invariance(spark):
    from docling_spark.ops.packing import sequence_pack

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i))) for i in range(10)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           sequence_pack(docs, seq_len=10, sep_tokens=1, n_parts=3).collect()}
    # hand-checked placement: slots are n_tokens+1 wide, doc_id order
    assert out[0]["start_pos"] == 0 and out[1]["start_pos"] == 4
    assert out[2]["start_pos"] == 9 and out[2]["n_seqs_spanned"] == 2
    assert out[3]["first_seq"] == 1 and out[3]["last_seq"] == 2
    assert out[9]["start_pos"] == 72 and out[9]["offset_in_first"] == 2
    # the global prefix is a pure function of (order, counts): any
    # partition count gives bit-identical output
    for parts in (1, 5):
        alt = {r["doc_id"]: tuple(r) for r in
               sequence_pack(docs, seq_len=10, sep_tokens=1, n_parts=parts).collect()}
        assert alt == {k: tuple(v) for k, v in out.items()}


def test_sequence_pack_no_single_partition(spark):
    from docling_spark.ops.packing import sequence_pack

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(50)], "doc_id long, text string")
    plan = sequence_pack(docs, seq_len=8, n_parts=4)._jdf \
        .queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan   # the whole point of the 2-phase scan


def test_synth_embeddings_plant_neardups(tmp_path):
    # regression: the dup branch must regenerate its source EXACTLY (the
    # decision stream is separate from the vector stream); a state-
    # consumption bug here silently yields a dup-free corpus and makes
    # every dedup scale metric vacuous
    import numpy as np
    import pyarrow.parquet as pq

    from docling_spark.synth_docs import write_embeddings_parquet

    p = str(tmp_path / "emb.parquet")
    write_embeddings_parquet(p, 2000, seed=42)
    V = np.array(pq.read_table(p).to_pandas()["embedding"].tolist())
    n = V / np.linalg.norm(V, axis=1, keepdims=True)
    planted = sum(
        int((n[i] @ n[max(0, i - 11):i].T > 0.9).sum()) for i in range(11, 2000)
    )
    assert 20 <= planted <= 80            # ~2% of 2000, near-dup window ≤ 10 back
    # determinism across chunk boundaries: regenerating a prefix matches
    p2 = str(tmp_path / "emb2.parquet")
    write_embeddings_parquet(p2, 500, seed=42)
    V2 = np.array(pq.read_table(p2).to_pandas()["embedding"].tolist())
    assert np.array_equal(V[:500], V2)


def test_semdedup_reuses_external_assignment(spark):
    from docling_spark.ops.similarity import ivf_assign, semdedup

    import numpy as np
    rng = np.random.RandomState(3)
    base = rng.randn(20, 8)
    base[5] = base[4] + 0.01 * rng.randn(8)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(20)],
        "vec_id long, embedding array<double>")
    internal = {r["vec_id"]: tuple(r) for r in
                semdedup(emb, n_cells=4, dim=8, threshold=0.95, seed=11).collect()}
    cells = ivf_assign(emb, n_cells=4, dim=8, seed=11)
    reused = {r["vec_id"]: tuple(r) for r in
              semdedup(emb, n_cells=4, dim=8, threshold=0.95, seed=11,
                       assigned=cells).collect()}
    assert internal == reused             # same cells in = identical verdicts out


def test_c4_clean_dedup_invariant_randomized(spark):
    # randomized (seeded) corpus: after cleaning, every 3-sentence window
    # that was duplicated across the input corpus survives in AT MOST one
    # document (C4's dataset-level guarantee), and the operator is
    # deterministic across reruns
    import random

    rng = random.Random(17)
    vocab = [f"tok{i}" for i in range(30)]
    sents = [" ".join(rng.choice(vocab) for _ in range(5)) for _ in range(40)]
    docs = []
    for d in range(30):
        n = rng.randint(3, 8)
        body = [sents[rng.randrange(len(sents))] for _ in range(n)]
        docs.append((d, ". ".join(body) + "."))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from docling_spark.ops.textstats import c4_clean

    out = c4_clean(df).collect()
    out2 = c4_clean(df).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))  # deterministic
    # count surviving occurrences of each original 3-sentence window
    kept_windows = {}
    for r in out:
        if not r["survived"] or not r["clean_text"]:
            continue
        ss = [s for s in r["clean_text"].split(". ") if s]
        for i in range(len(ss) - 2):
            w = "\x1f".join(ss[i:i + 3])
            kept_windows.setdefault(w, set()).add(r["doc_id"])
    # original duplicated windows
    orig = {}
    for d, text in docs:
        ss = [s.strip().rstrip(".") for s in text.split(". ") if s.strip()]
        ss = [s for s in ss if len(s.split()) >= 3]
        for i in range(len(ss) - 2):
            w = "\x1f".join(ss[i:i + 3])
            orig.setdefault(w, []).append(d)
    dup_windows = {w for w, ds in orig.items() if len(ds) > 1}
    for w in dup_windows & set(kept_windows):
        assert len(kept_windows[w]) <= 1, f"duplicated window survived twice: {w}"


# ---------------------------------------------------------------------------
# hierarchical (two-level) centroid assignment — round-5 task 1
# ---------------------------------------------------------------------------

def test_group_centroids_tree_is_deterministic_and_total():
    from docling_spark.ops.similarity import _centroids, group_centroids

    cents = _centroids(32, 16, seed=11)
    c1, p1 = group_centroids(cents, metric="dot", seed=11)
    c2, p2 = group_centroids(cents, metric="dot", seed=11)
    assert np.array_equal(c1, c2) and np.array_equal(p1, p2)
    # every fine cell has a parent; every kept group has >= 1 child
    assert len(p1) == 32
    assert set(p1) == set(range(len(c1)))   # dense re-label, no empty group
    # ~sqrt(32) coarse groups
    assert 2 <= len(c1) <= 7


def test_hier_assignment_recovers_on_centroid_vectors(spark):
    # vectors placed exactly AT the fine centroids must route back to
    # their own cell: level 1 reproduces child_of's argmax, level 2 wins
    # on the unit self-dot — so hier == flat == identity here
    from docling_spark.ops.similarity import (
        HIER_MIN_CELLS, _assign_cells, _assign_cells_hier, _centroids)

    n_cells, dim = 24, 16
    assert n_cells >= HIER_MIN_CELLS
    cents = _centroids(n_cells, dim, seed=11)
    rows = [(i, [float(x) for x in cents[i]]) for i in range(n_cells)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cell"]
           for r in _assign_cells_hier(emb, cents, "vec_id", "embedding",
                                       "dot", seed=11).collect()}
    assert got == {i: i for i in range(n_cells)}
    # the public entry point routes through the hier path at >= 16 cells
    via = {r["vec_id"]: r["cell"]
           for r in _assign_cells(emb, n_cells, dim, 11, "vec_id",
                                  "embedding", top_n=1).collect()}
    assert via == got


def test_hier_assignment_l2_metric(spark):
    from docling_spark.ops.similarity import _assign_cells_hier, _centroids

    n_cells, dim = 16, 8
    cents = _centroids(n_cells, dim, seed=3) * 2.0  # non-unit: L2 geometry
    rows = [(i, [float(x) for x in cents[i]]) for i in range(n_cells)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cell"]
           for r in _assign_cells_hier(emb, cents, "vec_id", "embedding",
                                       "l2", seed=3).collect()}
    assert got == {i: i for i in range(n_cells)}  # own centroid, L2 dist 0


def test_semdedup_assigned_reuse_matches_default(spark):
    # semdedup(assigned=ivf_assign(...)) must equal the default path —
    # both derive the SAME (two-level) assignment, one just reuses it
    from docling_spark.ops.similarity import ivf_assign, semdedup

    rng = np.random.RandomState(7)
    base = rng.randn(40, 8)
    base[1] = base[0] + 0.001 * rng.randn(8)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(n_cells=16, dim=8, threshold=0.95)
    default = sorted(map(tuple, semdedup(emb, **kw).collect()))
    assigned = ivf_assign(emb, n_cells=16, dim=8)
    reused = sorted(map(tuple, semdedup(emb, assigned=assigned, **kw).collect()))
    assert default == reused
    kept = {r[0]: r[3] for r in default}
    assert sum(1 for v in (kept[0], kept[1]) if v) == 1  # one of the near-dup pair survives


# ---------------------------------------------------------------------------
# 128-bit simhash — round-5 task 7 (the width knob the scale-step named)
# ---------------------------------------------------------------------------

def test_simhash128_finds_near_dups(docs):
    from docling_spark.ops.dedup import simhash128, simhash_neardup_pairs

    sig = {r["doc_id"]: (r["simhash_lo"], r["simhash_hi"])
           for r in simhash128(docs).collect()}
    assert sig[1] == sig[2]                      # exact dups identical
    # the two longs are independent fingerprints (different limb families)
    assert sig[1][0] != sig[1][1]
    # k=15 -> sixteen 8-bit blocks (8 | 64 so no block straddles a long):
    # loose-recall geometry that still pigeonhole-guarantees the planted
    # near dup (measured 128-bit hamming 13) while excluding unrelated
    # docs (measured 65)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_neardup_pairs(docs, bits=128,
                                            max_hamming=15).collect()}
    assert pairs[(1, 2)] == 0                     # exact dup pair found
    assert 0 < pairs[(1, 3)] <= 15                # near dup, nonzero distance
    assert (1, 5) not in pairs and (2, 5) not in pairs
    # the tokenize + token hash runs once per document, shared by both
    # limb families
    plan = simhash128(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(trim(") == 1


def test_simhash128_tighter_than_64(spark):
    # random word-salad docs: at equal k the 128-bit geometry must admit
    # no MORE block-collision candidates than the 64-bit one (32-bit vs
    # 16-bit blocks -> ~2^16 x lower random collision probability)
    import random

    from docling_spark.ops.dedup import simhash_block_stats

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(40)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(30)), "en")
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    c64 = simhash_block_stats(docs, bits=64).collect()[0]
    c128 = simhash_block_stats(docs, bits=128).collect()[0]
    assert c128["n_block_candidate_pairs"] <= c64["n_block_candidate_pairs"]


def test_hamming_pairs_multi_long_block_mapping(spark):
    # two fingerprints differing ONLY in the high long must not collide on
    # lo-blocks alone... they DO share blocks 0/1 (from lo) — the point is
    # the verify: hamming sums BOTH longs' popcounts
    from docling_spark.ops.dedup import hamming_pairs

    rows = [(1, 5, 0), (2, 5, 1 << 40)]
    sig = spark.createDataFrame(rows, "id long, lo long, hi long")
    out = hamming_pairs(sig, "id", ["lo", "hi"], bits=128, max_hamming=3).collect()
    assert len(out) == 1 and out[0]["hamming"] == 1
    far = spark.createDataFrame([(1, 5, 0), (2, 5, (1 << 40) | (1 << 50) |
                                 (1 << 60) | 7 << 33)],
                                "id long, lo long, hi long")
    got = hamming_pairs(far, "id", ["lo", "hi"], bits=128, max_hamming=3).collect()
    assert got == []                             # 6 bits apart -> verified out


def test_hier_assignment_quality_instrument(spark):
    """The two-level tree is an APPROXIMATE router (standard IMI trade):
    documents the measured agreement-with-flat-argmax in the two regimes,
    and the invariant SemDeDup actually needs — near-identical vectors
    co-route (routing is a deterministic function of the vector), so
    planted duplicates always land in the same cell."""
    from docling_spark.ops.similarity import (
        _assign_cells, _assign_cells_hier, _centroid_df, kmeans_lloyd)

    rng = np.random.RandomState(3)
    centers = rng.randn(16, 32) * 4           # separated blobs
    X = np.vstack([c + rng.randn(40, 32) for c in centers])
    X[1] = X[0] + 1e-6 * rng.randn(32)        # planted near-dup pair
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(X)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents_np = kmeans_lloyd(X, 16, 10, 11)
    cents_df = _centroid_df(spark, cents_np)
    flat = {r["vec_id"]: r["cell"] for r in _assign_cells(
        emb, 16, 32, 11, "vec_id", "embedding", top_n=2,
        cents=cents_df).filter("rn=1").collect()}
    hier = {r["vec_id"]: r["cell"] for r in _assign_cells_hier(
        emb, cents_np, "vec_id", "embedding", "dot", 11).collect()}
    agree = sum(1 for k in flat if flat[k] == hier[k]) / len(flat)
    # trained centroids on clustered data: routing mostly matches argmax
    # (measured 0.77-0.81 at 32 cells/64-dim on blob corpora; isotropic
    # data with seeded random centroids is the worst case at ~0.3-0.5 —
    # cells remain a valid deterministic partition either way, which is
    # all SemDeDup's Σ|cell|² confinement requires)
    assert agree >= 0.6
    # the SemDeDup invariant: the near-identical pair co-routes
    assert hier[0] == hier[1]
