import numpy as np
import pandas as pd

from mrmr_spark.operators.multimodal import (
    _fake_features,
    extract_media_features,
    frame_sample_plan,
    synth_media_df,
)
from mrmr_spark.operators.textstats import with_text_stats


def test_text_stats(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "the cat and the dog sat on the mat in a box",
                "el perro y el gato en la casa de los abuelos",
                "xyz qrs tuv",
            ],
        }
    )
    got = with_text_stats(spark.createDataFrame(pdf)).toPandas().sort_values("doc_id")
    assert got["n_tokens"].tolist() == [12, 11, 3]
    # plain words: one letter-run pre-token per word
    assert got["n_subword_tokens"].tolist() == [12, 11, 3]
    # mixed classes split into letter/digit/symbol runs like GPT-2's pre-tokenizer
    pdf_m = pd.DataFrame({"doc_id": [0], "text": ["Hello, world! 42 times"]})
    m = with_text_stats(spark.createDataFrame(pdf_m)).collect()[0]
    assert m["n_subword_tokens"] == 6  # Hello , world !  42 times
    assert got["lang_pred"].tolist() == ["en", "es", "other"]
    assert (got["quality"] >= 0).all() and (got["quality"] <= 1).all()
    # fingerprint: normalization collapses case/whitespace
    pdf2 = pd.DataFrame({"doc_id": [0], "text": ["  THE cat   and the dog sat on the mat in a box "]})
    fp2 = with_text_stats(spark.createDataFrame(pdf2)).collect()[0]["fingerprint"]
    assert fp2 == got[got.doc_id == 0].iloc[0]["fingerprint"]


def test_media_feature_extraction(spark):
    media = synth_media_df(spark, n=30, seed=9)
    feats = extract_media_features(media).toPandas().sort_values("media_id")
    assert len(feats) == 30
    assert feats["feature"].map(len).eq(16).all()
    # deterministic: pure function of the bytes
    raw = media.select("media_id", "content").toPandas().sort_values("media_id")
    for mid, content in zip(raw["media_id"], raw["content"]):
        exp = _fake_features(bytes(content))
        got = np.array(feats[feats["media_id"] == mid].iloc[0]["feature"])
        assert np.allclose(got, exp)
    assert (feats["n_bytes"] == raw["content"].map(len).to_numpy()).all()


def test_media_real_codec_is_stubbed(spark):
    import pytest

    media = synth_media_df(spark, n=3)
    with pytest.raises(Exception) as exc_info:
        extract_media_features(media, codec="real").collect()
    assert "NotImplementedError" in str(exc_info.value) or "decode" in str(exc_info.value)


def test_frame_sample_plan(spark):
    media = synth_media_df(spark, n=12, seed=9)
    plan = frame_sample_plan(media, every_ms=5000).toPandas()
    meta = media.where("kind = 'video'").select("media_id", "meta.duration_ms").toPandas()
    for mid, dur in zip(meta["media_id"], meta["duration_ms"]):
        frames = plan[plan["media_id"] == mid]["frame_ms"].to_numpy()
        assert frames[0] == 0 and frames[-1] <= dur
        assert (np.diff(frames) == 5000).all()


def _py_winnow(text, k=None, window=None, base=257, mod=2_147_483_647):
    """Independent pure-Python winnowing oracle (SWA winnowing, MOSS)."""
    import re

    from mrmr_spark.operators.textstats import WINNOW_K, WINNOW_WINDOW

    k = WINNOW_K if k is None else k
    window = WINNOW_WINDOW if window is None else window

    t = re.sub(r"\s+", " ", re.sub(r"[^ -~]", "", text)).strip().lower()
    if not t:
        return []
    codes = [ord(c) for c in t]
    hashes = []
    for i in range(max(len(t) - k + 1, 1)):
        acc = 0
        for c in codes[i : i + k]:
            acc = (acc * base + c) % mod
        hashes.append(acc)
    wins = [min(hashes[j : j + window]) for j in range(max(len(hashes) - window + 1, 1))]
    return sorted(set(wins))


def test_winnow_fingerprints_match_python_oracle(spark):
    from mrmr_spark.operators.textstats import winnow_fingerprints

    docs = [
        ("a", "The quick brown fox jumps over the lazy dog"),
        ("b", "the  QUICK\tbrown fox Jumps over the lazy dog!!"),
        ("c", "短い"),  # all non-ascii -> empty post-normalization
        ("d", "hi"),  # shorter than k
        ("e", ""),
        ("f", "abcdefghijklmnopqrst"),  # exactly k chars
        ("g", "x" * 50),  # constant text -> one distinct fingerprint
        ("h", "caf\xe9 ni\xf1o r\xe9sum\xe9"),  # mixed unicode stripped
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r.doc_id: list(r.fps) for r in df.select("doc_id", winnow_fingerprints().alias("fps")).collect()}
    for doc_id, text in docs:
        assert got[doc_id] == _py_winnow(text), doc_id
    assert got["c"] == [] and got["e"] == []
    assert len(got["g"]) == 1


def test_winnow_guarantee_and_candidate_pairs(spark):
    """Any shared substring of length >= k + window - 1 guarantees a shared
    fingerprint (the winnowing theorem) -> the pair surfaces as a candidate."""
    from mrmr_spark.operators.textstats import winnow_candidate_pairs

    shared = "this exact sentence appears verbatim in both documents"
    docs = [
        ("a", "prefix aaaa " + shared + " suffix bbbb"),
        ("b", "zzz unrelated opening " + shared + " closing words qqq"),
        ("c", "completely different content with no overlap at all here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = winnow_candidate_pairs(df, min_shared=1).collect()
    keys = {(p.id_a, p.id_b) for p in pairs}
    assert ("a", "b") in keys
    ab = next(p for p in pairs if (p.id_a, p.id_b) == ("a", "b"))
    # intersection of the two docs' distinct fingerprint sets
    exp_shared = len(set(_py_winnow(docs[0][1])) & set(_py_winnow(docs[1][1])))
    assert ab.n_shared == exp_shared >= 1


def test_winnow_max_df_drops_stop_fingerprints(spark):
    from mrmr_spark.operators.textstats import winnow_candidate_pairs

    # a stop phrase in every doc; unique tails -> with max_df=2 the shared
    # fingerprints are dropped and no pair reaches min_shared
    docs = [(str(i), "the common boilerplate header text " + f"unique tail {i} " * 3) for i in range(6)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    capped = winnow_candidate_pairs(df, min_shared=1, max_df=2).collect()
    uncapped = winnow_candidate_pairs(df, min_shared=1, max_df=None).collect()
    assert len(uncapped) == 15  # all C(6,2) pairs share the boilerplate
    assert len(capped) == 0


def test_resize_images_plumbing(spark):
    from mrmr_spark.operators.multimodal import resize_images, synth_media_df

    media = synth_media_df(spark, n=30, seed=9)
    before = {r.media_id: r for r in media.collect()}
    out = {r.media_id: r for r in resize_images(media, max_side=64).collect()}
    assert out.keys() == before.keys()
    for mid, r in out.items():
        b = before[mid]
        if b.kind != "image":
            assert bytes(r.content) == bytes(b.content)  # pass-through
            continue
        w, h = b.meta.width, b.meta.height
        if max(w, h) <= 64:
            assert (r.meta.width, r.meta.height) == (w, h)
            continue
        scale = 64 / max(w, h)
        assert (r.meta.width, r.meta.height) == (
            max(1, round(w * scale)), max(1, round(h * scale)))
        assert max(r.meta.width, r.meta.height) == 64
        # byte payload decimated by the area ratio (deterministic fake)
        exp_n = max(1, int(len(bytes(b.content)) * (r.meta.width * r.meta.height) / (w * h)))
        assert len(bytes(r.content)) == exp_n
    # determinism
    out2 = {r.media_id: bytes(r.content) for r in resize_images(media, max_side=64).collect()}
    assert out2 == {k: bytes(v.content) for k, v in out.items()}

    # a NULL meta struct (blob ingested without dims) passes through
    # instead of killing the Python stage
    from pyspark.sql import functions as F

    null_meta = media.withColumn(
        "meta", F.when(F.col("kind") != "image", F.col("meta"))
    )
    out3 = {r.media_id: r for r in resize_images(null_meta, max_side=64).collect()}
    assert out3.keys() == before.keys()
    for mid, r in out3.items():
        if before[mid].kind == "image":  # dims unknown -> pass-through
            assert r.meta is None
            assert bytes(r.content) == bytes(before[mid].content)


def test_resize_images_real_codec_is_stubbed(spark):
    import pytest

    from mrmr_spark.operators.multimodal import resize_images, synth_media_df

    media = synth_media_df(spark, n=6, seed=9)
    with pytest.raises(Exception) as exc_info:
        resize_images(media, max_side=16, codec="real").collect()
    assert "NotImplementedError" in str(exc_info.value) or "resize" in str(exc_info.value)


# ---------------------------------------------------------------------------
# Hypothesis property test: both winnow backends vs the pure-Python oracle
# on randomized texts (unicode to strip, whitespace runs, shared substrings,
# lengths straddling k and k+window-1).
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ALPHABET = st.sampled_from(
    list("abcXYZ 019.,!?") + ["\t", "\n", "  ", "é", "日", " ", "~", "\x7f"]
)


def _texts_strategy():
    """A corpus of 1-8 documents; some share a long common chunk so the
    winnowing guarantee path (shared substring >= k+w-1) is exercised."""
    doc = st.lists(_ALPHABET, min_size=0, max_size=60).map("".join)
    shared = st.lists(st.sampled_from(list("abcdefgh ")), min_size=27, max_size=40).map(
        "".join
    )
    return st.tuples(st.lists(doc, min_size=1, max_size=8), shared, st.booleans())


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_texts_strategy())
def test_winnow_property_backends_match_oracle(spark, case):
    from mrmr_spark.operators.textstats import winnow_fingerprints

    docs, shared, inject = case
    if inject and len(docs) >= 2:  # plant a shared >= k+w-1 chunk in two docs
        docs = list(docs)
        docs[0] = docs[0] + " " + shared
        docs[-1] = shared + " " + docs[-1]
    rows = [(str(i), t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exp = {doc_id: _py_winnow(text) for doc_id, text in rows}
    got = {
        r.doc_id: list(r.fps)
        for r in df.select("doc_id", winnow_fingerprints().alias("fps")).collect()
    }
    assert got == exp
    if inject and len(rows) >= 2:
        # the winnowing theorem: the planted >= k+w-1 shared substring
        # guarantees at least one common fingerprint
        assert set(exp["0"]) & set(exp[str(len(rows) - 1)])
