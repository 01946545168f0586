"""Hypothesis property tests for the curation text kernels: the Arrow
repetition statistics and word_ngrams, on adversarial token streams —
repeated separators (empty tokens), single tokens, unicode, long
repeats — each against a plain-Python Counter oracle. Same harness
conventions as test_kernel_properties.py."""

import re
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SET = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# tiny alphabet (forces gram collisions), some multi-char and unicode
# tokens, and "" entries that join into doubled separators
TOKENS = ["a", "b", "ab", "ß", "日本", "x1", ""]


def texts_strategy():
    return st.lists(
        st.lists(st.sampled_from(TOKENS), min_size=0, max_size=25).map(" ".join),
        min_size=1,
        max_size=12,
    )


def _py_stats(text: str, n: int, split: str = " "):
    toks = re.split(split, text)
    if len(toks) < n:
        return 0, 0.0, 0.0
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    c = Counter(grams)
    total = len(grams)
    dup = sum(v for v in c.values() if v > 1)
    return total, dup / total, max(c.values()) / total


@SET
@given(texts_strategy(), st.integers(min_value=2, max_value=4))
@pytest.mark.parametrize("source", ["arrow", "column"])
def test_repetition_stats_property(frame_from, source, texts, n):
    from mrmr_spark.operators.curation import with_repetition_stats

    df = frame_from(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string", source
    )
    # `split` is a regex, as in F.split: the default literal space, any
    # whitespace run, and an escaped dot (which str.split would read as a
    # two-character literal)
    for split, data in ((" ", df),
                        (r"\s+", df),
                        (r"\.", df.withColumn("text", F.translate("text", " ", ".")))):
        out = with_repetition_stats(data, ns=(n,), split=split).collect()
        assert len(out) == len(texts)
        for r in out:
            total, dup, top = _py_stats(r.text, n, split)
            assert r[f"rep{n}_total"] == total, (source, split, r.text)
            assert r[f"rep{n}_dup_frac"] == pytest.approx(dup, abs=1e-15)
            assert r[f"rep{n}_top_frac"] == pytest.approx(top, abs=1e-15)


@SET
@given(texts_strategy(), st.integers(min_value=1, max_value=5))
def test_word_ngrams_property(spark, texts, n):
    from mrmr_spark.operators.curation import word_ngrams

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r.g for r in df.select("doc_id", word_ngrams("text", n).alias("g")).collect()}
    for i, t in enumerate(texts):
        toks = t.split(" ")
        exp = (
            [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
            if len(toks) >= n
            else []
        )
        assert got[i] == exp, (t, n)
