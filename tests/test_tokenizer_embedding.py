"""BPE tokenizer (train, encode, offsets, pair counts) and the feature-hashing
embedding kernel (both hash families: poly against a Python oracle,
xxhash64 against Spark's own hash expressions), plus the train→encode
segmentation-reproduction invariant and a hypothesis sweep on
adversarial corpora."""

import math
import random
import re
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mrmr_spark.operators.embedding import (
    _POLY_BASE_BUCKET,
    _POLY_BASE_SIGN,
    _POLY_MOD,
    _xxhash64,
    hashed_embedding,
)
from mrmr_spark.operators.tokenizer import (
    END_OF_WORD,
    _encode_word_py,
    bpe_encode,
    bpe_pair_counts,
    bpe_token_count,
    bpe_train,
    merge_word,
    word_counts,
)

SET = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

DOCS = [
    (0, "the fast the fast lane"),
    (1, "the theme of the fast"),
    (2, None),
    (3, ""),
    (4, "a  a the"),
    (5, "faster theme park the"),
]


# DOCS plus a word carrying U+001F (unit separator), a character any
# symbol-wrapping encoder must not treat as structure
DOCS_US = DOCS + [(6, "a\x1fb the\x1f fast")]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


# ---------------------------------------------------------------------------
# independent Python oracles
# ---------------------------------------------------------------------------


def naive_encode_word(word, merges, eow=END_OF_WORD):
    """Textbook sequential application: every merge in rank order, one
    full left-to-right pass each — O(M·len), no skip logic."""
    syms = list(word) + [eow]
    for m in merges:
        syms = merge_word(syms, m)
    return syms


def naive_train(texts, num_merges, eow=END_OF_WORD):
    """Recount-from-scratch trainer: no incremental pair statistics, no
    inverted index — a genuinely different implementation path."""
    wc = Counter(w for t in texts if t for w in t.split(" ") if w)
    words = {w: list(w) + [eow] for w in wc}
    merges = []
    for _ in range(num_merges):
        stats = Counter()
        for w, syms in words.items():
            for p in zip(syms, syms[1:]):
                stats[p] += wc[w]
        if not stats:
            break
        best_count = max(stats.values())
        best = min(p for p, c in stats.items() if c == best_count)
        merges.append(best)
        words = {w: merge_word(s, best) for w, s in words.items()}
    return merges, words


def py_word_counts(texts):
    return Counter(w for t in texts if t for w in t.split(" ") if w)


# ---------------------------------------------------------------------------
# word_counts / bpe_train
# ---------------------------------------------------------------------------


def test_word_counts_matches_counter(spark, docs):
    got = {r.word: r["count"] for r in word_counts(docs).collect()}
    assert got == dict(py_word_counts([t for _, t in DOCS]))


def test_word_counts_options(spark):
    df = spark.createDataFrame([(0, "The the THE rare")], "doc_id long, text string")
    got = {r.word: r["count"] for r in word_counts(df, lowercase=True).collect()}
    assert got == {"the": 3, "rare": 1}
    got = {r.word: r["count"] for r in word_counts(df, lowercase=True, min_count=2).collect()}
    assert got == {"the": 3}


def test_bpe_train_matches_naive(spark, docs):
    texts = [t for _, t in DOCS]
    model = bpe_train(word_counts(docs), num_merges=10)
    exp_merges, exp_words = naive_train(texts, 10)
    assert model["merges"] == exp_merges
    assert not model["truncated"]
    assert model["n_words"] == len(py_word_counts(texts))
    # the vocab contains every final symbol and every merge product
    for syms in exp_words.values():
        assert set(syms) <= set(model["vocab"])


def test_bpe_train_exhausts_pairs(spark):
    df = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    model = bpe_train(word_counts(df), num_merges=50)
    # "ab</w>" fully merges in 2 steps; the loop must stop, not pad
    assert len(model["merges"]) == 2
    assert "ab</w>" in model["vocab"]


def test_bpe_train_truncation_flag(spark, docs):
    model = bpe_train(word_counts(docs), num_merges=2, max_words=3)
    assert model["truncated"]
    assert model["n_words"] == 3


def test_bpe_train_validation(spark, docs):
    with pytest.raises(ValueError, match="num_merges"):
        bpe_train(word_counts(docs), num_merges=-1)


# ---------------------------------------------------------------------------
# encode vs the naive oracle; training-segmentation reproduction
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("source", ["arrow", "column"])
def test_bpe_encode_matches_naive(spark, docs, frame_from, source):
    model = bpe_train(word_counts(docs), num_merges=8)
    df = frame_from(DOCS_US, "doc_id long, text string", source)
    rows = bpe_encode(df, model["merges"]).orderBy("doc_id").collect()
    assert len(rows) == len(DOCS_US)
    for r in rows:
        exp = []
        for w in (r.text or "").split(" "):
            if w:
                exp.extend(naive_encode_word(w, model["merges"]))
        assert r.bpe_tokens == exp, (r.doc_id, r.bpe_tokens, exp)


def test_bpe_encode_reproduces_training_segmentation(spark, docs):
    """Sequential rank-order encoding of a training word must equal the
    trainer's own final segmentation of it — the property that makes the
    'missed turn' rule the right semantics."""
    texts = [t for _, t in DOCS]
    merges, final_words = naive_train(texts, 12)
    enc = bpe_encode(
        spark.createDataFrame([(w,) for w in final_words], "text string"),
        merges,
    ).collect()
    for r in enc:
        assert r.bpe_tokens == final_words[r.text]


def test_bpe_token_count(spark, docs):
    model = bpe_train(word_counts(docs), num_merges=5)
    rows = bpe_token_count(docs, model["merges"]).orderBy("doc_id").collect()
    for r in rows:
        exp = sum(
            len(naive_encode_word(w, model["merges"]))
            for w in (r.text or "").split(" ")
            if w
        )
        assert r.n_bpe_tokens == exp


def test_bpe_encode_validation(spark, docs):
    with pytest.raises(TypeError, match="backend"):
        bpe_encode(docs, [], backend="column")
    with pytest.raises(TypeError, match="backend"):
        bpe_token_count(docs, [], backend="column")


def test_bpe_pair_counts_matches_python(spark, docs):
    texts = [t for _, t in DOCS]
    merges, _ = naive_train(texts, 3)
    got = {
        (r.sym_a, r.sym_b): r.pair_count
        for r in bpe_pair_counts(word_counts(docs), merges).collect()
    }
    exp = Counter()
    for w, c in py_word_counts(texts).items():
        syms = naive_encode_word(w, merges)
        for p in zip(syms, syms[1:]):
            exp[p] += c
    assert got == dict(exp)


def _pair_oracle(word_counts_rows, merges):
    ranks = {p: i for i, p in enumerate(merges)}
    exp = Counter()
    for w, c in word_counts_rows:
        syms = _encode_word_py(w, merges, ranks, END_OF_WORD)
        for p in zip(syms, syms[1:]):
            exp[p] += c
    return dict(exp)


def test_bpe_pair_counts_unit_separator_word(spark):
    """A word containing U+001F keeps that character as its own symbol."""
    rows = [("a\x1fb", 3), ("ab", 2), ("\x1f", 1), ("the", 5)]
    wc = spark.createDataFrame(rows, "word string, count bigint")
    merges = [("a", "b"), ("t", "h"), ("\x1f", "b")]
    got = {
        (r.sym_a, r.sym_b): r.pair_count
        for r in bpe_pair_counts(wc, merges).collect()
    }
    exp = _pair_oracle(rows, merges)
    assert ("a", "\x1fb") in exp
    assert got == exp


def test_bpe_long_merge_list(spark):
    """A 600-merge list trained on a synthetic vocabulary: pair counts and
    the offset encode both run and match the Python oracles."""
    from mrmr_spark.operators.tokenizer import token_offsets

    rng = random.Random(5)
    letters = "abcdefghijklmnop"
    words = {
        "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        for _ in range(1500)
    }
    rows = [(w, 1 + rng.randrange(50)) for w in sorted(words)]
    wc = spark.createDataFrame(rows, "word string, count bigint")
    merges = bpe_train(wc, num_merges=600)["merges"]
    assert len(merges) == 600

    got = {
        (r.sym_a, r.sym_b): r.pair_count
        for r in bpe_pair_counts(wc, merges).collect()
    }
    assert got == _pair_oracle(rows, merges)

    texts = [(i, " ".join(w for w, _ in rows[i::40])) for i in range(40)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    offs = {
        r.doc_id: [tuple(t) for t in r.tokens]
        for r in token_offsets(df, merges).collect()
    }
    assert offs == {i: py_token_offsets(t, merges) for i, t in texts}


WORDS = ["a", "b", "ab", "aab", "the", "them", "ba", "aa", "x"]


@SET
@given(
    st.lists(
        st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=10,
    ),
    st.integers(min_value=0, max_value=12),
)
def test_bpe_property_train_and_encode(spark, texts, num_merges):
    """Adversarial small-alphabet corpora (heavy pair collisions, words that
    are prefixes of each other): trainer == recount-from-scratch oracle and
    the encoder == the naive sequential oracle; round-trip: tokens
    concatenate back to word + marker."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    model = bpe_train(word_counts(df), num_merges=num_merges)
    exp_merges, _ = naive_train(texts, num_merges)
    assert model["merges"] == exp_merges

    for ra in bpe_encode(df, model["merges"]).orderBy("doc_id").collect():
        exp = []
        for w in (ra.text or "").split(" "):
            if w:
                exp.extend(naive_encode_word(w, model["merges"]))
        assert ra.bpe_tokens == exp
        # round-trip: concatenation restores the marked words
        assert "".join(ra.bpe_tokens) == "".join(
            w + END_OF_WORD for w in (ra.text or "").split(" ") if w
        )


# ---------------------------------------------------------------------------
# hashed embedding
# ---------------------------------------------------------------------------


def _poly(tok, base):
    acc = 0
    for ch in tok:
        acc = (acc * base + ord(ch)) % _POLY_MOD
    return acc


def _finish(v, normalize):
    if not normalize:
        return [float(x) for x in v]
    nrm = math.sqrt(sum(x * x for x in v))
    return [x / nrm if nrm > 0 else float(x) for x in v]


def py_embedding(text, dim, signed=True, normalize=True, seed=0, split=" "):
    v = [0] * dim
    for w in re.split(split, text or ""):
        if not w:
            continue
        b = (_poly(w, _POLY_BASE_BUCKET) + seed) % dim
        s = 1 - 2 * ((_poly(w, _POLY_BASE_SIGN) + seed) % 2) if signed else 1
        v[b] += s
    return _finish(v, normalize)


def spark_xxhash64_embedding(spark, texts, dim, signed=True, normalize=True, seed=0, split=" "):
    """{text: vector} from Spark's own hash expressions: per token
    pmod(xxhash64(tok, seed), dim) and the sign from the parity of
    xxhash64(tok, seed + 1), computed in Spark; only the integer sums and
    the one normalization divide happen here."""
    df = spark.createDataFrame([(t,) for t in set(texts)], "text string")
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), split), lambda w: w != F.lit("")
    )
    sign = (
        F.lit(1) - F.lit(2) * F.pmod(F.xxhash64("tok", F.lit(seed + 1)), F.lit(2))
        if signed
        else F.lit(1)
    )
    rows = (
        df.select("text", F.explode(toks).alias("tok"))
        .select("text", F.pmod(F.xxhash64("tok", F.lit(seed)), F.lit(dim)).alias("b"),
                sign.alias("s"))
        .collect()
    )
    vecs = {t: [0] * dim for t in set(texts)}
    for r in rows:
        vecs[r.text][r.b] += r.s
    return {t: _finish(v, normalize) for t, v in vecs.items()}


XXH_TOKENS = ["", "a", "the", "héllo wörld", "日本語テキスト", "x" * 31, "y" * 32,
              "z" * 40, "abcdefgh" * 5 + "ijklm", "q" * 70]
XXH_SEEDS = [0, 7, -3, 2**31 - 1, 2**31, 2**40 + 5]


def test_xxhash64_port_matches_spark(spark):
    """The kernel's Python XXH64 reproduces ``F.xxhash64(tok, F.lit(seed))``
    across the stripe/word/int/byte tails (31/32/40/45/70 bytes), multibyte
    UTF-8, and int vs bigint literal seeds."""
    df = spark.createDataFrame([(t,) for t in XXH_TOKENS], "tok string")
    for seed in XXH_SEEDS:
        got = {r.tok: r.h for r in df.select("tok", F.xxhash64("tok", F.lit(seed)).alias("h")).collect()}
        assert got == {t: _xxhash64(t, seed) for t in XXH_TOKENS}, seed


@pytest.mark.parametrize("hash_fn", ["xxhash64", "poly"])
def test_hashed_embedding_backends_identical(spark, docs, hash_fn):
    """The one kernel against each family's reference. Every row embeds its
    own text: rows sharing an id, or with a NULL id, are not pooled."""
    extra = spark.createDataFrame([(0, "lane theme"), (None, "the fast")], docs.schema)
    rows = hashed_embedding(docs.union(extra), dim=8, out_col="emb", hash_fn=hash_fn).collect()
    texts = [r.text for r in rows]
    if hash_fn == "xxhash64":
        ref = spark_xxhash64_embedding(spark, texts, 8)
    else:
        ref = {t: py_embedding(t, 8) for t in texts}
    assert len(rows) == len(DOCS) + 2
    for r in rows:
        assert r.emb == ref[r.text], r
        if r.text in (None, ""):
            assert r.emb == [0.0] * 8  # NULL / empty → zero vec


DOTTED = DOCS + [(6, "end. of.a  line."), (7, "日本語 héllo " + "x" * 40)]
SPLITS = (" ", r"\s+", r"\.")


@pytest.mark.parametrize("signed,normalize", [(True, True), (True, False), (False, True)])
def test_hashed_embedding_matches_python(spark, signed, normalize):
    """poly family against the Python oracle; ``split`` is a regex."""
    df = spark.createDataFrame(DOTTED, "doc_id long, text string")
    for split in SPLITS:
        got = {
            r.doc_id: r.emb
            for r in hashed_embedding(
                df, dim=8, out_col="emb", hash_fn="poly", signed=signed,
                normalize=normalize, split=split,
            ).collect()
        }
        for i, t in DOTTED:
            assert got[i] == py_embedding(t, 8, signed, normalize, split=split), (i, t, split)


@pytest.mark.parametrize(
    "signed,normalize,seed",
    [(True, True, 0), (True, False, 7), (False, True, 3), (True, True, 2**31 - 1)],
)
def test_hashed_embedding_arrow_bit_identical(spark, signed, normalize, seed):
    """xxhash64 family: the Arrow kernel equals Spark's xxhash64 expressions
    exactly (integer accumulation + one IEEE divide). The dotted doc and
    the double space of doc 4 tokenize differently under each split."""
    df = spark.createDataFrame(DOTTED, "doc_id long, text string")
    texts = [t for _, t in DOTTED]
    for split in SPLITS:
        kw = dict(signed=signed, normalize=normalize, seed=seed, split=split)
        got = {r.doc_id: r.emb for r in hashed_embedding(df, dim=8, out_col="emb", **kw).collect()}
        ref = spark_xxhash64_embedding(spark, texts, 8, **kw)
        assert got == {i: ref[t] for i, t in DOTTED}, split


def test_hashed_embedding_unit_norm_and_seed(spark, docs):
    rows = hashed_embedding(docs, dim=16, out_col="emb", seed=7).collect()
    for r in rows:
        n = math.sqrt(sum(x * x for x in r.emb))
        assert r.text in (None, "") or abs(n - 1.0) < 1e-12
    other = {r.doc_id: r.emb for r in hashed_embedding(docs, dim=16, out_col="emb", seed=8).collect()}
    base = {r.doc_id: r.emb for r in rows}
    assert any(base[i] != other[i] for i, t in DOCS if t)  # seed matters


def test_hashed_embedding_validation(spark, docs):
    with pytest.raises(ValueError, match="dim"):
        hashed_embedding(docs, dim=0)
    with pytest.raises(ValueError, match="hash_fn"):
        hashed_embedding(docs, hash_fn="nope").collect()
    for kw in ({"backend": "group"}, {"id_col": "doc_id"}):
        with pytest.raises(TypeError):
            hashed_embedding(docs, **kw)


def test_hashed_embedding_feeds_similarity(spark, docs):
    """End-to-end: text → hashed embedding → brute-force cosine kNN runs
    and ranks the duplicate-ish docs together."""
    from mrmr_spark.operators.similarity import knn_bruteforce

    emb = hashed_embedding(docs, dim=16, out_col="embedding").where(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    corpus = emb.select(F.col("doc_id").alias("vec_id"), "embedding")
    queries = corpus.limit(2)
    out = knn_bruteforce(corpus, queries, k=2).collect()
    assert len(out) > 0


def test_hashed_embedding_project_is_pure_projection(spark, docs):
    """Zero exchanges and exactly one Arrow evaluation, for both families."""
    for hash_fn in ("xxhash64", "poly"):
        out = hashed_embedding(docs, dim=4, hash_fn=hash_fn).select(
            "doc_id", F.posexplode("embedding")
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert plan.count("ArrowEvalPython") == 1, plan


# ---------------------------------------------------------------------------
# token_offsets (offset-mapped encode)
# ---------------------------------------------------------------------------

OFF_MERGES = [("t", "h"), ("th", "e"), ("the", "</w>"), ("f", "a"), ("fa", "s"), ("e", "r"), ("er", "</w>")]


def py_token_offsets(text, merges, split=" ", eow=END_OF_WORD):
    toks, off = [], 0
    for w in (text or "").split(split):
        if w:
            pos = off
            for s in naive_encode_word(w, merges, eow):
                n = len(s) - (len(eow) if s.endswith(eow) else 0)
                toks.append((s, pos, pos + n))
                pos += n
        off += len(w) + len(split)
    return toks


@pytest.mark.parametrize("source", ["arrow", "column"])
def test_token_offsets_matches_python(spark, frame_from, source):
    from mrmr_spark.operators.tokenizer import token_offsets

    df = frame_from(DOCS_US, "doc_id long, text string", source)
    got = {
        r.doc_id: [tuple(t) for t in r.tokens]
        for r in token_offsets(df, OFF_MERGES).collect()
    }
    assert got == {i: py_token_offsets(t, OFF_MERGES) for i, t in DOCS_US}


def test_token_offsets_stream_equals_bpe_encode(spark, docs):
    """The token column of the offset mapping IS the bpe_encode stream."""
    from mrmr_spark.operators.tokenizer import token_offsets

    off = token_offsets(docs, OFF_MERGES)
    both = off.join(bpe_encode(docs, OFF_MERGES), "doc_id")
    bad = both.where(
        F.transform("tokens", lambda t: t["token"]) != F.col("bpe_tokens")
    ).count()
    assert bad == 0


def test_token_offsets_surface_invariant_distributed(spark):
    """substring(text, tok_start, len) == token's surface chars for every
    token of a generated corpus, counted on the cluster."""
    from mrmr_spark.operators.tokenizer import token_offsets
    from mrmr_spark.sources.transcripts import generate_transcripts_pandas

    tr = spark.createDataFrame(
        generate_transcripts_pandas(n_convs=30, mean_turns=8, seed=11)
    ).select(F.col("text"))
    t = F.col("t")
    surf = F.when(
        F.endswith(t["token"], F.lit(END_OF_WORD)),
        F.substring(t["token"], 1, F.length(t["token"]) - len(END_OF_WORD)),
    ).otherwise(t["token"])
    bad = (
        token_offsets(tr, OFF_MERGES)
        .select("text", F.explode("tokens").alias("t"))
        .where(
            F.substring(
                F.col("text"),
                (t["tok_start"] + 1).cast("int"),
                (t["tok_end"] - t["tok_start"]).cast("int"),
            )
            != surf
        )
        .count()
    )
    assert bad == 0


def test_token_offsets_validation(spark, docs):
    from mrmr_spark.operators.tokenizer import token_offsets

    with pytest.raises(TypeError, match="backend"):
        token_offsets(docs, OFF_MERGES, backend="column")
