"""Hypothesis property tests: FE operators vs independent pandas oracles
on randomized small panels (the SURVEY §5 strategy, extended from fixed
fixtures to generated ones). Deterministic derandomized profile; small
example counts keep the suite inside the wall-clock budget."""

import math
import re

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mrmr_spark.operators.lags import with_lags
from mrmr_spark.operators.rolling import backfilled_rolling
from mrmr_spark.operators.sessionize import sessionize

SET = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def panel_strategy():
    """(group sizes, value seed, gap seed) — panels of 1-6 groups, 1-12 rows."""
    return st.tuples(
        st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=6),
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=10_000),
    )


def make_panel(sizes, vseed, gseed):
    rng_v = np.random.default_rng(vseed)
    rng_g = np.random.default_rng(gseed)
    rows = []
    for g, size in enumerate(sizes):
        t = 0.0
        for i in range(size):
            # gaps cross the 100s sessionization threshold sometimes
            t += float(rng_g.choice([1.0, 5.0, 50.0, 99.9, 100.1, 500.0]))
            rows.append((f"g{g}", i, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t),
                         float(rng_v.normal())))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark timestamps are µs
    return pdf


@pytest.fixture(scope="module")
def sp(spark):
    return spark


@SET
@given(panel_strategy())
def test_rolling_matches_pandas(sp, params):
    pdf = make_panel(*params)
    sdf = sp.createDataFrame(pdf)
    out = (
        backfilled_rolling(sdf, {"avg_value": F.avg("value")}, n=3)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    # oracle: trailing 3-row mean EXCLUDING the current row
    exp = (
        pdf.sort_values(["conv_id", "turn_idx"])
        .groupby("conv_id")["value"]
        .apply(lambda s: s.shift(1).rolling(3, min_periods=1).mean())
        .reset_index(drop=True)
    )
    got = out["avg_value_3"].reset_index(drop=True)
    assert ((got.isna() == exp.isna()).all())
    np.testing.assert_allclose(got.dropna(), exp.dropna(), rtol=1e-12)


@SET
@given(panel_strategy())
def test_sessionize_matches_pandas(sp, params):
    pdf = make_panel(*params)
    sdf = sp.createDataFrame(pdf)
    out = (
        sessionize(sdf, gap_s=100.0)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    exp_sessions = []
    for _, grp in pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        gaps = grp["ts"].diff().dt.total_seconds()
        sid = ((gaps > 100.0) | gaps.isna()).cumsum() - 1
        exp_sessions.extend(sid.tolist())
    assert out["session_id"].tolist() == [int(s) for s in exp_sessions]


@SET
@given(panel_strategy())
def test_lags_match_pandas(sp, params):
    pdf = make_panel(*params)
    sdf = sp.createDataFrame(pdf)
    out = (
        with_lags(sdf, {"value": [1, -1]})
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    g = pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id")["value"]
    exp_lag = g.shift(1).reset_index(drop=True)
    exp_lead = g.shift(-1).reset_index(drop=True)
    for got, exp in [(out["value_lag1"], exp_lag), (out["value_lead1"], exp_lead)]:
        got = got.reset_index(drop=True)
        assert (got.isna() == exp.isna()).all()
        np.testing.assert_allclose(got.dropna(), exp.dropna(), rtol=0)


@SET
@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=12),
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=8),
    st.booleans(),
)
def test_asof_join_matches_merge_asof(sp, fact_ts, snap_ts, strict):
    from mrmr_spark.operators.asof import asof_join

    facts = pd.DataFrame({
        "conv_id": "a", "turn_idx": range(len(fact_ts)),
        "ts": pd.to_datetime(sorted(fact_ts), unit="s").astype("datetime64[us]"),
    })
    snaps = pd.DataFrame({
        "conv_id": "a",
        "effective_ts": pd.to_datetime(sorted(set(snap_ts)), unit="s").astype("datetime64[us]"),
    })
    snaps["snap_val"] = np.arange(len(snaps), dtype=np.float64)
    out = (
        asof_join(sp.createDataFrame(facts), sp.createDataFrame(snaps),
                  value_cols=["snap_val"], strict=strict)
        .orderBy("turn_idx").toPandas()
    )
    exp = pd.merge_asof(
        facts.sort_values("ts"), snaps.rename(columns={"effective_ts": "ts"}),
        on="ts", by="conv_id",
        allow_exact_matches=not strict,
    ).sort_values("turn_idx")
    got = out["snap_val"].reset_index(drop=True)
    want = exp["snap_val"].reset_index(drop=True)
    assert (got.isna() == want.isna()).all()
    assert (got.dropna() == want.dropna()).all()


# ---------------------------------------------------------------------------
# The FULL feature matrix vs an independent pure-Python row kernel.
# `_turn_row_features` re-derives every batch window expression one turn at
# a time, and `_twin_expected` drives it with an explicit per-conversation
# state loop (gap/session tracking, last-5 ring, trailing-range buffer,
# next-gap target). Hypothesis feeds it ADVERSARIAL corpora the generator
# never produces: ts ties inside a conversation, gaps exactly AT the 1800 s
# session boundary and AT the 3600 s range edge, null/empty/whitespace text,
# null roles/tools, single-turn conversations.
# ---------------------------------------------------------------------------

_WS = re.compile(r"\s+")


def _turn_row_features(
    turn_idx: int,
    gap: float | None,
    session_id: int,
    sess_turn: int,
    text: str | None,
    role: str | None,
    tool: str | None,
    gap1: float | None,
    gap2: float | None,
    buf5: list[list[float]],
    tbuf: list[list[float]],
    t_us: int,
    range_us: int,
) -> dict:
    """One turn's feature dict, replicating the batch expressions exactly
    (window aggregates exclude the current row; avg/max ignore null gaps;
    counts count rows)."""
    f: dict[str, float | None] = {}
    f["turn_idx_f"] = float(turn_idx)
    f["gap_s"] = gap
    f["gap_s_lag1"] = gap1
    f["gap_s_lag2"] = gap2
    if text is None:
        f["text_len"] = None
        f["token_count"] = None
    else:
        f["text_len"] = float(len(text))
        f["token_count"] = float(len(_WS.split(text)))
    f["is_user"] = None if role is None else float(role == "user")
    f["is_assistant"] = None if role is None else float(role == "assistant")
    f["is_tool_role"] = None if role is None else float(role == "tool")
    f["has_tool"] = float(tool is not None)
    f["session_idx"] = float(session_id)
    f["sess_turn"] = float(sess_turn)

    # trailing 5 rows, current excluded (buf5 holds [gap, is_assistant,
    # has_tool, text_len] per prior turn; None encoded as NaN)
    gaps = [b[0] for b in buf5 if not math.isnan(b[0])]
    f["n_turns_5"] = float(len(buf5))
    f["avg_gap_5"] = (sum(gaps) / len(gaps)) if gaps else None
    f["max_gap_5"] = max(gaps) if gaps else None
    ia = [b[1] for b in buf5 if not math.isnan(b[1])]  # avg ignores null role
    f["assistant_frac_5"] = (sum(ia) / len(ia)) if ia else None
    f["tool_frac_5"] = (sum(b[2] for b in buf5) / len(buf5)) if buf5 else None
    tls = [b[3] for b in buf5 if not math.isnan(b[3])]
    f["avg_text_len_5"] = (sum(tls) / len(tls)) if tls else None

    # trailing range_s seconds, current excluded: rows with
    # us in [t_us - range_us, t_us - 1] (rangeBetween(-range_us, -1))
    lo = t_us - range_us
    in_win = [b for b in tbuf if lo <= b[0] <= t_us - 1]
    rgaps = [b[1] for b in in_win if not math.isnan(b[1])]
    f["n_turns_3600s"] = float(len(in_win))
    f["avg_gap_3600s"] = (sum(rgaps) / len(rgaps)) if rgaps else None
    return f


def _twin_expected(pdf, session_gap_s=1800.0, range_s=3600.0):
    """Per-(conv, turn) feature dicts via :func:`_turn_row_features`,
    driven by a per-conversation state loop (gap/session tracking, last-5
    ring, trailing-range buffer, next-gap target)."""
    range_us = int(round(range_s * 1_000_000))
    nan = lambda v: float("nan") if v is None else float(v)  # noqa: E731
    out = {}
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        ts_us = g["ts"].astype("datetime64[us]").astype("int64")
        st_ = dict(last_us=None, sid=-1, spos=0, gap1=None, gap2=None,
                   buf5=[], tbuf=[])
        feats_list, gaps = [], []
        for i in range(len(g)):
            r = g.iloc[i]
            t_us = int(ts_us.iloc[i])
            gap = (None if st_["last_us"] is None
                   else (t_us - st_["last_us"]) / 1_000_000.0)
            if gap is None or gap > session_gap_s:
                st_["sid"] += 1
                st_["spos"] = 0
            feats = _turn_row_features(
                int(r["turn_idx"]), gap, st_["sid"], st_["spos"],
                r["text"] if pd.notna(r["text"]) else None,
                r["role"] if pd.notna(r["role"]) else None,
                r["tool"] if pd.notna(r["tool"]) else None,
                st_["gap1"], st_["gap2"], st_["buf5"], st_["tbuf"],
                t_us, range_us,
            )
            feats_list.append(feats)
            gaps.append(gap)
            st_["gap2"], st_["gap1"] = st_["gap1"], gap
            st_["buf5"].append([nan(gap), nan(feats["is_assistant"]),
                                feats["has_tool"], nan(feats["text_len"])])
            st_["buf5"] = st_["buf5"][-5:]
            st_["tbuf"].append([t_us, nan(gap)])
            st_["tbuf"] = [b for b in st_["tbuf"] if b[0] >= t_us - range_us]
            st_["spos"] += 1
            st_["last_us"] = t_us
        for i, f in enumerate(feats_list):
            f["target_next_gap"] = gaps[i + 1] if i + 1 < len(gaps) else None
            out[(conv, int(g.iloc[i]["turn_idx"]))] = f
    return out


#: µs increments: ties (0), sub-second, exactly AT and 1 µs around the
#: session boundary (1800 s) and the range-window edge (3600 s)
_GAP_POOL_US = [0, 1, 500_000, 1_000_000, 5_000_000,
                1_799_999_999, 1_800_000_000, 1_800_000_001,
                3_599_999_999, 3_600_000_000, 3_600_000_001, 7_200_000_000]
_TEXTS = [None, "", " ", "hello world", "a  b", " lead", "trail ", "one"]
_ROLES = [None, "user", "assistant", "tool", "system"]
_TOOLS = [None, "search", "code"]


@SET
@given(st.integers(min_value=0, max_value=10_000))
def test_build_features_matches_streaming_kernel_oracle(sp, seed):
    from mrmr_spark.fe import build_features
    from mrmr_spark.fe.pipeline import FEATURE_COLS

    rng = np.random.default_rng(seed)
    rows = []
    for c in range(int(rng.integers(1, 5))):
        t_us = int(rng.integers(0, 10**11))
        for i in range(int(rng.integers(1, 11))):
            if i > 0:
                t_us += int(rng.choice(_GAP_POOL_US))
            rows.append((f"c{c}", i,
                         pd.Timestamp("2024-05-01")
                         + pd.Timedelta(microseconds=t_us),
                         rng.choice(_ROLES), rng.choice(_TEXTS),
                         rng.choice(_TOOLS)))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "ts", "role", "text", "tool"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")

    sdf = sp.createDataFrame(
        pdf,
        schema="conv_id string, turn_idx bigint, ts timestamp, "
               "role string, text string, tool string",
    )
    got = build_features(sdf).orderBy("conv_id", "turn_idx").toPandas()
    exp = _twin_expected(pdf)
    assert len(got) == len(pdf)
    for _, row in got.iterrows():
        e = exp[(row["conv_id"], int(row["turn_idx"]))]
        for c in [*FEATURE_COLS, "target_next_gap"]:
            ev, gv = e.get(c), row[c]
            key = f"{row['conv_id']}[{row['turn_idx']}].{c}"
            if ev is None:
                assert pd.isna(gv), key
            else:
                assert gv == pytest.approx(ev, rel=1e-12, abs=1e-12), key
