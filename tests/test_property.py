"""Property-based indicator tests (SURVEY.md §5.2.3): on random price
series, the engine's indicator kernel must equal the reference's
exact pandas formulae (rolling min_periods, Cutler RSI with the loss==0
quirk, ewm adjust=False), and the invariants must hold.

Few examples, seeded: each example round-trips through Spark. The cheap
pure-Python EMA properties run with full hypothesis budgets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from airflow_kafka_spark_spark.functions.ema import ema_recurrence_state
from airflow_kafka_spark_spark.operators.indicators import with_indicators
from airflow_kafka_spark_spark.operators.signals import (
    DEFAULT_SUGGESTION,
    SUGGESTIONS,
    with_suggestion,
)

prices = st.lists(
    st.floats(min_value=0.01, max_value=1e5, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=60,
)


@given(xs=prices)
@settings(max_examples=200, deadline=None)
def test_ema_matches_pandas_ewm(xs):
    """pandas ewm(adjust=False) divides by (old_wt + new_wt) each step,
    so it can drift from the pure recurrence by ~1 ULP per step (this is
    why the engine/oracle pair uses the explicit recurrence on BOTH
    sides, not pandas) — equality here is to a few-ULP tolerance."""
    arr = np.asarray(xs, dtype=np.float64)
    ours = ema_recurrence_state(arr, 12)[0]
    pandas_ = pd.Series(arr).ewm(span=12, adjust=False).mean().to_numpy()
    assert np.allclose(ours, pandas_, rtol=1e-12, atol=0)


@given(xs=prices)
@settings(max_examples=200, deadline=None)
def test_ema_bounded_by_series_extremes(xs):
    arr = np.asarray(xs, dtype=np.float64)
    out = ema_recurrence_state(arr, 26)[0]
    lo, hi = arr.min(), arr.max()
    assert ((out >= lo - 1e-9) & (out <= hi + 1e-9)).all()


def _ema_numpy_scalar_loop(x, span, state=None):
    """The EMA loop as written over numpy float64 scalars with
    ``np.isnan``, before ``functions.ema`` moved to Python floats."""
    alpha = 2.0 / (span + 1.0)
    beta = 1.0 - alpha
    out = np.empty(len(x), dtype=np.float64)
    sval, have_state, w = state if state is not None else (np.nan, False, 1.0)
    for i in range(len(x)):
        v = x[i]
        if not have_state:
            if np.isnan(v):
                out[i] = np.nan
                continue
            sval, have_state, w = v, True, 1.0
            out[i] = sval
            continue
        w *= beta
        if np.isnan(v):
            out[i] = sval
            continue
        if w == beta:
            sval = alpha * v + beta * sval
        else:
            sval = (w * sval + alpha * v) / (w + alpha)
        w = 1.0
        out[i] = sval
    return out, (sval, have_state, w)


@given(
    xs=st.lists(
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            st.just(float("nan")),
        ),
        min_size=0,
        max_size=80,
    ),
    span=st.integers(min_value=1, max_value=30),
    cut=st.integers(min_value=0, max_value=80),
)
@settings(max_examples=300, deadline=None)
def test_ema_python_float_loop_bit_identical(xs, span, cut):
    """The Python-float EMA loop gives the numpy-scalar loop's bits,
    including NaN runs, and so does resuming it from the state carried
    out of a first chunk."""
    from airflow_kafka_spark_spark.functions.ema import ema_recurrence_state

    arr = np.asarray(xs, dtype=np.float64)
    want, want_st = _ema_numpy_scalar_loop(arr, span)
    got, got_st = ema_recurrence_state(arr, span)
    assert got.tobytes() == want.tobytes()
    assert np.float64(got_st[0]).tobytes() == np.float64(want_st[0]).tobytes()
    assert got_st[1:] == want_st[1:]
    cut = min(cut, len(arr))
    head, st1 = ema_recurrence_state(arr[:cut], span)
    tail, _ = ema_recurrence_state(arr[cut:], span, st1)
    assert np.concatenate([head, tail]).tobytes() == want.tobytes()


def _reference_pandas(series: np.ndarray) -> pd.DataFrame:
    """The reference's exact math (spark/stock_analysis.py:173-191)."""
    close = pd.Series(series)
    out = pd.DataFrame({"close": close})
    out["ma5"] = close.rolling(5).mean()
    out["ma20"] = close.rolling(20).mean()
    delta = close.diff()
    gain = delta.where(delta > 0, 0.0).rolling(14).mean()
    loss = (-delta.where(delta < 0, 0.0)).rolling(14).mean()
    rs = np.where(loss == 0, 0.0, gain / loss)
    out["rsi"] = 100.0 - 100.0 / (1.0 + rs)
    out.loc[gain.isna() | loss.isna(), "rsi"] = np.nan
    ema12 = close.ewm(span=12, adjust=False).mean()
    ema26 = close.ewm(span=26, adjust=False).mean()
    out["macd_line"] = ema12 - ema26
    out["macd_signal"] = out["macd_line"].ewm(span=9, adjust=False).mean()
    return out


@given(data=st.data())
@settings(max_examples=5, deadline=None)
def test_engine_matches_reference_formulae(spark, data):
    n_keys = data.draw(st.integers(min_value=1, max_value=3))
    series = {
        f"K{k}": np.asarray(
            data.draw(prices.filter(lambda l: len(l) >= 2)), dtype=np.float64
        )
        for k in range(n_keys)
    }
    rows = [
        (sym, i, float(v))
        for sym, arr in series.items()
        for i, v in enumerate(arr)
    ]
    df = spark.createDataFrame(rows, "symbol string, seq long, close double")
    out = with_suggestion(
        with_indicators(df, ["symbol"], ["seq"], "close")
    ).toPandas()

    for sym, arr in series.items():
        got = out[out.symbol == sym].sort_values("seq").reset_index(drop=True)
        want = _reference_pandas(arr)
        for col in ("ma5", "ma20", "rsi", "macd_line", "macd_signal"):
            g, w = got[col].to_numpy(), want[col].to_numpy()
            both_nan = np.isnan(g) & np.isnan(w)
            close_ = np.isclose(g, w, rtol=1e-9, atol=1e-9, equal_nan=True)
            assert (both_nan | close_).all(), (sym, col, g, w)
        # invariants: RSI domain + suggestion domain + warm-up default
        rsi = got["rsi"].to_numpy()
        assert ((rsi[~np.isnan(rsi)] >= 0) & (rsi[~np.isnan(rsi)] <= 100)).all()
        assert set(got["suggestion"]) <= set(SUGGESTIONS) | {DEFAULT_SUGGESTION}
        warm = got[got["ma20"].isna()]
        assert (warm["suggestion"] == DEFAULT_SUGGESTION).all()


@given(
    w=st.integers(min_value=1, max_value=300),
    h=st.integers(min_value=1, max_value=120),
    ct=st.sampled_from([0, 2, 3, 4, 6]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_png_header_roundtrip_property(w, h, ct, seed):
    """Any (dims, color type, seed): make_png emits a parseable PNG and
    parse_png_header reads the exact dims/channels back off the bytes."""
    from airflow_kafka_spark_spark.ext.multimodal import (
        _PNG_CHANNELS,
        make_png,
        parse_png_header,
    )

    png = make_png(w, h, seed=seed, color_type=ct)
    assert parse_png_header(png) == (w, h, _PNG_CHANNELS[ct])


@given(
    rate=st.sampled_from([8000, 11025, 16000, 22050, 44100, 48000]),
    ch=st.integers(min_value=1, max_value=8),
    n=st.integers(min_value=1, max_value=5000),
    bits=st.sampled_from([8, 16, 24, 32]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_wav_header_roundtrip_property(rate, ch, n, bits, seed):
    from airflow_kafka_spark_spark.ext.multimodal import make_wav, parse_wav_header

    wav = make_wav(rate, ch, n, seed=seed, bits=bits)
    assert parse_wav_header(wav) == (ch, rate, bits, n)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # group key
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-9e9,
                    max_value=9e9,
                    allow_nan=False,
                    allow_infinity=False,
                ),
            ),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=8, deadline=None)
def test_fixed_point_sum_equals_decimal_sum_property(spark, rows):
    """fixed_point_group_sum claims BIT-identity with decimal_sum for any
    doubles within the documented magnitude bound, any grouping, any
    null pattern — including values adversarially near rounding
    boundaries (hypothesis shrinks toward them)."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.relational import (
        decimal_sum,
        fixed_point_group_sum,
    )

    df = spark.createDataFrame(rows, "k int, v double").repartition(4)
    want = {
        r["k"]: r["s"]
        for r in df.groupBy("k").agg(decimal_sum(F.col("v")).alias("s")).collect()
    }
    got = {
        r["k"]: r["s"]
        for r in fixed_point_group_sum(df, ["k"], {"s": F.col("v")}).collect()
    }
    assert want == got


@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=8, deadline=None)
def test_chunk_dedup_invariants(spark, texts):
    """For ANY corpus: every doc survives, kept+removed == total chunks,
    and a chunk kept in one doc is kept in all docs that contain it
    (removal is corpus-global, by chunk identity)."""
    from airflow_kafka_spark_spark.ext.dedup import strip_duplicate_chunks

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = strip_duplicate_chunks(docs, chunk_words=2).collect()
    assert len(out) == len(texts)

    # pure-Python mini-oracle of the spec
    def chunks_of(t):
        ws = t.split(" ")
        return [" ".join(ws[i : i + 2]) for i in range(0, len(ws), 2)]

    doc_freq: dict[str, set[int]] = {}
    for i, t in enumerate(texts):
        for c in set(chunks_of(t)):
            doc_freq.setdefault(c, set()).add(i)
    for r in out:
        orig = chunks_of(texts[r["doc_id"]])
        expect_kept = [c for c in orig if len(doc_freq[c]) <= 1]
        assert r["clean_text"] == " ".join(expect_kept)
        assert r["kept_chunks"] == len(expect_kept)
        assert r["kept_chunks"] + r["removed_chunks"] == len(orig)


# ---------------------------------------------------------------------------
# round-5 operator properties (pure-Python reference checks; Spark examples
# are few + seeded, same budget posture as the indicator properties)
# ---------------------------------------------------------------------------

_points = st.lists(
    st.tuples(
        st.floats(min_value=0.0, max_value=50.0, allow_nan=False),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=40,
)


@given(pts=_points)
@settings(max_examples=12, deadline=None)
def test_pareto_frontier_property(spark, pts):
    """Spark skyline == brute-force dominance filter on arbitrary point
    sets (duplicates and total ties included by the generator)."""
    from airflow_kafka_spark_spark.operators.relational import pareto_frontier_2d

    rows = [(i, float(x), int(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id int, x double, y long")
    got = sorted(r["id"] for r in pareto_frontier_2d(df, "x", "y", n_buckets=4).collect())
    expect = sorted(
        i
        for i, x, y in rows
        if not any(
            x2 <= x and y2 >= y and (x2 < x or y2 > y) for _, x2, y2 in rows
        )
    )
    assert got == expect


_edge_lists = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),
    min_size=1,
    max_size=40,
)


@given(raw=_edge_lists)
@settings(max_examples=10, deadline=None)
def test_triangle_count_property(spark, raw):
    """Degree-oriented adjacency-intersect count == brute-force triangle
    enumeration on arbitrary small graphs (self-loops and duplicate
    edges included by the generator)."""
    from itertools import combinations

    from airflow_kafka_spark_spark.ext.graph import triangle_stats

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in raw], "src int, dst int"
    )
    got = triangle_stats(df).collect()[0]["n_triangles"]
    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    nodes = sorted({n for e in edges for n in e})
    expect = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in edges and (b, c) in edges and (a, c) in edges
    )
    assert got == expect


@given(
    old_rows=st.dictionaries(st.integers(0, 20), st.integers(-3, 3), max_size=15),
    new_rows=st.dictionaries(st.integers(0, 20), st.integers(-3, 3), max_size=15),
)
@settings(max_examples=10, deadline=None)
def test_table_diff_property(spark, old_rows, new_rows):
    """table_diff == the set-theoretic definition: added = new\\old keys,
    removed = old\\new keys, changed = shared keys with differing value."""
    from airflow_kafka_spark_spark.operators.relational import table_diff

    old = spark.createDataFrame(
        [(k, v) for k, v in old_rows.items()] or [(None, None)], "k int, v int"
    ).filter("k IS NOT NULL")
    new = spark.createDataFrame(
        [(k, v) for k, v in new_rows.items()] or [(None, None)], "k int, v int"
    ).filter("k IS NOT NULL")
    got = {r["k"]: r["change"] for r in table_diff(old, new, ["k"]).collect()}
    expect = {}
    for k in new_rows.keys() - old_rows.keys():
        expect[k] = "added"
    for k in old_rows.keys() - new_rows.keys():
        expect[k] = "removed"
    for k in old_rows.keys() & new_rows.keys():
        if old_rows[k] != new_rows[k]:
            expect[k] = "changed"
    assert got == expect


# ---------------------------------------------------------------------------
# round-7: TVD drift properties
# ---------------------------------------------------------------------------

_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # cohort
        st.integers(min_value=0, max_value=1),      # split half
        st.sampled_from("xyz"),                     # category
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_events)
@settings(max_examples=8, deadline=None)
def test_tvd_drift_matches_python_reference_and_invariants(spark, rows):
    """For ANY event set: tvd_num equals the exact integer reference,
    0 <= tvd <= 1 whenever both windows are non-empty, tvd is
    symmetric under swapping the windows, and identical windows give
    exactly 0."""
    from collections import Counter

    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.drift import tvd_drift

    df = spark.createDataFrame(rows, "cohort int, half int, cat string")

    def reference(flip: bool) -> dict[int, tuple[int, int, int]]:
        out = {}
        for c in {r[0] for r in rows}:
            sub = [r for r in rows if r[0] == c]
            a = Counter(r[2] for r in sub if (r[1] == (1 if flip else 0)))
            b = Counter(r[2] for r in sub if (r[1] == (0 if flip else 1)))
            na, nb = sum(a.values()), sum(b.values())
            num = sum(
                abs(a.get(k, 0) * nb - b.get(k, 0) * na)
                for k in set(a) | set(b)
            )
            out[c] = (na, nb, num)
        return out

    for flip in (False, True):
        split = (1 - F.col("half")) if flip else F.col("half")
        got = {
            r["cohort"]: r
            for r in tvd_drift(
                df, cohort=F.col("cohort"), split=split, category="cat"
            ).collect()
        }
        ref = reference(flip)
        assert set(got) == set(ref)
        for c, (na, nb, num) in ref.items():
            r = got[c]
            assert (r["n_a"], r["n_b"], r["tvd_num"]) == (na, nb, num), c
            if na > 0 and nb > 0:
                assert 0.0 <= r["tvd"] <= 1.0
                assert r["tvd"] == num / (2.0 * na * nb)
            else:
                assert r["tvd"] is None
        if not flip:
            unflipped = {c: got[c]["tvd_num"] for c in got}
        else:
            # TVD is symmetric in its two distributions
            assert {c: got[c]["tvd_num"] for c in got} == unflipped


_chi2_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),      # cohort
        st.integers(min_value=0, max_value=1),      # split half
        st.sampled_from("pq"),                      # category
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_chi2_events)
@settings(max_examples=8, deadline=None)
def test_chi2_drift_matches_python_reference(spark, rows):
    """For ANY event set: chi2_q equals the exact-sequence Python
    reference bit for bit (BIGINT diffs, double square/divide, floor
    quantization), and chi2 is non-negative whenever defined."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.drift import chi2_drift
    from .test_dedup_ext import _chi2_reference

    df = spark.createDataFrame(rows, "cohort int, half int, cat string")
    got = {
        r["cohort"]: r
        for r in chi2_drift(
            df, cohort=F.col("cohort"), split=F.col("half"), category="cat"
        ).collect()
    }
    ref = _chi2_reference(rows)
    assert set(got) == set(ref)
    for c, (na, nb, dof, q, chi2) in ref.items():
        r = got[c]
        assert (r["n_a"], r["n_b"], r["dof"]) == (na, nb, dof), c
        assert r["chi2_q"] == q and r["chi2"] == chi2, c
        if r["chi2"] is not None:
            assert r["chi2"] >= 0.0


_ks_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),          # cohort
        st.integers(min_value=0, max_value=1),          # split half
        st.integers(min_value=0, max_value=5),          # value (ties likely)
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_ks_events)
@settings(max_examples=8, deadline=None)
def test_ks_drift_matches_python_reference_and_invariants(spark, rows):
    """For ANY sample set: ks_num equals the exact integer reference,
    0 <= ks <= 1 whenever both windows are non-empty, ks is symmetric
    under swapping the windows, and identical windows give exactly 0."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.drift import ks_drift
    from .test_dedup_ext import _ks_reference

    typed = [(c, h, float(v)) for c, h, v in rows]
    df = spark.createDataFrame(typed, "cohort int, half int, value double")

    unflipped = None
    for flip in (False, True):
        split = (1 - F.col("half")) if flip else F.col("half")
        got = {
            r["cohort"]: r
            for r in ks_drift(
                df, cohort=F.col("cohort"), split=split, value=F.col("value")
            ).collect()
        }
        ref = _ks_reference(
            [(c, (1 - h) if flip else h, v) for c, h, v in typed]
        )
        assert set(got) == set(ref)
        for c, (na, nb, num, ks) in ref.items():
            r = got[c]
            assert (r["n_a"], r["n_b"], r["ks_num"]) == (na, nb, num), c
            assert r["ks"] == ks, c
            if na > 0 and nb > 0:
                assert 0.0 <= r["ks"] <= 1.0
            else:
                assert r["ks"] is None
        if not flip:
            unflipped = {c: got[c]["ks_num"] for c in got}
        else:
            # |F_a - F_b| is symmetric in the two samples
            assert {c: got[c]["ks_num"] for c in got} == unflipped


@given(rows=_ks_events)
@settings(max_examples=8, deadline=None)
def test_mw_drift_matches_python_reference_and_invariants(spark, rows):
    """For ANY sample set: u2_a equals the exact pair-count reference,
    0 <= auc <= 1 whenever both windows are non-empty, and swapping
    the windows complements the statistic (u2_b = 2·N_a·N_b − u2_a,
    the Mann–Whitney identity U_a + U_b = N_a·N_b with midranks)."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.drift import mw_drift
    from .test_dedup_ext import _mw_reference

    typed = [(c, h, float(v)) for c, h, v in rows]
    df = spark.createDataFrame(typed, "cohort int, half int, value double")

    unflipped = None
    for flip in (False, True):
        split = (1 - F.col("half")) if flip else F.col("half")
        got = {
            r["cohort"]: r
            for r in mw_drift(
                df, cohort=F.col("cohort"), split=split, value=F.col("value")
            ).collect()
        }
        ref = _mw_reference(
            [(c, (1 - h) if flip else h, v) for c, h, v in typed]
        )
        assert set(got) == set(ref)
        for c, (na, nb, u2, auc) in ref.items():
            r = got[c]
            assert (r["n_a"], r["n_b"], r["u2_a"]) == (na, nb, u2), c
            assert r["auc"] == auc, c
            if na > 0 and nb > 0:
                assert 0.0 <= r["auc"] <= 1.0
            else:
                assert r["auc"] is None
        if not flip:
            unflipped = {
                c: (got[c]["n_a"], got[c]["n_b"], got[c]["u2_a"]) for c in got
            }
        else:
            for c in got:
                na0, nb0, u2_0 = unflipped[c]
                assert (got[c]["n_a"], got[c]["n_b"]) == (nb0, na0)
                assert got[c]["u2_a"] == 2 * na0 * nb0 - u2_0


_cluster_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),   # doc_id
        st.integers(min_value=0, max_value=4),    # component
        st.integers(min_value=0, max_value=12),   # text length
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@given(rows=_cluster_rows)
@settings(max_examples=10, deadline=None)
def test_canonical_docs_property(spark, rows):
    """canonical_docs == brute-force keep-longest-then-lowest-id per
    component, with exact member counts, on arbitrary cluster/length
    assignments (ties and single-member clusters included)."""
    from airflow_kafka_spark_spark.ext.dedup import canonical_docs

    comp = spark.createDataFrame(
        [(d, c, False) for d, c, _ in rows],
        "doc_id long, component long, is_keeper boolean",
    )
    docs = spark.createDataFrame(
        [(d, "x" * ln) for d, _, ln in rows], "doc_id long, text string"
    )
    got = {
        r["component"]: (r["canonical_id"], r["n_chars"], r["n_members"])
        for r in canonical_docs(comp, docs).collect()
    }
    expect = {}
    for d, c, ln in rows:
        members = [(d2, l2) for d2, c2, l2 in rows if c2 == c]
        best = min(members, key=lambda t: (-t[1], t[0]))
        expect[c] = (best[0], best[1], len(members))
    assert got == expect


_token_docs = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=1, max_size=12),
    min_size=1,
    max_size=8,
)


@given(doc_toks=_token_docs, bench_toks=_token_docs)
@settings(max_examples=10, deadline=None)
def test_contamination_spans_property(spark, doc_toks, bench_toks):
    """contamination_spans == brute-force longest-consecutive-run over
    positional 3-grams on arbitrary tiny-alphabet token docs (short-doc
    fallback shingles, duplicate shingles, and empty overlap included
    by the generator)."""
    from airflow_kafka_spark_spark.ext.textstats import contamination_spans

    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(doc_toks)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1000 + i, " ".join(t)) for i, t in enumerate(bench_toks)],
        "doc_id long, text string",
    )

    def grams(toks):
        if len(toks) >= 3:
            return [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        return [" ".join(toks)]

    bench_set = {g for t in bench_toks for g in grams(t)}
    got = {
        r["doc_id"]: (r["n_sh"], r["n_hits"], r["max_run"])
        for r in contamination_spans(docs, bench).collect()
    }
    for i, toks in enumerate(doc_toks):
        hits = [g in bench_set for g in grams(toks)]
        best = run = 0
        for h in hits:
            run = run + 1 if h else 0
            best = max(best, run)
        assert got[i] == (len(hits), sum(hits), best), (i, toks, got[i])


_urls = st.lists(
    st.tuples(
        st.sampled_from(["http://", "https://", "HTTPS://", ""]),   # scheme
        st.sampled_from(["", "u@", "user:pw@"]),                    # userinfo
        st.sampled_from(["", "www.", "WWW.", "cdn."]),              # sub
        st.sampled_from(                                            # reg domain
            [
                "alpha.com",
                "beta.org",
                "gamma.co.uk",
                "delta.k12.ca.us",
                "eps.github.io",              # PSL private, 2-label
                "zeta.s3.amazonaws.com",      # PSL private, 3-label
                "theta.kappa.mm",             # PSL wildcard TLD (*.mm)
                "www.ck",                     # PSL exception (!www.ck)
                "iota.a.prod.fastly.net",     # PSL plain 4-label (r15)
                "mu.lib.sch.uk",              # PSL wildcard base-2 (r15)
                "city.kawasaki.jp",           # PSL 3-label exception (r15)
            ]
        ),
        st.sampled_from(["", ":8080", ":443"]),                     # port
        st.sampled_from(["/a", "/a/", "/b", ""]),                   # path
        # '?mail=a@b.c' plants an @ in the QUERY — the userinfo strip
        # must never cross into it (r12 review class)
        st.sampled_from(["", "?q=1", "#f", "?q=1#f", "?mail=a@b.c"]),  # junk
    ),
    min_size=1,
    max_size=12,
)


@given(parts=_urls, cap=st.integers(min_value=1, max_value=4))
@settings(max_examples=10, deadline=None)
def test_url_dedup_domain_cap_property(spark, parts, cap):
    """url_dedup_domain_cap == a brute-force python reference on
    arbitrary scheme/userinfo/sub/port/path/junk combinations:
    normalization equality (credentials stripped, an @ in the query
    untouched), exactly one min-id keeper per normalized URL,
    per-domain keeper counts bounded by cap with PORTS pooling into
    their portless domain, kept = the first `cap` keepers in
    (md5(id), id) order."""
    import hashlib
    import re

    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    rows = [
        (i, f"{sch}{user}{sub}{dom}{port}{path}{junk}")
        for i, (sch, user, sub, dom, port, path, junk) in enumerate(parts)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r for r in url_dedup_domain_cap(docs, cap=cap).collect()}

    def norm(u):
        u = u.lower()
        u = re.sub(r"^[a-z][a-z0-9+.-]*://", "", u)
        u = re.sub(r"^[^/?#]*@", "", u)
        u = re.sub(r"[?#].*$", "", u)
        u = re.sub(r"^www\.", "", u)
        return re.sub(r"/$", "", u)

    def domain(u):
        # the FULL public-suffix algorithm, independently re-derived
        # (r15 tiers): exceptions first, then longest matched rule —
        # plain k-label suffixes register one label above, wildcard
        # bases two; a host exactly equal to a matched suffix keeps
        # itself; a wildcard rule matches only hosts under its base
        from airflow_kafka_spark_spark.ext.dedup import (
            _SUFFIXES_2,
            _SUFFIXES_3,
            _SUFFIXES_4,
            _SUFFIXES_5,
            _WILDCARD_BASES_2,
            _WILDCARD_BASES_3,
            _WILDCARD_BASES_4,
            _WILDCARD_EXCEPTIONS_2,
            _WILDCARD_EXCEPTIONS_3,
            _WILDCARD_SUFFIX_TLDS,
        )

        m = re.match(r"^(\[[^\]]*\]|[^/:@]+)", u)
        host = m.group(1) if m else ""
        labels = host.split(".")

        def last(k):
            return ".".join(labels[-k:]) if len(labels) >= k else None

        if last(3) in _WILDCARD_EXCEPTIONS_3:
            return last(3)
        if last(2) in _WILDCARD_EXCEPTIONS_2:
            return last(2)
        tiers = [
            (5, _SUFFIXES_5, False),
            (4, _WILDCARD_BASES_4, True),
            (4, _SUFFIXES_4, False),
            (3, _WILDCARD_BASES_3, True),
            (3, _SUFFIXES_3, False),
            (2, _WILDCARD_BASES_2, True),
            (2, _SUFFIXES_2, False),
            (1, tuple(_WILDCARD_SUFFIX_TLDS), True),
        ]
        for k, table, wild in tiers:
            if last(k) is None or last(k) not in table:
                continue
            if wild:
                if len(labels) >= k + 1:
                    return last(k + 2) if len(labels) >= k + 2 else host
                continue  # a wildcard base matches only hosts under it
            return last(k + 1) if len(labels) >= k + 1 else host
        return last(2) if len(labels) >= 2 else host

    norms = {i: norm(u) for i, u in rows}
    keepers = {}  # url_norm -> min doc_id
    for i, _ in rows:
        keepers.setdefault(norms[i], i)
    for i, u in rows:
        assert got[i]["url_norm"] == norms[i], (u, got[i])
        assert got[i]["domain"] == domain(norms[i]), (u, got[i])
        assert got[i]["is_url_keeper"] == (1 if keepers[norms[i]] == i else 0)

    by_domain: dict[str, list[int]] = {}
    for n, i in keepers.items():
        by_domain.setdefault(domain(n), []).append(i)
    for dom, ids in by_domain.items():
        order = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        for rank, i in enumerate(order, start=1):
            assert got[i]["domain_rank"] == rank, (dom, i, got[i])
            assert got[i]["kept"] == (1 if rank <= cap else 0)

    # the salted two-phase rank must be BIT-identical on the same
    # arbitrary inputs (odd non-power-of-two P exercises uneven
    # md5-prefix buckets)
    salted = {
        r["doc_id"]: r
        for r in url_dedup_domain_cap(docs, cap=cap, salt_partitions=3).collect()
    }
    for i, _ in rows:
        assert tuple(salted[i]) == tuple(got[i]), (i, salted[i], got[i])


_html_chars = st.text(
    alphabet="ab <>&/!-script=\"'\n.?;",
    min_size=0,
    max_size=60,
)


@given(htmls=st.lists(_html_chars, min_size=1, max_size=8))
@settings(max_examples=10, deadline=None)
def test_html_text_extract_property(spark, htmls):
    """html_text_extract == the identical regex pipeline in python re,
    on ADVERSARIAL strings (unclosed tags, bare '<'/'&', nested angle
    brackets, half-written script blocks, newline runs): a third regex
    engine agreeing with Spark's Java regex — the DuckDB RE2 oracle is
    the second — pins the cross-engine semantics of every pattern."""
    import re

    from airflow_kafka_spark_spark.ext.textstats import (
        _HTML_ENTITIES,
        html_text_extract,
    )

    def ref(h):
        x = re.sub(r"(?is)<script[^>]*>.*?</script>", " ", h)
        x = re.sub(r"(?is)<style[^>]*>.*?</style>", " ", x)
        x = re.sub(r"(?s)<!--.*?-->", " ", x)
        x = re.sub(r"(?s)</?[a-zA-Z!][^>]*>", " ", x)
        for ent, ch in _HTML_ENTITIES:
            x = x.replace(ent, ch)
        return re.sub(r"\s+", " ", x).strip()

    rows = [(i, h) for i, h in enumerate(htmls)]
    docs = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r["doc_id"]: r for r in html_text_extract(docs).collect()}
    for i, h in rows:
        want = ref(h)
        assert got[i]["clean_text"] == want, (repr(h), got[i], repr(want))
        assert got[i]["raw_len"] == len(h)
        assert got[i]["text_len"] == len(want)


_weight_toks = st.sampled_from(["aa", "bb", "cc", "dd"])


@given(
    docs_toks=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "abc", "abab", "zz", "z"]),
            max_size=8,
        ),
        min_size=1,
        max_size=6,
    ),
    weights=st.dictionaries(
        st.sampled_from(["aa", "bb", "ab", "ba", "abc", "bab"]),
        st.integers(min_value=-50, max_value=50),
        min_size=1,
    ),
    bias=st.integers(min_value=-100, max_value=100),
)
@settings(max_examples=10, deadline=None)
def test_linear_quality_scores_char_ngrams_property(
    spark, docs_toks, weights, bias
):
    """char_ngrams=(2,3) == the python brute force: features are the
    word tokens PLUS every within-token substring of length 2 and 3
    (a 2-char word fires as word AND its own 2-gram; overlapping
    repeats like 'abab' -> 'ab','ba','ab' weigh by count; 1-char
    tokens yield no grams)."""
    from airflow_kafka_spark_spark.ext.textstats import linear_quality_scores

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_toks)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["quality_score"]
        for r in linear_quality_scores(
            docs, list(weights.items()), bias=bias, char_ngrams=(2, 3)
        ).collect()
    }
    for i, toks in enumerate(docs_toks):
        feats = list(toks)
        for t in toks:
            for n in (2, 3):
                feats += [t[j : j + n] for j in range(len(t) - n + 1)]
        want = bias + sum(weights.get(f, 0) for f in feats)
        assert got[i] == want, (i, toks, got[i], want)


@given(
    docs_toks=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "zz"]), max_size=10),
        min_size=1,
        max_size=8,
    ),
    weights=st.dictionaries(
        _weight_toks, st.integers(min_value=-50, max_value=50), min_size=1
    ),
    bias=st.integers(min_value=-100, max_value=100),
    threshold=st.integers(min_value=-100, max_value=100),
)
@settings(max_examples=10, deadline=None)
def test_linear_quality_scores_property(spark, docs_toks, weights, bias, threshold):
    """linear_quality_scores == the python dot product on arbitrary
    token bags (out-of-vocab tokens contribute 0, empty docs score
    exactly bias, kept is an exact >= threshold compare)."""
    from airflow_kafka_spark_spark.ext.textstats import linear_quality_scores

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_toks)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["quality_score"], r["kept"])
        for r in linear_quality_scores(
            docs, list(weights.items()), bias=bias, threshold=threshold
        ).collect()
    }
    for i, toks in enumerate(docs_toks):
        # tokens() is a whitespace split: an empty text tokenizes to
        # [""], which is out-of-vocab — same bias-only score
        score = bias + sum(weights.get(t, 0) for t in toks)
        assert got[i] == (score, 1 if score >= threshold else 0), (i, toks)


@given(xs=prices, span=st.integers(min_value=2, max_value=30))
@settings(max_examples=100, deadline=None)
def test_ema_nan_gaps_match_pandas_default(xs, span):
    """NaN handling = pandas ewm's DEFAULT ignore_na=False (the
    reference never passes ignore_na): a gap decays the old state's
    weight, so the next observation counts the missing rows. The r13
    review caught the kernel implementing ignore_na=True while claiming
    pandas parity. NaN positions themselves must emit the prior state
    (or NaN before the first observation)."""
    arr = np.asarray(xs, dtype=np.float64)
    # plant NaNs deterministically from the values themselves
    mask = (np.abs(arr) * 1e6).astype(np.int64) % 3 == 0
    arr2 = arr.copy()
    arr2[mask] = np.nan
    ours = ema_recurrence_state(arr2, span)[0]
    ref = pd.Series(arr2).ewm(span=span, adjust=False).mean().to_numpy()
    assert np.allclose(
        np.nan_to_num(ours, nan=-1e300),
        np.nan_to_num(ref, nan=-1e300),
        rtol=1e-10,
        atol=1e-12,
    )


# ---------------------------------------------------------------------------
# round-14: quality_checks contract (NULL is not a range violation)
# ---------------------------------------------------------------------------

_qc_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=4)),   # key
        st.one_of(st.none(), st.integers(min_value=-5, max_value=15)), # value
    ),
    min_size=0,
    max_size=25,
)


@given(rows=_qc_rows)
@settings(max_examples=8, deadline=None)
def test_quality_checks_matches_set_theoretic_reference(spark, rows):
    """For ANY table: not_null counts NULLs, range counts only non-NULL
    out-of-bounds values (dbt/Deequ convention — the r14 fix: a NULL row
    fails at most ONE of the two checks, never both), unique counts
    duplicated KEYS (not excess rows, NULL keys group together), and an
    empty table audits all-zero, never NULL."""
    from airflow_kafka_spark_spark.operators.relational import quality_checks

    df = spark.createDataFrame(rows, "k int, v int") if rows else (
        spark.createDataFrame([], "k int, v int")
    )
    got = {
        r["check"]: r["violations"]
        for r in quality_checks(
            df, not_null=["k", "v"], unique=[["k"]], ranges={"v": (0.0, 10.0)}
        ).collect()
    }
    from collections import Counter

    key_counts = Counter(k for k, _ in rows)
    expect = {
        "not_null:k": sum(1 for k, _ in rows if k is None),
        "not_null:v": sum(1 for _, v in rows if v is None),
        "range:v": sum(
            1 for _, v in rows if v is not None and not (0 <= v <= 10)
        ),
        "unique:k": sum(1 for c in key_counts.values() if c > 1),
    }
    assert got == expect, (rows, got, expect)


_fence_calls = st.lists(
    st.tuples(
        st.sampled_from(["qA", "qB", None]),           # incarnation
        st.integers(min_value=0, max_value=3),          # batch_id
        st.lists(                                       # events (p, o)
            st.tuples(
                st.integers(min_value=0, max_value=2),
                st.integers(min_value=0, max_value=5),
            ),
            min_size=1,
            max_size=6,
            unique=True,
        ),
    ),
    min_size=1,
    max_size=5,
)


@given(calls=_fence_calls)
@settings(max_examples=5, deadline=None)
def test_rollup_offset_fence_differential_property(spark, calls):
    """The rollup's dual replay fence (batch-id marks + offset
    high-water map, r15) == a python simulation of its DOCUMENTED
    contract over arbitrary interleavings of incarnations, batch ids
    and (partition, offset) event sets — crash replays, rollbacks to
    old incarnations, fresh checkpoints re-reading from earliest, and
    partial-overlap batches all included. Event values are distinct
    powers of two, so the stored decimal total uniquely identifies the
    SET of folded events: every event folds at most once, exactly when
    its offset first exceeds the stored per-partition mark and the
    batch-id fence lets the batch through."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.streaming.rollup import (
        merge_batch_into_rollup,
    )

    root = tempfile.mkdtemp()
    try:
        rollup = os.path.join(root, "rollup")
        marks: dict[str, int] = {}
        last_inc = None
        last_bid = None
        offsets: dict[int, int] = {}
        folded: set[tuple[int, int]] = set()
        for inc, bid, events in calls:
            df = spark.createDataFrame(
                [
                    (
                        "2024-01-01 10:00:00",
                        "view",
                        float(2 ** (p * 6 + o)),
                        p,
                        o,
                    )
                    for p, o in events
                ],
                "ts string, event_type string, value double,"
                " partition int, offset long",
            ).withColumn("ts", F.col("ts").cast("timestamp"))
            got = merge_batch_into_rollup(
                rollup,
                df,
                bid,
                incarnation=inc,
                offset_cols=("partition", "offset"),
            )
            # --- simulate the documented fence, in order of precedence
            if last_bid is None:
                replayed = False  # no sidecar yet
            elif inc is not None and inc in marks:
                replayed = bid <= marks[inc]
            elif inc is not None and last_inc is not None and last_inc != inc:
                replayed = False  # genuinely new batch-id sequence
            else:
                replayed = bid <= last_bid
            merged = False
            if not replayed:
                fresh = [(p, o) for p, o in events if o > offsets.get(p, -1)]
                merged = bool(fresh)
                if merged:
                    folded.update(fresh)
                    for p, o in events:  # maxima from the raw batch
                        offsets[p] = max(offsets.get(p, -1), o)
                    if inc is not None:
                        marks[inc] = bid
                    last_inc, last_bid = inc, bid
            assert got is merged, (calls, inc, bid, events)
        if folded:
            total = float(
                spark.read.parquet(rollup)
                .agg(F.sum(F.col("_sum_v").cast("double")))
                .collect()[0][0]
            )
            expect = float(sum(2 ** (p * 6 + o) for p, o in folded))
            assert total == expect, (calls, folded, total, expect)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@given(
    quiet=st.lists(
        st.floats(min_value=0.05, max_value=30.0, allow_nan=False),
        min_size=1,
        max_size=6,
    ),
    loads=st.lists(
        st.floats(min_value=0.25, max_value=8.0, allow_nan=False),
        min_size=1,
        max_size=6,
    ),
    probe=st.floats(min_value=0.05, max_value=10.0, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_per_pass_normalization_invariant_under_pass_load(
    quiet, loads, probe
):
    """The mathematical core of the r16 bench fix: per-pass
    normalization must be INVARIANT under any per-pass load scaling —
    pass p running c_p× slower multiplies that pass's query sample AND
    its in-pass probe sample by c_p, so the per-pass ratio (and hence
    the cross-pass median) is unchanged. This is exactly the property
    the old once-up-front probe lacked (only the numerator scaled)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import bench

    k = min(len(quiet), len(loads))
    quiet, loads = quiet[:k], loads[:k]
    base = bench._per_pass_normalized(
        {"q": list(quiet)}, [probe] * k
    )
    scaled = bench._per_pass_normalized(
        {"q": [q * c for q, c in zip(quiet, loads)]},
        [probe * c for c in loads],
    )
    assert base.keys() == scaled.keys() == {"q"}
    # identical up to the 2dp rounding the function applies
    assert abs(base["q"] - scaled["q"]) <= 0.011, (base, scaled)


# ---------------------------------------------------------------------------
# the resumable indicator step: chunked folding == one call, bit for bit
# ---------------------------------------------------------------------------

_SPECIALS = [None, float("nan"), float("inf"), float("-inf")]


@st.composite
def _keyed_closes(draw):
    """1-4 keys of 1-60 closes each: finite values with a few NULL, NaN
    and ±inf planted, and possibly a NULL run."""
    series = []
    for _ in range(draw(st.integers(min_value=1, max_value=4))):
        n = draw(st.integers(min_value=1, max_value=60))
        vals = draw(
            st.lists(
                st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
                min_size=n,
                max_size=n,
            )
        )
        at = st.integers(min_value=0, max_value=n - 1)
        specials = st.tuples(at, st.sampled_from(_SPECIALS))
        for i, v in draw(st.lists(specials, max_size=6)):
            vals[i] = v
        lo = draw(at)
        hi = min(n, lo + draw(st.integers(min_value=0, max_value=6)))
        vals[lo:hi] = [None] * (hi - lo)
        series.append(vals)
    return series


def _same_bits(a, b) -> bool:
    """Equal doubles bit for bit (so -0.0 != 0.0); any NaN equals any
    NaN (NaN payloads are not part of the contract)."""
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    nan = np.isnan(a)
    return (
        a.shape == b.shape
        and np.array_equal(nan, np.isnan(b))
        and a[~nan].tobytes() == b[~nan].tobytes()
    )


def _same_carry(c, d) -> bool:
    """Equal carries: row count, MACD state triples (``None`` before
    any MACD ran) and tail, bit for bit."""
    (n, st_c, tx, tok), (m, st_d, ty, tol) = c, d
    flat = [[f for t in s or () for f in t] for s in (st_c, st_d)]
    return (
        n == m
        and _same_bits(*flat)
        and _same_bits(tx, ty)
        and np.array_equal(np.asarray(tok, bool), np.asarray(tol, bool))
    )


def _fold(keys, x, ok, chunks, carry, flags):
    """Fold the series (sorted by key, then order) through resume_runs
    one chunk at a time, a chunk being sorted row indices; ``carry``
    maps key -> carry and is updated in place. Returns the columns in
    row order, each as ``(values, valid)``, ``valid`` None for MACD."""
    from airflow_kafka_spark_spark.operators.indicators import resume_runs

    cols = None
    for idx in chunks:
        k = keys[idx]
        starts = np.flatnonzero(np.diff(k, prepend=-1))
        run_keys = k[starts].tolist()
        windows, macd, new = resume_runs(
            x[idx], ok[idx], np.append(starts, len(idx)),
            [carry.get(r) for r in run_keys], **flags,
        )
        carry.update(zip(run_keys, new))
        parts = [a for pair in windows for a in pair] + list(macd)
        if cols is None:
            cols = [np.empty(len(x), a.dtype) for a in parts]
        for col, a in zip(cols, parts):
            col[idx] = a
    n_win = 2 * (2 * flags["ma"] + flags["rsi"])
    return list(zip(cols[:n_win:2], cols[1:n_win:2])) + [
        (c, None) for c in cols[n_win:]
    ]


@given(
    closes=_keyed_closes(),
    data=st.data(),
    ma=st.booleans(),
    rsi=st.booleans(),
    macd=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_resume_runs_chunked_equals_one_call(closes, data, ma, rsi, macd):
    """Folding a multi-key series with NULL, NaN and ±inf closes through
    operators.indicators.resume_runs chunk by chunk, each chunk from the
    carries the one before returned, gives one call's ma5/ma20/rsi and
    four MACD arrays bit for bit, the same validity and the same final
    carries. Chunks are the Arrow-batch shape (contiguous, cut at
    random, inside NULL runs, at key boundaries, or after every row) or
    the micro-batch shape (every key's next rows at once, so many runs
    resume in one call). That is the promise the Arrow-batch kernel,
    the delta-feed state and its replay rest on."""
    keys = np.repeat(np.arange(len(closes)), [len(c) for c in closes])
    flat = [v for c in closes for v in c]
    x = np.array([np.nan if v is None else v for v in flat], dtype=np.float64)
    ok = np.array([v is not None for v in flat])
    n = len(x)
    # each row's position within its key: a micro-batch takes a range
    t = np.concatenate([np.arange(len(c)) for c in closes])
    inner = list(range(1, n))
    random_cuts = data.draw(st.sets(st.sampled_from(inner))) if inner else set()
    times = sorted(data.draw(st.sets(st.integers(min_value=1, max_value=59))))
    cuts = {
        "random": random_cuts,
        "null_runs": {i for i in inner if not ok[i - 1]},
        "key_bounds": set((np.flatnonzero(np.diff(keys)) + 1).tolist()),
        "rows": set(inner),
    }
    shapes = {
        name: np.split(np.arange(n), sorted(c)) for name, c in cuts.items()
    }
    shapes["micro_batches"] = [
        np.flatnonzero((t >= lo) & (t < hi))
        for lo, hi in zip([0, *times], [*times, 60])
    ]
    flags = {"ma": ma, "rsi": rsi, "macd": macd}
    one_carry: dict = {}
    want = _fold(keys, x, ok, [np.arange(n)], one_carry, flags)
    assert len(want) == 2 * ma + rsi + 4 * macd
    for shape, chunks in shapes.items():
        carry: dict = {}
        got = _fold(keys, x, ok, [c for c in chunks if len(c)], carry, flags)
        for (gv, gm), (wv, wm) in zip(got, want):
            if wm is None:
                assert _same_bits(gv, wv), shape
            else:
                assert np.array_equal(gm, wm), shape
                assert _same_bits(gv[gm], wv[wm]), shape
        assert carry.keys() == one_carry.keys(), shape
        for k in carry:
            assert _same_carry(carry[k], one_carry[k]), (shape, k)


def test_indicator_step_is_silent_on_ieee_edge_closes():
    """±inf and 1e308 closes have results the contract defines (inf,
    NaN), so the indicator step computes them without a RuntimeWarning:
    in an executor, a warning per Arrow batch on the worker's stderr."""
    import warnings

    from airflow_kafka_spark_spark.functions.ema import macd_columns
    from airflow_kafka_spark_spark.operators.indicators import resume_runs

    x = np.array([1e308, 1e308, np.inf, -np.inf, 1.0, 1e308, -1e308] * 4)
    ok = np.ones(len(x), dtype=bool)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        windows, macd, _ = resume_runs(
            x, ok, [0, 10, len(x)], [None, None], ma=True, rsi=True, macd=True
        )
        line, sig, hist = macd_columns(x)
    assert np.isinf(windows[0][0][1]) and np.isnan(line[2]), (windows, line)
    assert len(macd) == 4 and np.isnan(hist[3])
