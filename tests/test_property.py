"""Property-based tests (hypothesis): operator semantics against
independent oracles on randomized inputs.

Mirrors the reference's table-driven test strategy (SURVEY.md §5) but
drives the input space with generators instead of fixed fixtures — the
dimensions fixed tests always miss (duplicate keys, empty right sides,
all-unmatched partitions, boundary fractions).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pytest
from pyspark.sql import functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from cryoflow_spark.functions.asof import asof_join
from cryoflow_spark.functions.sampling import deterministic_sample

KEYS = st.integers(min_value=0, max_value=3)
TIMES = st.integers(min_value=0, max_value=50)


@st.composite
def asof_tables(draw):
    left = draw(
        st.lists(st.tuples(KEYS, TIMES), min_size=1, max_size=15)
    )
    # unique (key, time) on the right so the as-of match is unambiguous
    right = draw(
        st.lists(st.tuples(KEYS, TIMES), min_size=0, max_size=15, unique=True)
    )
    return left, right


@given(asof_tables(), st.sampled_from(["backward", "forward"]))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_asof_join_matches_pandas_merge_asof(spark, tables, direction):
    left_rows, right_rows = tables
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        "row_id long, k long, t long",
    )
    rdf = spark.createDataFrame(
        [(k, t, k * 1000 + t) for k, t in right_rows] or [],
        "k long, t long, payload long",
    )
    got = {
        r["row_id"]: (None if r["payload"] is None else r["payload"])
        for r in asof_join(
            ldf, rdf, on="k", left_time="t", direction=direction
        ).collect()
    }

    lpd = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        columns=["row_id", "k", "t"],
    ).sort_values("t", kind="mergesort")
    rpd = (
        pd.DataFrame(right_rows or [], columns=["k", "t"])
        .astype({"k": "int64", "t": "int64"})
    )
    rpd["payload"] = rpd["k"] * 1000 + rpd["t"]
    rpd = rpd.sort_values("t", kind="mergesort")
    merged = pd.merge_asof(lpd, rpd, on="t", by="k", direction=direction)
    want = {
        int(r.row_id): (None if pd.isna(r.payload) else int(r.payload))
        for r in merged.itertuples()
    }
    assert got == want


@given(
    st.floats(min_value=0.0, max_value=0.5),
    st.floats(min_value=0.5, max_value=1.0),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_deterministic_sample_nested_and_monotone(spark, f_small, f_big):
    """Smaller fraction is a SUBSET of the bigger one (nested samples),
    and repeated runs are identical (no rand())."""
    df = spark.range(0, 300).withColumnRenamed("id", "key")
    small = {r["key"] for r in deterministic_sample(df, "key", f_small).collect()}
    big = {r["key"] for r in deterministic_sample(df, "key", f_big).collect()}
    again = {r["key"] for r in deterministic_sample(df, "key", f_small).collect()}
    assert small <= big
    assert small == again


def test_asof_join_tolerance_cuts_stale_matches(spark):
    """tolerance_seconds needs real timestamps (unix_micros internally)."""
    from datetime import datetime

    ldf = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 1, 40))], "k long, t timestamp"
    )
    rdf = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0, 10), 7)],
        "k long, t timestamp, payload long",
    )
    loose = asof_join(
        ldf, rdf, on="k", left_time="t", tolerance_seconds=1000
    ).collect()
    tight = asof_join(
        ldf, rdf, on="k", left_time="t", tolerance_seconds=10
    ).collect()
    assert loose[0]["payload"] == 7
    assert tight[0]["payload"] is None


@st.composite
def edge_lists(draw):
    n_nodes = draw(st.integers(min_value=2, max_value=12))
    edges = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=n_nodes - 1),
                st.integers(min_value=0, max_value=n_nodes - 1),
            ),
            min_size=1,
            max_size=18,
        )
    )
    return edges


def _cc_oracle(edges):
    """Union-find reference labeling (min node id per component)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        nodes.update((a, b))
        if a == b:
            continue  # self-loop: node exists as a singleton component
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


@given(edge_lists())
@settings(
    max_examples=8,
    derandomize=True,  # fixed exploration: the gate must not flake mid-round
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_connected_components_both_algorithms_match_union_find(spark, edges):
    from cryoflow_spark.functions import dedup as D

    expected = _cc_oracle(edges)
    if not expected:  # all self-loops
        return
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    for fn in (D.connected_components, D.connected_components_two_phase):
        got = {r["node"]: r["component"] for r in fn(pairs).collect()}
        assert got == expected, fn.__name__


@st.composite
def snapshot_pair(draw):
    ids = st.integers(min_value=0, max_value=12)
    vals = st.one_of(st.none(), st.text(alphabet="abcX", max_size=3))
    old = draw(
        st.dictionaries(ids, vals, max_size=10)
    )
    new = draw(
        st.dictionaries(ids, vals, max_size=10)
    )
    return old, new


@given(snapshot_pair())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_snapshot_diff_matches_dict_reference(spark, pair):
    from cryoflow_spark.functions.diff import snapshot_diff

    old, new = pair
    schema = "doc_id long, text string"
    odf = spark.createDataFrame(list(old.items()) or [], schema)
    ndf = spark.createDataFrame(list(new.items()) or [], schema)
    got = {r["doc_id"]: r["change"] for r in snapshot_diff(odf, ndf).collect()}
    expected = {}
    for i in set(old) | set(new):
        if i not in old:
            expected[i] = "added"
        elif i not in new:
            expected[i] = "removed"
        elif old[i] != new[i]:
            expected[i] = "changed"
    assert got == expected


WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
DOCS = st.lists(
    st.lists(WORDS, min_size=0, max_size=8).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(DOCS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_bloom_decontamination_always_matches_exact(spark, texts):
    """Property: the Bloom prefilter + exact-confirm path is
    bit-identical to the exact broadcast path on ANY corpus/benchmark
    split — even with a saturated 1-bit table."""
    from cryoflow_spark.functions import curation as C

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    bench = df.filter(F.col("doc_id") % 2 == 0)
    corpus = df.filter(F.col("doc_id") % 2 == 1)
    exact = sorted(
        (r["doc_id"], r["n_shared_grams"])
        for r in C.contaminated_ids(corpus, bench, ngram=2).collect()
    )
    for bits, probes in ((16, None), (1, 1)):
        bloom = sorted(
            (r["doc_id"], r["n_shared_grams"])
            for r in C.bloom_contaminated_ids(
                corpus, bench, ngram=2,
                bits_per_element=bits, num_probes=probes,
            ).collect()
        )
        assert bloom == exact


@given(DOCS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_containment_matches_python_brute_force(spark, texts):
    """Property: directed containment pairs equal a brute-force Python
    computation of |grams(A) ∩ grams(B)| / |grams(A)| on any corpus."""
    from cryoflow_spark.functions import dedup as D

    def grams(t, n=2):
        toks = [w for w in t.split() if w]
        if not toks:
            return set()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    gsets = {i: grams(t) for i, t in enumerate(texts)}
    want = set()
    thr = 0.5
    for a, ga in gsets.items():
        for b, gb in gsets.items():
            if a == b or len(ga) < 1:
                continue
            if len(ga & gb) / len(ga) >= thr:
                want.add((a, b))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in D.containment_pairs(
            df, ngram=2, threshold=thr, min_grams=1
        ).collect()
    }
    assert got == want


# --- round-6 operators vs pure-Python references ---------------------------


@st.composite
def categorical_tables(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    a_vals = st.sampled_from(["p", "q", "r", None])
    b_vals = st.sampled_from(["u", "v", None])
    return [
        (draw(a_vals), draw(b_vals)) for _ in range(n)
    ]


@given(categorical_tables())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_mutual_information_matches_python_reference(spark, rows):
    """MI/entropies vs an independent Python implementation replicating
    the 6-decimal ln contract (cells from plain dict counting)."""
    import math
    from collections import Counter

    from cryoflow_spark.functions.profiling import mutual_information

    df = spark.createDataFrame(rows, "a string, b string")
    got = mutual_information(df, "a", "b").collect()[0]

    norm = [("<NULL>" if a is None else a, "<NULL>" if b is None else b)
            for a, b in rows]
    n = len(norm)
    cells = Counter(norm)
    ra = Counter(a for a, _ in norm)
    cb = Counter(b for _, b in norm)
    mi = sum(
        c * round(math.log((c * n) / (ra[a] * cb[b])), 6)
        for (a, b), c in sorted(cells.items())
    ) / n
    h_a = -sum(v * round(math.log(v / n), 6) for _, v in sorted(ra.items())) / n
    h_b = -sum(v * round(math.log(v / n), 6) for _, v in sorted(cb.items())) / n
    assert got["n"] == n and got["n_cells"] == len(cells)
    assert abs(got["mi"] - mi) < 1e-9
    assert abs(got["h_a"] - h_a) < 1e-9
    assert abs(got["h_b"] - h_b) < 1e-9


@st.composite
def event_logs(draw):
    n = draw(st.integers(min_value=1, max_value=30))
    users = st.integers(min_value=1, max_value=5)
    types = st.sampled_from(["A", "B", "C", "other"])
    times = st.integers(min_value=0, max_value=100)
    return [(draw(users), draw(types), draw(times)) for _ in range(n)]


@given(event_logs(), st.integers(min_value=1, max_value=60))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_conversion_funnel_matches_python_simulation(spark, log, horizon):
    """The one-scan array-recursion funnel vs a direct per-user
    simulation of the stage semantics (strictly-after + horizon)."""
    import datetime as dt

    from cryoflow_spark.functions.events import conversion_funnel

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(u, t, t0 + dt.timedelta(seconds=s)) for u, t, s in log],
        "user_id long, event_type string, ts timestamp",
    )
    steps = ["A", "B", "C"]
    got = {r["step"]: r["n_users"] for r in conversion_funnel(
        df, steps, horizon_seconds=horizon).collect()}

    by_user: dict = {}
    for u, t, s in log:
        by_user.setdefault(u, []).append((t, s))
    counts = [0, 0, 0]
    for u, evs in by_user.items():
        times = {s: sorted(sec for t, sec in evs if t == s) for s in steps}
        prev = min(times["A"]) if times["A"] else None
        if prev is None:
            continue
        counts[0] += 1
        for i, s in enumerate(steps[1:], start=1):
            nxt = [x for x in times[s] if prev < x <= prev + horizon]
            if not nxt:
                break
            prev = min(nxt)
            counts[i] += 1
    assert [got[1], got[2], got[3]] == counts


@st.composite
def corpora_pairs(draw):
    words = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
    def corpus():
        docs = draw(st.lists(
            st.lists(words, min_size=1, max_size=6), min_size=1, max_size=8))
        return [" ".join(d) for d in docs]
    return corpus(), corpus()


@given(corpora_pairs())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_js_divergence_matches_python_reference(spark, corpora):
    """JSD vs a plain-Python implementation replicating the 1e-12
    fixed-point quantization; also bounded in [-eps, ln2 + eps]."""
    import math
    from collections import Counter

    from cryoflow_spark.functions.text import js_divergence

    p_texts, q_texts = corpora
    pdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(p_texts)], "doc_id long, text string"
    )
    qdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(q_texts)], "doc_id long, text string"
    )
    got = js_divergence(pdf, qdf).collect()[0]

    cp = Counter(w for t in p_texts for w in t.split())
    cq = Counter(w for t in q_texts for w in t.split())
    np_, nq = sum(cp.values()), sum(cq.values())
    total = 0
    for w in set(cp) | set(cq):
        p = cp.get(w, 0) / np_
        q = cq.get(w, 0) / nq
        m = (p + q) / 2.0
        term = (p * math.log(p / m) if cp.get(w) else 0.0) + (
            q * math.log(q / m) if cq.get(w) else 0.0
        )
        total += round(term * 1e12)
    want = (total / 1e12) / 2.0
    assert abs(got["jsd"] - want) < 1e-9
    assert -1e-9 <= got["jsd"] <= math.log(2) + 1e-9


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=40),
    st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=40),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_distribution_drift_matches_python_reference(spark, cur, base):
    """PSI vs a plain-Python reference with identical binning, Laplace
    smoothing, and 6-decimal ln rounding; PSI(x, x) == 0 exactly."""
    import math

    from cryoflow_spark.functions.diff import distribution_drift

    cdf = spark.createDataFrame([(float(v),) for v in cur], "v double")
    bdf = spark.createDataFrame([(float(v),) for v in base], "v double")
    n_bins, lo, hi = 5, 0.0, 50.0
    got = distribution_drift(cdf, bdf, "v", lo=lo, hi=hi,
                             n_bins=n_bins).collect()[0]

    width = (hi - lo) / n_bins

    def bins(vals):
        out = [0] * n_bins
        for v in vals:
            b = min(max(int(math.floor((v - lo) / width)), 0), n_bins - 1)
            out[b] += 1
        return out

    c, b = bins(cur), bins(base)
    nc, nb = sum(c), sum(b)
    psi = 0.0
    for i in range(n_bins):
        p = (c[i] + 1) / (nc + n_bins)
        q = (b[i] + 1) / (nb + n_bins)
        psi += (p - q) * round(math.log(p / q), 6)
    assert abs(got["psi"] - psi) < 1e-9
    same = distribution_drift(cdf, cdf, "v", lo=lo, hi=hi,
                              n_bins=n_bins).collect()[0]
    assert same["psi"] == 0.0


@given(
    st.dictionaries(
        st.sampled_from(["s1", "s2", "s3", "s4", "s5", "s6"]),
        st.integers(min_value=1, max_value=100_000),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=300_000),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_water_fill_rates_match_iterative_on_random_capacities(
    spark, caps, budget
):
    """Closed-form λ* == the iterative fixpoint on RANDOM capacity
    tables and budgets; expected kept tokens == min(budget, total)."""
    from cryoflow_spark.functions.sampling import water_fill_rates

    counts = spark.createDataFrame(
        [(s, t) for s, t in caps.items()], "source string, _wf_t long"
    )
    got = {r["source"]: r["__rate"] for r in
           water_fill_rates(counts, "source", budget).collect()}

    active = dict(caps)
    rates = {}
    lam = 0.0
    b = float(budget)
    while active:
        W = sum(t**0.5 for t in active.values())
        lam = b / W
        newly = {s for s, t in active.items() if (t**0.5) * lam >= t}
        if not newly:
            break
        for s in newly:
            rates[s] = 1.0
            b -= active.pop(s)
    for s, t in active.items():
        rates[s] = (t**0.5) * lam / t
    for s in caps:
        assert abs(got[s] - rates[s]) < 1e-6, (s, got, rates)
    expected = sum(got[s] * caps[s] for s in caps)
    assert abs(expected - min(budget, sum(caps.values()))) < 1e-2


@given(
    st.lists(st.integers(min_value=1, max_value=500),
             min_size=2, max_size=15)
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_zipf_fit_matches_python_ols(spark, freqs):
    """The array-fold OLS vs a direct Python least-squares on the same
    (round(ln rank,6), round(ln tf,6)) points with the same ordering
    contract (tf DESC, token ASC)."""
    import math

    from cryoflow_spark.functions.text import zipf_fit

    # one token per frequency value; doc per occurrence keeps the
    # vocab pipeline honest
    rows = []
    for i, f in enumerate(freqs):
        for j in range(f):
            rows.append((len(rows), f"tok{i:02d}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = zipf_fit(df, top_k=len(freqs)).collect()[0]

    ranked = sorted(
        ((f, f"tok{i:02d}") for i, f in enumerate(freqs)),
        key=lambda p: (-p[0], p[1]),
    )
    pts = [
        (round(math.log(r + 1), 6), round(math.log(f), 6))
        for r, (f, _) in enumerate(ranked)
    ]
    k = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    den = k * sxx - sx * sx
    assert got["n_terms"] == k
    if den > 0:
        slope = (k * sxy - sx * sy) / den
        assert abs(got["zipf_slope"] - slope) < 1e-9
        assert abs(got["zipf_intercept"] - (sy - slope * sx) / k) < 1e-9
    else:
        assert got["zipf_slope"] is None


def round6(x: float) -> float:
    # Spark's F.round(double, 6) is HALF_UP over the shortest decimal
    # repr (java BigDecimal.valueOf), same as DuckDB's ROUND — NOT
    # Python's round(), which differs on .5 ties (e.g. 122/256 =
    # 0.4765625 -> 0.476563 HALF_UP, 0.476562 half-even; the double
    # 0.6462555 lies just below its tie, so round() gives 0.646255).
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP
        )
    )


@st.composite
def bm25_corpora(draw):
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    docs = draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=1, max_size=12),
            min_size=2,
            max_size=12,
        )
    )
    terms = draw(
        st.lists(st.sampled_from(vocab), min_size=1, max_size=3, unique=True)
    )
    return docs, terms


@given(bm25_corpora())
# doc 1's component is the double 0.6462555 exactly: a decimal tie
@example(([["beta"], ["alpha", "alpha"], ["alpha", "alpha", "alpha"]], ["alpha"]))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bm25_matches_python_reference(spark, corpus):
    """x155's scoring against a from-scratch BM25 on randomized
    corpora — component rounding, canonical fold order, idf variant,
    and tie handling all reproduced independently."""
    import math

    from cryoflow_spark.functions.text import bm25_search

    docs, terms = corpus
    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["matched_terms"], r["score"])
        for r in bm25_search(df, terms, top_k=len(docs)).collect()
    }

    n = len(docs)
    total = sum(len(d) for d in docs)
    avgdl = total / n

    def idf(t):
        dfc = sum(1 for d in docs if t in d)
        return round6(math.log((2 * n - 2 * dfc + 1) / (2 * dfc + 1) + 1))

    want = {}
    for i, d in enumerate(docs):
        comps = []
        for t in sorted(set(terms)):
            tf = d.count(t)
            if tf == 0:
                continue
            comps.append(
                round6(
                    idf(t) * (tf * 2.2)
                    / (tf + 1.2 * (0.25 + 0.75 * len(d) / avgdl))
                )
            )
        if comps:
            acc = 0.0
            for c in comps:  # canonical term order (sorted above)
                acc += c
            want[i] = (len(comps), round6(acc))
    assert got == want


@given(
    st.lists(
        st.tuples(st.sampled_from("abc"), st.sampled_from("abc")),
        min_size=2,
        max_size=40,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cohens_kappa_matches_python_reference(spark, rows):
    """x144 against the textbook formula on randomized label pairs,
    including the degenerate chance-perfect table."""
    from cryoflow_spark.functions.profiling import cohens_kappa

    df = spark.createDataFrame(rows, "gold string, pred string")
    r = cohens_kappa(df, "gold", "pred").collect()[0]
    n = len(rows)
    agree = sum(1 for g, p in rows if g == p)
    classes = sorted({c for pair in rows for c in pair})
    s = sum(
        sum(1 for g, _ in rows if g == c) * sum(1 for _, p in rows if p == c)
        for c in classes
    )
    assert r["n_items"] == n
    assert r["observed_agreement"] == round6(agree / n)
    assert r["expected_agreement"] == round6(s / (n * n))
    if n * n - s == 0:
        assert r["kappa"] == 0.0
    else:
        assert r["kappa"] == round6((n * agree - s) / (n * n - s))


@given(
    st.lists(
        st.lists(
            st.sampled_from(["ab", "abc", "ba", "a", "cab", "x9"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bpe_merge_pairs_matches_python_reference(spark, docs):
    """x143 against a from-scratch BPE pair counter on randomized
    word soups — end-of-word markers, within-word repeats, and the
    vocab-weighted counting reproduced independently."""
    from collections import Counter

    from cryoflow_spark.functions.text import bpe_merge_pairs

    df = spark.createDataFrame(
        [(" ".join(d),) for d in docs], "text string"
    )
    got = {
        r["pair"]: (r["pair_count"], r["n_words"])
        for r in bpe_merge_pairs(df, top_k=1000).collect()
    }

    wc = Counter(w for d in docs for w in d)
    pair_count: Counter = Counter()
    pair_words: dict = {}
    for w, c in wc.items():
        syms = list(w) + ["</w>"]
        for a, b in zip(syms, syms[1:]):
            key = f"{a} {b}"
            pair_count[key] += c
            pair_words.setdefault(key, set()).add(w)
    want = {k: (pair_count[k], len(pair_words[k])) for k in pair_count}
    assert got == want


@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=10),
        min_size=1,
        max_size=8,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kneser_ney_matches_python_reference(spark, docs):
    """x148 against from-scratch continuation counts on randomized
    token streams — N1+(·w), N1+(w·), the KN unigram probability and
    the n1/n2 discount reproduced independently."""
    from collections import Counter

    from cryoflow_spark.functions.text import kneser_ney_counts

    df = spark.createDataFrame(
        [(" ".join(d),) for d in docs], "text string"
    )
    rows = kneser_ney_counts(df, top_k=1000).collect()

    uni = Counter(t for d in docs for t in d)
    bigrams = Counter()
    for d in docs:
        for a, b in zip(d, d[1:]):
            bigrams[(a, b)] += 1
    pre = Counter(c for (_, c) in bigrams)
    fol = Counter(p for (p, _) in bigrams)
    types = len(bigrams)
    n1 = sum(1 for v in bigrams.values() if v == 1)
    n2 = sum(1 for v in bigrams.values() if v == 2)
    for r in rows:
        w = r["word"]
        assert r["count"] == uni[w]
        assert r["n_preceders"] == pre.get(w, 0)
        assert r["n_followers"] == fol.get(w, 0)
        if types:
            assert r["kn_unigram_prob"] == round(pre.get(w, 0) / types, 6)
        if n1 + 2 * n2:
            assert r["discount"] == round(n1 / (n1 + 2 * n2), 6)
        else:
            assert r["discount"] == 0.0


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),  # day of month
            st.sampled_from("abcde"),  # user
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_active_users_matches_python_reference(spark, events):
    """x149 against a from-scratch DAU/WAU on randomized event logs —
    the trailing-window distinct, observed-day restriction, and
    stickiness ratio reproduced independently."""
    from datetime import date, datetime

    from cryoflow_spark.functions.events import active_users_report

    df = spark.createDataFrame(
        [(datetime(2024, 3, d, 12, 0), u) for d, u in events],
        "ts timestamp, user_id string",
    )
    got = {
        str(r["day"]): (r["dau"], r["wau"], r["stickiness"])
        for r in active_users_report(df, window_days=7).collect()
    }

    day_user = {(date(2024, 3, d), u) for d, u in events}
    days = sorted({d for d, _ in day_user})
    want = {}
    for anchor in days:
        dau = len({u for d, u in day_user if d == anchor})
        wau = len(
            {u for d, u in day_user if 0 <= (anchor - d).days <= 6}
        )
        want[str(anchor)] = (dau, wau, round(dau / wau, 6))
    assert got == want
