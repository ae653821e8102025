"""Property tests for the round-10f devices (L-551..L-555): each Spark plan
must equal a direct Python reference of the same exact-arithmetic chain."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import pytest

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

# Device-property suite: every test drives Spark per Hypothesis example,
# so the file costs minutes. Runs under SPARK_GRAFT_FULL_TESTS=1 (round-close
# / CI profile); the fast default keeps the oracle-differential coverage.
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F


def _rha(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _mean_hup(total: int, n: int) -> int:
    return (2 * total + n) // (2 * n)


# --- Bradley-Terry (L-551) --------------------------------------------------------------
#
# Docs: (source_id 0..3, n_chars). doc_id = index; adjacent ids pair up.

BT_DOCS = st.lists(
    st.tuples(st.integers(0, 3), st.integers(1, 500)),
    min_size=4,
    max_size=24,
)


def _bt_ref(docs, iters=10):
    matches = []
    for k in range(len(docs) // 2):
        (sa, la), (sb, lb) = docs[2 * k], docs[2 * k + 1]
        if sa == sb:
            continue
        if la >= lb:
            matches.append((f"s{sa}", f"s{sb}"))
        else:
            matches.append((f"s{sb}", f"s{sa}"))
    if not matches:
        return {}
    w = Counter(matches)
    items = sorted({x for m in matches for x in m})
    n = {}
    for i in items:
        for j in items:
            if i != j:
                n[(i, j)] = w.get((i, j), 0) + w.get((j, i), 0)
    wins = {i: sum(w.get((i, j), 0) for j in items if j != i) for i in items}
    nm = {i: sum(n[(i, j)] for j in items if j != i) for i in items}
    k_items = len(items)
    p = {i: 1_000_000 for i in items}
    for _ in range(iters):
        praw = {}
        for i in items:
            d_nano = sum(
                _rha(1e15 * n[(i, j)] / (p[i] + p[j]))
                for j in items
                if j != i and n[(i, j)] > 0
            )
            praw[i] = _rha(1e15 * wins[i] / d_nano) if d_nano > 0 else 0
        tot = sum(praw.values())
        p = {
            i: max(1, _rha(1e6 * k_items * praw[i] / tot)) for i in items
        }
    ranked = sorted(items, key=lambda i: (-p[i], i))
    return {
        i: (nm[i], wins[i], p[i], ranked.index(i) + 1) for i in items
    }


@settings(max_examples=10, deadline=None)
@given(docs=BT_DOCS)
def test_bradley_terry_matches_reference(spark, docs):
    from pagila_etl_airflow_assignment_spark.llm.corpus_stats import (
        bradley_terry,
    )

    df = spark.createDataFrame(
        [
            (i, "x", "en", f"s{src}", length)
            for i, (src, length) in enumerate(docs)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["source"]: (r["n_matches"], r["wins"], r["p_micro"], r["rnk"])
        for r in bradley_terry(df).collect()
    }
    # sources with zero cross-source matches never enter the match grid
    ref = {k: v for k, v in _bt_ref(docs).items() if v[0] > 0}
    assert got == ref


# --- query likelihood (L-552) -----------------------------------------------------------

WORDS = ["aa", "bb", "cc", "dd", "ee"]
QL_DOCS = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=12),
    min_size=2,
    max_size=10,
)


def _ql_ref(doc_words, n_q=3, k=20, mu=2000):
    # mirror grams(): splitting a normalized empty text yields one ""
    # token, so empty docs still carry a posting
    doc_words = [" ".join(ws).split(" ") for ws in doc_words]
    tf = [Counter(ws) for ws in doc_words]
    dl = [len(ws) for ws in doc_words]
    cf = Counter(w for ws in doc_words for w in ws)
    df_ = Counter(w for t in tf for w in t)
    n_docs_with_words = sum(1 for d in dl if d > 0)
    total = sum(dl)
    qterms = sorted(
        (
            w
            for w in cf
            if 1000 * df_[w] < 600 * n_docs_with_words
        ),
        key=lambda w: (-cf[w], w),
    )[:n_q]
    scores = []
    for i in range(len(doc_words)):
        s = sum(
            _rha(
                1e6
                * math.log(
                    (tf[i].get(w, 0) + mu * cf[w] / total) / (dl[i] + mu)
                )
            )
            for w in qterms
        )
        scores.append((i, s))
    scores.sort(key=lambda t: (-t[1], t[0]))
    return scores[:k]


@settings(max_examples=10, deadline=None)
@given(doc_words=QL_DOCS)
def test_query_likelihood_matches_reference(spark, doc_words):
    from pagila_etl_airflow_assignment_spark.llm.corpus_stats import (
        query_likelihood_topk,
    )

    # at least one token in the corpus (an empty collection has no query)
    if all(not ws for ws in doc_words):
        doc_words = doc_words + [["aa"]]
    df = spark.createDataFrame(
        [
            (i, " ".join(ws), "en", "s0", len(" ".join(ws)))
            for i, ws in enumerate(doc_words)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = [
        (r["doc_id"], r["ql_micro_nat"])
        for r in query_likelihood_topk(df).collect()
    ]
    assert got == _ql_ref(doc_words)


# --- UniMax (L-553) ---------------------------------------------------------------------

UM_LANGS = st.lists(
    st.tuples(st.sampled_from(["de", "en", "es", "fr", "zh"]), st.integers(0, 60)),
    min_size=1,
    max_size=8,
)


def _unimax_ref(lang_tokens, epoch_cap=4, budget_x_milli=2000):
    per = defaultdict(int)
    for lang, t in lang_tokens:
        per[lang] += t
    caps = {lg: n * epoch_cap for lg, n in per.items()}
    total = sum(per.values())
    budget = (2 * budget_x_milli * total + 1000) // 2000
    order = sorted(per, key=lambda lg: (caps[lg], lg))
    k = len(order)
    cum_before = 0
    b_rn = None
    cums = {}
    for rn, lg in enumerate(order, start=1):
        cums[lg] = cum_before
        if not (caps[lg] * (k - rn + 1) < budget - cum_before):
            if b_rn is None:
                b_rn = rn
        cum_before += caps[lg]
    capped = {
        lg: (b_rn is not None and rn < b_rn)
        for rn, lg in enumerate(order, start=1)
    }
    capped_sum = sum(caps[lg] for lg in order if capped[lg])
    n_open = sum(1 for lg in order if not capped[lg])
    out = {}
    open_rank = 0
    for rn, lg in enumerate(order, start=1):
        if capped[lg]:
            alloc = caps[lg]
        elif n_open > 0:
            open_rank += 1
            share = (budget - capped_sum) // n_open
            extra = 1 if open_rank <= (budget - capped_sum) % n_open else 0
            alloc = min(caps[lg], share + extra)
        else:
            alloc = caps[lg]
        ep = _mean_hup(1000 * alloc, per[lg]) if per[lg] > 0 else 0
        out[lg] = (per[lg], caps[lg], alloc, ep)
    return out


@settings(max_examples=12, deadline=None)
@given(lang_tokens=UM_LANGS)
def test_unimax_matches_reference(spark, lang_tokens):
    from pagila_etl_airflow_assignment_spark.llm.sampling import (
        unimax_allocation,
    )

    rows = [
        (i, " ".join(["w"] * t), lang, "s0", 2 * t)
        for i, (lang, t) in enumerate(lang_tokens)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["lang"]: (
            r["n_tokens"],
            r["capacity"],
            r["alloc_tokens"],
            r["epochs_milli"],
        )
        for r in unimax_allocation(df).collect()
    }
    assert got == _unimax_ref(lang_tokens)


# --- facility location (L-554) ----------------------------------------------------------

DIM = 6
FL_VECS = st.lists(
    st.tuples(
        st.lists(
            st.integers(-8, 8).map(lambda k: k / 4.0),
            min_size=DIM,
            max_size=DIM,
        ),
        st.integers(0, 2),
    ),
    min_size=4,
    max_size=14,
)


def _fl_ref(rows, rounds, ground):
    import hashlib

    def md5i(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    xm = {
        i: [_rha(x * 1e6) for x in v] for i, (v, _) in enumerate(rows)
    }
    g_ids = sorted(xm, key=lambda i: (md5i(str(i)), i))[:ground]
    cur = {g: 0 for g in g_ids}
    sel = []
    cov = 0
    for r in range(1, rounds + 1):
        best = None
        for c in sorted(xm):
            if c in {s[1] for s in sel}:
                continue
            gain = sum(
                max(
                    0,
                    sum(a * b for a, b in zip(xm[c], xm[g])) - cur[g],
                )
                for g in g_ids
            )
            if best is None or gain > best[0] or (gain == best[0] and c < best[1]):
                if best is None or gain > best[0]:
                    best = (gain, c)
        gain, c = best
        cov += gain
        sel.append((r, c, gain, cov))
        for g in g_ids:
            cur[g] = max(cur[g], sum(a * b for a, b in zip(xm[c], xm[g])))
    return sel


@settings(max_examples=10, deadline=None)
@given(rows=FL_VECS)
def test_facility_location_matches_reference(spark, rows):
    from pagila_etl_airflow_assignment_spark.llm.embeddings import (
        facility_location,
    )

    df = spark.createDataFrame(
        [(i, v, lab) for i, (v, lab) in enumerate(rows)],
        "vec_id long, embedding array<float>, label int",
    )
    rounds, ground = 3, 4
    got = [
        (r["sel_round"], r["vec_id"], r["gain"], r["coverage"])
        for r in facility_location(df, rounds, ground).collect()
    ]
    assert got == _fl_ref(rows, rounds, ground)


# --- time-decay attribution (L-555) -----------------------------------------------------
#
# Per-user touches at hour offsets before a purchase at a fixed time.

TD_USERS = st.lists(
    st.tuples(
        st.lists(
            st.tuples(
                st.sampled_from(["view", "click", "signup"]),
                st.integers(1, 200),  # hours before the purchase
            ),
            min_size=0,
            max_size=5,
        ),
        st.booleans(),
    ),
    min_size=1,
    max_size=10,
)


def _td_ref(users, halflife_h=12, window_days=7):
    from collections import defaultdict as dd

    per = dd(lambda: [0, 0])
    for touches, purchased in users:
        if not purchased:
            continue
        for ch, hours in touches:
            dt_s = hours * 3600
            if dt_s <= window_days * 86400:
                n = dt_s // (3600 * halflife_h)
                c = _rha(1e6 * 2.0 ** -n)
                per[ch][0] += 1
                per[ch][1] += c
    tot = sum(v[1] for v in per.values())
    return {
        ch: (
            n,
            c,
            (2 * 1000 * c + tot) // (2 * tot) if tot > 0 else 0,
        )
        for ch, (n, c) in per.items()
    }


@settings(max_examples=10, deadline=None)
@given(users=TD_USERS)
def test_time_decay_attribution_matches_reference(spark, users):
    from pagila_etl_airflow_assignment_spark.operators.sequences import (
        channel_time_decay_attribution,
    )

    rows = []
    eid = 0
    base_purchase = "2024-02-01 00:00:00"
    import datetime as dt

    p_ts = dt.datetime(2024, 2, 1, 0, 0, 0)
    for u, (touches, purchased) in enumerate(users):
        for ch, hours in touches:
            t = p_ts - dt.timedelta(hours=hours)
            rows.append((eid, u, ch, t.strftime("%Y-%m-%d %H:%M:%S"), 0.0))
            eid += 1
        if purchased:
            rows.append((eid, u, "purchase", base_purchase, 1.0))
            eid += 1
        elif not touches:
            rows.append((eid, u, "error", base_purchase, 0.0))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts string,"
        " value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["channel"]: (r["n_touches"], r["credit_micro"], r["share_milli"])
        for r in channel_time_decay_attribution(df).collect()
    }
    assert got == _td_ref(users)
