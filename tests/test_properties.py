"""Property-based tests (hypothesis) — algorithmic ops vs naive oracles.

The reference's test strategy is golden e2e assertions (SURVEY.md §5);
these extend it with randomized equivalence checks for the engine's
composed algorithms: the union+LOCF as-of join vs a naive per-row scan,
and prefix-filtered Jaccard vs the O(n²) brute force.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from kafka_streams_homework_spark.operators import dedup as D
from kafka_streams_homework_spark.operators import relational as R

BASE = dt.datetime(2024, 1, 1)


def _ts(minutes: int) -> dt.datetime:
    return BASE + dt.timedelta(minutes=minutes)


asof_case = st.tuples(
    # left rows: (key, ts_minute)
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 30)), min_size=1, max_size=12
    ),
    # right rows: (key, ts_minute) — deduped per (key, ts) below
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 30)), min_size=0, max_size=12
    ),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(asof_case)
def test_asof_join_matches_naive_scan(spark, case):
    left_rows, right_rows = case
    right_rows = sorted({(k, m) for k, m in right_rows})
    left = spark.createDataFrame(
        [(i, k, _ts(m)) for i, (k, m) in enumerate(left_rows)],
        "eid long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(k, _ts(m), f"p{k}_{m}") for k, m in right_rows],
        "rk long, rts timestamp, payload string",
    ) if right_rows else spark.createDataFrame([], "rk long, rts timestamp, payload string")

    got = {
        r.eid: r.payload
        for r in R.asof_join(
            left, right, ["k"], ["rk"], "ts", "rts", ["payload"]
        ).collect()
    }

    expect = {}
    for i, (k, m) in enumerate(left_rows):
        matches = [(rm, p) for rk, rm, p in
                   ((rk, rm, f"p{rk}_{rm}") for rk, rm in right_rows)
                   if rk == k and rm <= m]
        expect[i] = max(matches)[1] if matches else None
    assert got == expect


join_case = st.tuples(
    st.lists(st.integers(0, 4), min_size=1, max_size=20),  # fact keys (skewable)
    st.lists(st.integers(0, 6), min_size=0, max_size=6),  # dim keys
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(join_case)
def test_salted_join_matches_plain_join(spark, case):
    fact_keys, dim_keys = case
    dim_keys = sorted(set(dim_keys))
    fact = spark.createDataFrame(
        [(i, k) for i, k in enumerate(fact_keys)], "fid long, k long"
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in dim_keys], "dk long, payload string"
    ) if dim_keys else spark.createDataFrame([], "dk long, payload string")
    for how in ("inner", "left"):
        plain = sorted(
            (r.fid, r.payload)
            for r in fact.join(dim, fact["k"] == dim["dk"], how).collect()
        )
        salted = sorted(
            (r.fid, r.payload)
            for r in R.salted_join(fact, dim, "k", "dk", how, 4).collect()
        )
        assert salted == plain, how


doc_corpus = st.lists(
    st.lists(st.sampled_from("abcdef"), min_size=3, max_size=12).map(" ".join),
    min_size=2,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(doc_corpus)
def test_ngram_jaccard_prefix_filter_is_exact(spark, texts):
    """Prefix filtering must not lose pairs: result == O(n²) brute force."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def shingle_set(t: str) -> set[tuple[str, str]]:
        tok = t.lower().split(" ")
        return {(tok[i], tok[i + 1]) for i in range(len(tok) - 1)}

    sets = {i: shingle_set(t) for i, t in enumerate(texts)}
    for tau in (0.5, 0.8):
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in D.ngram_jaccard_pairs(docs, 2, tau).collect()
        }
        expect = {}
        for a in sets:
            for b in sets:
                if a < b and sets[a] and sets[b]:
                    j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                    if round(j, 6) >= tau:
                        expect[(a, b)] = round(j, 6)
        assert got == expect, tau


def test_ngram_jaccard_keeps_a_pair_at_the_exact_positional_bound(spark):
    """J(A,B) = τ = 0.8 with B inside A: the pair's only prefix match
    leaves exactly the required overlap ⌈τ(|A|+|B|)/(1+τ)⌉, so the
    positional filter keeps it only when it never rounds that bound up.
    Sizes 5+4 (bound 4) and 35+28 (bound 28: in floats 0.8·63/1.8
    comes out just above 28 and its ceil is 29)."""
    for n_a, n_b in ((5, 4), (35, 28)):
        words = [f"w{i}" for i in range(n_a + 1)]  # n_a distinct bigrams
        docs = spark.createDataFrame(
            [(1, " ".join(words)), (2, " ".join(words[: n_b + 1]))],
            "doc_id long, text string",
        )
        got = [tuple(r) for r in D.ngram_jaccard_pairs(docs, 2, 0.8).collect()]
        assert got == [(1, 2, 0.8)], (n_a, n_b)


@st.composite
def cc_graphs(draw):
    """Disjoint chains, stars and cycles on shuffled ids (so a star's
    centre is rarely its minimum and a chain's minimum sits anywhere),
    plus duplicated and reversed copies of some of their edges."""
    shapes = draw(
        st.lists(
            st.tuples(st.sampled_from(["chain", "star", "cycle"]), st.integers(2, 7)),
            min_size=1,
            max_size=4,
        )
    )
    total = sum(k for _, k in shapes)
    ids = draw(st.permutations(range(1, 2 * total + 1)))
    edges, at = [], 0
    for kind, k in shapes:
        nodes = ids[at : at + k]
        at += k
        if kind == "star":
            edges += [(nodes[0], v) for v in nodes[1:]]
        else:
            edges += list(zip(nodes, nodes[1:]))
            if kind == "cycle":
                edges.append((nodes[-1], nodes[0]))
    copies = draw(st.lists(st.sampled_from(edges), max_size=4))
    flips = draw(st.lists(st.sampled_from(edges), max_size=4))
    return edges + copies + [(b, a) for a, b in flips]


def _union_find_min_labels(edges) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(cc_graphs())
def test_dedup_clusters_equals_union_find(spark, edges):
    """Each node's cluster is its component's minimum id, whatever the
    shape, id order or edge duplication; only that minimum is canonical."""
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in D.dedup_clusters(pairs).collect()
    }
    expect = {n: (m, n == m) for n, m in _union_find_min_labels(edges).items()}
    assert got == expect


def test_dedup_clusters_warns_on_a_chain_longer_than_max_iters(spark):
    # 1-2-...-8 needs 7 rounds for label 1 to reach node 8
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge in 4 iterations"):
        D.dedup_clusters(pairs, max_iters=4).collect()
    for max_iters in (1, 2):
        with pytest.warns(RuntimeWarning, match="did not converge"):
            D.dedup_clusters(pairs, max_iters=max_iters).collect()


resample_case = st.lists(
    # (key, minute, value-as-tenths) — duplicates per bucket exercise
    # the avg pre-agg; values kept small/exact to avoid float noise
    st.tuples(st.integers(0, 2), st.integers(0, 40), st.integers(-50, 50)),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(resample_case)
def test_resample_gapfill_grid_properties(spark, case):
    df = spark.createDataFrame(
        [(str(k), _ts(m), v / 10.0) for k, m, v in case],
        "event_type string, ts timestamp, value double",
    )
    rows = R.resample_gapfill(df).collect()
    observed = {}
    for k, m, v in case:
        observed.setdefault(str(k), {}).setdefault(m, []).append(v / 10.0)
    by_key = {}
    for r in rows:
        by_key.setdefault(r.event_type, {})[
            int((r.bucket - BASE).total_seconds() // 60)
        ] = r
    assert set(by_key) == set(observed)
    for k, obs in observed.items():
        got = by_key[k]
        lo, hi = min(obs), max(obs)
        # dense grid exactly spanning [lo, hi]; nothing outside
        assert sorted(got) == list(range(lo, hi + 1))
        for m, r in got.items():
            if m in obs:
                assert not r.filled
                assert abs(r.value_filled - sum(obs[m]) / len(obs[m])) < 1e-5
            else:
                assert r.filled
                # interpolated value lies within the segment endpoints
                prev_m = max(x for x in obs if x < m)
                next_m = min(x for x in obs if x > m)
                pv = sum(obs[prev_m]) / len(obs[prev_m])
                nv = sum(obs[next_m]) / len(obs[next_m])
                assert min(pv, nv) - 1e-6 <= r.value_filled <= max(pv, nv) + 1e-6


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.lists(st.integers(0, 9), min_size=3, max_size=12),
        min_size=2,
        max_size=8,
    )
)
def test_containment_matches_bruteforce(spark, docs):
    texts = [(i, " ".join(f"t{w}" for w in ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in D.containment_pairs(df, 3, 0.5).collect()
    }

    def sh(ws):
        return {tuple(ws[i : i + 3]) for i in range(len(ws) - 2)}

    want = {}
    for i, a in enumerate(docs):
        for j, b in enumerate(docs):
            if i == j or not sh(a):
                continue
            c = round(len(sh(a) & sh(b)) / len(sh(a)), 6)
            if c >= 0.5:
                want[(i, j)] = c
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=10),
        min_size=2,
        max_size=12,
        unique=True,
    )
)
def test_edit_distance_pairs_matches_bruteforce(spark, names):
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        (r.name_a, r.name_b): r.distance
        for r in D.edit_distance_pairs(df, k=2).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (a, b): lev(a, b)
        for a in names
        for b in names
        if a < b and lev(a, b) <= 2
    }
    assert got == want


word = st.sampled_from(["the", "a", "of", "red", "blue", "widget", "gadget"])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(st.lists(word, min_size=3, max_size=8), min_size=2, max_size=8))
def test_simhash_md5_banding_is_complete(spark, docs):
    """Pigeonhole completeness on random corpora: the banded join must
    emit EXACTLY the pairs the brute-force md5-signature scan finds at
    Hamming <= 3 (4 bands of 8 bits cannot miss a <=3-bit difference)."""
    import hashlib

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]

    def sig(text):
        toks = text.lower().split(" ")
        sh = {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
        votes = [0] * 32
        for s in sh:
            h = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
            for b in range(32):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(32) if votes[b] > 0)

    sigs = {i: sig(t) for i, t in rows}
    expected = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b) for r in D.simhash_pairs_md5(df, 3, 3).collect()}
    assert got == expected


# signature rows: unique ids, three bands whose buckets come from a tiny
# range (so pairs collide in several bands, and the same value recurs
# across bands) with nulls, and two carried columns
band_rows = st.lists(
    st.tuples(
        st.integers(0, 30),
        st.lists(st.one_of(st.none(), st.integers(0, 2)), min_size=3, max_size=3),
        st.integers(-5, 5),
    ),
    max_size=10,
    unique_by=lambda r: r[0],
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(band_rows)
@example([])
def test_band_pairs_equals_bruteforce(spark, rows):
    """band_pairs ≡ every id_a < id_b pair that shares a non-null bucket
    in the SAME band, listed once, with both rows' carried columns."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, bk, w, f"t{i}") for i, bk, w in rows],
        "id long, bk array<long>, w long, tag string",
    )
    keys = F.array(
        *[F.struct(F.lit(b).alias("band"), F.col("bk")[b].alias("bucket")) for b in range(3)]
    )
    got = sorted(
        tuple(r)
        for r in D.band_pairs(df, "id", keys, "w", "tag")
        .select("id_a", "w_a", "tag_a", "id_b", "w_b", "tag_b")
        .collect()
    )
    expected = sorted(
        (a, wa, f"t{a}", b, wb, f"t{b}")
        for a, ka, wa in rows
        for b, kb, wb in rows
        if a < b and any(x is not None and x == y for x, y in zip(ka, kb))
    )
    assert got == expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(st.booleans(), st.integers(0, 4), st.integers(5, 9)),
        min_size=2,
        max_size=12,
    ).filter(lambda v: len({x[0] for x in v}) == 2)
)
def test_rank_sum_auc_equals_pairwise_counting(spark, cases):
    """The tie-corrected rank-sum AUC (lang_id_auc) must equal the
    naive pairwise definition sum([s_p > s_n] + 0.5[s_p == s_n])/PN on
    random (label, k-of-n stopwords) corpora."""
    import shutil
    import tempfile

    from kafka_streams_homework_spark.queries import REGISTRY

    rows, scores = [], []
    for i, (pos, k, n) in enumerate(cases):
        text = " ".join(["the"] * k + ["widget"] * (n - k))
        rows.append((i, text, "en" if pos else "de", "s", len(text)))
        scores.append((pos, round(k / n, 6)))
    pos_s = [s for p, s in scores if p]
    neg_s = [s for p, s in scores if not p]
    naive = sum(
        (1.0 if sp > sn else 0.5 if sp == sn else 0.0)
        for sp in pos_s
        for sn in neg_s
    ) / (len(pos_s) * len(neg_s))

    d = tempfile.mkdtemp(prefix="aucprop_")
    try:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
            "source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        (r,) = REGISTRY["lang_id_auc"].fn(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert abs(r.auc - naive) < 2e-6


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        # per user: (first-event hour offset, purchase delay hours | None)
        st.tuples(st.integers(0, 5), st.none() | st.integers(0, 96)),
        min_size=1,
        max_size=10,
    )
)
def test_survival_km_equals_naive_estimator(spark, users):
    """survival_km must equal the naive KM product computed in Python
    over random cohorts (48 h administrative censoring)."""
    import shutil
    import tempfile

    from kafka_streams_homework_spark.queries import REGISTRY

    rows, eid = [], 0
    lives = []
    for uid, (start, delay) in enumerate(users):
        eid += 1
        rows.append((eid, uid, BASE + dt.timedelta(hours=start), "view", 1.0))
        if delay is not None:
            eid += 1
            rows.append(
                (eid, uid, BASE + dt.timedelta(hours=start + delay),
                 "purchase", 1.0)
            )
        died = delay is not None and delay <= 48
        lives.append((delay if died else 48, died))

    # naive KM over event times
    times = sorted({t for t, d in lives if d})
    surv, expected = 1.0, {}
    for t in times:
        n_at_risk = sum(1 for tt, _ in lives if tt >= t)
        deaths = sum(1 for tt, d in lives if d and tt == t)
        surv *= 1.0 - deaths / n_at_risk
        expected[t] = (n_at_risk, deaths, round(surv + 1e-9, 6))

    d = tempfile.mkdtemp(prefix="kmprop_")
    try:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, "
            "event_type string, value double"
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            r.t_hours: (r.n_at_risk, r.deaths, r.survival)
            for r in REGISTRY["survival_km"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert set(got) == set(expected)
    for t in expected:
        assert got[t][:2] == expected[t][:2]
        assert abs(got[t][2] - expected[t][2]) < 2e-6


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=1,
        max_size=40,
    ),
    st.integers(2, 4),
)
def test_kcore_peel_equals_python_reference(spark, pairs, k):
    """_kcore_peel must reach the same fixpoint as a naive Python peel
    on arbitrary small graphs (any k), and converge within the cap."""
    from kafka_streams_homework_spark import queries as Q

    edges = {(a, b) for a, b in pairs if a != b}
    edges = {(min(a, b), max(a, b)) for a, b in edges}
    if not edges:
        return
    # python reference: repeatedly drop nodes with degree < k
    cur = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    while True:
        deg = {}
        for a, _ in cur:
            deg[a] = deg.get(a, 0) + 1
        nxt = {(a, b) for a, b in cur if deg[a] >= k and deg.get(b, 0) >= k}
        if nxt == cur:
            break
        cur = nxt
    df = spark.createDataFrame(
        [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
        "src long, dst long",
    )
    core, _depth, converged = Q._kcore_peel(df, k, Q.KCORE_CAP)
    got = {(r.src, r.dst) for r in core.collect()}
    assert converged
    assert got == cur


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        # (user, tx-day offset 0..29, value in cents)
        st.tuples(st.integers(0, 4), st.integers(0, 29), st.integers(0, 9999)),
        min_size=1,
        max_size=25,
    )
)
def test_bitemporal_lookup_random_ledgers(spark, recs):
    """Random assertion ledgers: the engine's probe answers must equal
    a naive Python replay of max-valid/tx/event tie-break semantics."""
    import hashlib
    import shutil
    import tempfile

    from kafka_streams_homework_spark.queries import REGISTRY

    rows = []
    for eid, (uid, day_off, cents) in enumerate(recs, start=1):
        rows.append(
            (eid, uid, BASE + dt.timedelta(days=day_off, minutes=eid),
             "e", cents / 100.0)
        )
    d = tempfile.mkdtemp(prefix="bitemp_")
    try:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, "
            "event_type string, value double"
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            (r.user_id, r.probe_tx, r.probe_valid): (r.src_event, r.value)
            for r in REGISTRY["bitemporal_lookup"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)

    asserts = []
    for eid, uid, ts, _, val in rows:
        tx = int(ts.replace(tzinfo=dt.timezone.utc).timestamp()) // 86400
        lag = int(
            hashlib.md5(f"lag:{eid}".encode()).hexdigest()[:8], 16
        ) % 5
        asserts.append((uid, eid, round(val, 2), tx, tx - lag))
    d0 = min(a[3] for a in asserts)
    exp = {}
    for t in (10, 20):
        for v in (8, 18):
            best = {}
            for uid, eid, val, tx, vd in asserts:
                if tx <= d0 + t and vd <= d0 + v:
                    key = (vd, tx, eid)
                    if uid not in best or key > best[uid][0]:
                        best[uid] = (key, eid, val)
            for uid, (_, eid, val) in best.items():
                exp[(uid, d0 + t, d0 + v)] = (eid, val)
    assert got == exp


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        # (user, value in cents)
        st.tuples(st.integers(0, 19), st.integers(0, 2000)),
        min_size=4,
        max_size=40,
    )
)
def test_wasserstein_1d_python_cdf_integral(spark, recs):
    """W1 must equal the direct integral of |F_a - F_b| over the value
    axis computed in Python, with cohorts from the same md5 coin."""
    import hashlib
    import shutil
    import tempfile

    from kafka_streams_homework_spark.queries import REGISTRY

    groups = {
        uid: int(hashlib.md5(f"rm:{uid}".encode()).hexdigest()[:8], 16) % 2
        for uid, _ in recs
    }
    a = sorted(c / 100.0 for uid, c in recs if groups[uid] == 0)
    b = sorted(c / 100.0 for uid, c in recs if groups[uid] == 1)
    if not a or not b:
        return
    rows = [
        (i, uid, BASE + dt.timedelta(minutes=i), "e", c / 100.0)
        for i, (uid, c) in enumerate(recs)
    ]
    d = tempfile.mkdtemp(prefix="w1prop_")
    try:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, "
            "event_type string, value double"
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
        (r,) = REGISTRY["wasserstein_1d"].fn(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)

    grid = sorted(set(a) | set(b))
    w1 = 0.0
    for lo, hi in zip(grid, grid[1:]):
        fa = sum(1 for x in a if x <= lo) / len(a)
        fb = sum(1 for x in b if x <= lo) / len(b)
        w1 += abs(fa - fb) * (hi - lo)
    assert (r.n_a, r.n_b) == (len(a), len(b))
    assert abs(r.w1 - w1) < 1e-6


two_phase_case = st.lists(
    # (score, id) rows; scores collide on purpose so tie-break paths run
    st.tuples(st.integers(0, 15), st.integers(0, 10_000)),
    min_size=1,
    max_size=40,
    unique_by=lambda r: r[1],
)


@given(case=two_phase_case, k=st.integers(2, 7))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_two_phase_rank_and_ntile_match_global_window(spark, case, k):
    """two_phase_rank + ntile_from_rank must be BIT-identical to
    row_number()/NTILE over the global window for any data and any k,
    including heavy score ties and n < k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(case, "score int, id long")
    got = {
        (r.id, r.rank, r.tile)
        for r in R.two_phase_rank(
            df,
            [F.col("score").desc(), F.col("id").asc()],
            -F.col("score"),  # monotone bucket for the desc order
            rank_name="rank",
            total_name="n",
        )
        .withColumn("tile", R.ntile_from_rank(F.col("rank"), F.col("n"), k))
        .collect()
    }
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    want = {
        (r.id, r.rank, r.tile)
        for r in df.select(
            "id",
            F.row_number().over(w).cast("long").alias("rank"),
            F.ntile(k).over(w).cast("long").alias("tile"),
        ).collect()
    }
    assert got == want


@given(case=two_phase_case)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_two_phase_cumsum_matches_global_window(spark, case):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(case, "val int, id long")
    got = {
        (r.id, r.cum)
        for r in R.two_phase_cumsum(
            df, F.col("id"), F.expr("id div 7"), {"cum": "val"}
        ).collect()
    }
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        (r.id, r.cum)
        for r in df.select("id", F.sum("val").over(w).alias("cum")).collect()
    }
    assert got == want
