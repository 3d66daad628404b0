"""Property-based differential test: Spark filter semantics vs a pure-Python
oracle of the reference's two predicates (SURVEY.md §5.2 point 3).

The reference ships the same query on two engines (pandas masks at
``lambda_function_aws.py:43-52``, list comprehensions at
``zip!lambda_function_aws.py:56-68``); this third implementation must agree
on randomized PaySim-shaped rows, including the hard cases: half-even
rounding boundaries (x.xx5 deltas), negative balances, huge magnitudes.

The Python oracle uses ``round(x, 2)`` — CPython's round-half-even on the
exact binary value of the double. Spark ``bround`` rounds half-even on the
decimal the double prints as (pandas ``.round(2)`` on the double scaled by
100), so the oracle agrees with it only away from x.xx5 decimals that binary
cannot hold: ``round(2.675, 2)`` is 2.67, ``bround`` (and pandas) give 2.68.
Such a tie must also decide a clause's comparison to show up here.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fraud_detection_etl_project_spark.pipeline import fraud_pipeline
from fraud_detection_etl_project_spark.schemas import TXN_SCHEMA

# Magnitudes spanning cents to PaySim-max (~9.2e7) plus exact half-cent
# boundaries where HALF_UP and HALF_EVEN disagree.
_money = st.one_of(
    st.floats(min_value=-1e8, max_value=1e8, allow_nan=False, width=64),
    st.integers(min_value=-10_000, max_value=10_000).map(lambda c: c / 100 + 0.005),
)


_rows = st.lists(
    st.tuples(
        st.integers(1, 744),  # step
        st.sampled_from(["PAYMENT", "TRANSFER", "CASH_OUT", "DEBIT", "CASH_IN"]),
        _money.map(abs),  # amount
        st.integers(0, 99).map(lambda i: f"C{i}"),  # nameOrig
        _money,  # oldbalanceOrg
        _money,  # newbalanceOrig
        st.integers(0, 99).map(lambda i: ("M" if i % 3 else "C") + str(i)),
        _money,  # oldbalanceDest
        _money,  # newbalanceDest
        st.integers(0, 1),  # isFraud
        st.integers(0, 1),  # isFlaggedFraud
    ),
    min_size=0,
    max_size=40,
)


def _oracle(rows):
    """The reference's filters, row-at-a-time (zip!lambda_function_aws.py:56-68)."""
    out = []
    for r in rows:
        (_, _, amount, _, old_org, new_org, _, old_dest, new_dest, is_fraud, is_flagged) = r
        valid = round(old_org - new_org, 2) >= amount or round(old_dest + amount, 2) >= new_dest
        if valid and (is_fraud == 1 or is_flagged == 1):
            out.append(r)
    return out


@given(_rows)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_spark_matches_python_oracle(spark_session, rows):
    df = spark_session.createDataFrame(rows, schema=TXN_SCHEMA)
    got = sorted(tuple(r) for r in fraud_pipeline(df).collect())
    want = sorted(_oracle(rows))
    assert got == want


# hypothesis + pytest fixtures: wrap the session-scoped fixture so @given
# can reuse it across examples.
import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark_session(spark):
    return spark


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_connected_components_matches_union_find(spark_session, edge_list):
    """Randomized graphs: Spark min-label propagation == pure-Python
    union-find (smallest-id representative)."""
    from fraud_detection_etl_project_spark.operators.graph import connected_components

    nodes = sorted({n for e in edge_list for n in e} | {99})  # 99: forced singleton
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in nodes}

    nodes_df = spark_session.createDataFrame([(n,) for n in nodes], "node long")
    if edge_list:
        edges_df = spark_session.createDataFrame(edge_list, "src long, dst long")
    else:
        edges_df = spark_session.createDataFrame([], "src long, dst long")
    # small-graph fast path (driver union-find)
    got = {r["node"]: r["comp"] for r in connected_components(nodes_df, edges_df).collect()}
    assert got == expected
    # distributed min-label/pointer-jump path (threshold forced to 0)
    got_dist = {
        r["node"]: r["comp"]
        for r in connected_components(nodes_df, edges_df, local_edge_threshold=0).collect()
    }
    assert got_dist == expected


@given(
    st.lists(
        # small vocab + short docs => plenty of accidental band collisions,
        # plus duplicate texts => genuinely hot buckets
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon"]),
                 min_size=1, max_size=8).map(" ".join),
        min_size=0,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_salted_lsh_pairs_property_parity(spark_session, texts):
    """Randomized corpora: the hot-bucket-salted LSH pair join emits
    EXACTLY the plain join's pair set for any input, any cap/salt
    config — the salting is a physical redistribution, never a
    semantic change."""
    from fraud_detection_etl_project_spark.operators.dedup import (
        neardup_pairs_minhash,
        neardup_pairs_minhash_salted,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    if not rows:
        return
    docs = spark_session.createDataFrame(rows, "doc_id long, text string")
    plain = {(r["doc_a"], r["doc_b"]) for r in neardup_pairs_minhash(docs).collect()}
    salted = {
        (r["doc_a"], r["doc_b"])
        for r in neardup_pairs_minhash_salted(docs, bucket_cap=2, salt_groups=3).collect()
    }
    assert salted == plain


@given(st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=200))
def test_cusum_drawdown_identity(deltas):
    """The window rewrite of user_cusum_alerts rests on the identity
    S_i = R_i - min(0, min_prefix(R)); prove it against the direct
    recurrence S_i = max(0, S_(i-1) + d_i) for arbitrary int deltas."""
    s_direct = []
    s = 0
    for d in deltas:
        s = max(0, s + d)
        s_direct.append(s)
    r, rmin, s_ident = 0, 0, []
    for d in deltas:
        r += d
        rmin = min(rmin, r)
        s_ident.append(r - min(0, rmin))
    assert s_direct == s_ident
