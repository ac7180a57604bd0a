"""Connected-components correctness vs a union-find oracle, incl. the
FIXTURES.md §4 shapes: cluster sizes {1,2,5,50}, a 20-chain, a skew hub."""

import random

from hypothesis import example, given, settings
from hypothesis import strategies as st

from esmarc_spark.pipeline.canonicalize import (
    canonical_mapping,
    connected_components,
    rewrite_through_canonical,
)


def _oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.component for r in connected_components(df).collect()}
    want = _oracle(edges)
    # canonical = min uri of component: re-root the oracle labels
    comp_min = {}
    for n, c in want.items():
        comp_min[c] = min(comp_min.get(c, n), n)
    want = {n: comp_min[c] for n, c in want.items()}
    assert got == want


def test_cc_fixture_shapes(spark):
    edges = []
    # cluster sizes 2 and 5 via spanning trees + extra edges
    edges += [("b1", "b2")]
    edges += [("c1", "c2"), ("c2", "c3"), ("c1", "c4"), ("c4", "c5"), ("c3", "c5")]
    # chain of 20 (iteration-count test)
    chain = [f"n{i:02d}" for i in range(20)]
    edges += list(zip(chain, chain[1:]))
    # hub with high degree (skew test)
    edges += [("hub", f"h{i:03d}") for i in range(60)]
    _check(spark, edges)


def test_cc_random_graphs(spark):
    rng = random.Random(42)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_cc_idempotent_and_singletons(spark):
    edges = [("x1", "x2"), ("x2", "x1"), ("x1", "x2")]  # dup + reversed
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r.node, r.component) for r in connected_components(df).collect()}
    assert got == {("x1", "x1"), ("x2", "x1")}


def test_rewrite_through_canonical(spark):
    edges = spark.createDataFrame(
        [("http://b", "http://a"), ("http://c", "http://b")], "src string, dst string"
    )
    mapping = canonical_mapping(edges)
    df = spark.createDataFrame(
        [("r1", "http://c"), ("r2", "http://zzz")], "id string, uri string"
    )
    out = {(r.id, r.uri) for r in rewrite_through_canonical(df, mapping, "uri").collect()}
    assert out == {("r1", "http://a"), ("r2", "http://zzz")}


def test_rewrite_through_canonical_no_forced_broadcast(spark):
    """Scale guard (VERDICT r1 #3): the uri->canonical dim grows with the
    number of linked entities, so the plan must not carry a broadcast hint —
    AQE decides at runtime from actual sizes."""
    from esmarc_spark.pipeline.canonicalize import rewrite_through_canonical

    df = spark.createDataFrame([("a", 1), ("b", 2)], "u string, v int")
    mapping = spark.createDataFrame(
        [("a", "A")], "uri string, canonical_uri string"
    )
    out = rewrite_through_canonical(df, mapping, "u")
    logical = out._jdf.queryExecution().logical().toString()
    assert "hint" not in logical.lower()
    # values still correct: mapped uri rewritten, unmapped passes through
    rows = {(r.u, r.v) for r in out.collect()}
    assert rows == {("A", 1), ("b", 2)}


def _oracle_min(edges):
    """node -> min node of its component; self-loops alone make no
    component (CC drops them before the first round)."""
    want = _oracle([(a, b) for a, b in edges if a != b])
    comp_min = {}
    for n, c in want.items():
        comp_min[c] = min(comp_min.get(c, n), n)
    return {n: comp_min[c] for n, c in want.items()}


def _chain(n):
    return [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(n)]


_nodes = st.sampled_from([f"v{i}" for i in range(10)])
_graphs = st.one_of(
    # small alphabet: duplicates, reversed edges and self-loops are common
    st.lists(st.tuples(_nodes, _nodes), max_size=25),
    # chains in either orientation, shuffled
    st.tuples(st.integers(1, 30), st.booleans(), st.randoms()).map(
        lambda t: t[2].sample(
            [(b, a) if t[1] else (a, b) for a, b in _chain(t[0])], t[0]
        )
    ),
)


@settings(max_examples=12, deadline=None)
@given(_graphs)
@example([])
@example(_chain(40))
@example([("x", "x"), ("y", "z"), ("z", "y"), ("y", "z")])
def test_cc_star_form_stop_matches_oracle(spark, edges):
    """The star-form stopping rule gives the union-find components."""
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _oracle_min(edges)


def test_cc_star_input_converges_in_one_round(spark):
    """A graph already in star form (every leaf points at its
    component's min) is a fixed point after one round; the old
    same-checksum-twice rule needed a second, confirming round."""
    edges = [("b", "a"), ("c", "a"), ("d", "a"), ("y", "x")]
    stats = {}
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.component for r in connected_components(df, stats=stats).collect()}
    assert got == _oracle_min(edges)
    assert stats["cc_rounds"] == 1
    assert stats["cc_edges"] == 4


def test_star_form_test(spark):
    from esmarc_spark.pipeline.canonicalize import _star_form

    def star(edges):
        return _star_form(spark.createDataFrame(edges, "src string, dst string"))

    assert star([]) == (True, 0)
    assert star([("b", "a"), ("c", "a"), ("z", "y")]) == (True, 3)
    assert star([("c", "b"), ("b", "a")]) == (False, 2)  # a dst is a src
    assert star([("c", "a"), ("c", "b")]) == (False, 2)  # two dsts


def test_stored_mapping_reuse_and_gc(spark, tmp_path, cc_calls):
    """The stored map is reused while the normalized edge set is
    unchanged (duplicates, order and self-loops do not count), recomputed
    when it changes, and the superseded map is GC'd after the marker."""
    import os

    from esmarc_spark.pipeline import canonicalize

    root = str(tmp_path / "canonical")

    def mapping(edges):
        df = spark.createDataFrame(edges, "src string, dst string")
        m = canonicalize.stored_canonical_mapping(df, root)
        return {r.uri: r.canonical_uri for r in m.collect()}

    base = [("b", "a"), ("c", "b"), ("y", "z")]
    want = _oracle_min(base)
    assert mapping(base) == want and len(cc_calls) == 1
    first = sorted(os.listdir(root))
    assert mapping(list(reversed(base)) + [("b", "a"), ("q", "q")]) == want
    assert len(cc_calls) == 1 and sorted(os.listdir(root)) == first
    grown = base + [("z", "c")]
    assert mapping(grown) == _oracle_min(grown) and len(cc_calls) == 2
    dirs = [d for d in os.listdir(root) if d != "_FP"]
    assert dirs == [(tmp_path / "canonical" / "_FP").read_text()]
    assert mapping([]) == {} and len(cc_calls) == 3
