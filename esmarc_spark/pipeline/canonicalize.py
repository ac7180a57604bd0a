"""S4 — canonicalization: connected components over sameAs edges.

Generalizes the reference's cross-authority sameAs chains (GND ↔ K10Plus ↔
wikidata …, /root/reference/esmarc/sameAs.py + enrichment bots) into a
dataset-level dedup: every clique of sameAs-linked URIs collapses to one
canonical id, defined as the lexicographic min URI of the component
(FIXTURES.md §4).

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC'14) expressed purely as DataFrame
joins/aggregations — O(log n) rounds, each round a groupBy + join, no
driver-side state beyond the star-form test. This is the standard
shuffle-friendly CC for graphs too large for GraphX/GraphFrames pregel
state, and it inherits AQE skew splitting for the giant-component hub.

Convergence: the loop stops as soon as one aggregate over a round's
edges shows star form — every ``src`` has exactly one ``dst`` and no
``dst`` is also a ``src``. Each round's edges point large -> small, so
a star's centre is its component's min, and star form is a fixed point
of large-star followed by small-star — a test that waits for two equal
rounds would only spend one more round confirming it.

Iteration state is checkpointed via localCheckpoint every round to cut
the growing lineage (otherwise each round re-plans the whole history).

Stored map (``stored_canonical_mapping``): the uri -> canonical dim is
written once per distinct sameAs graph under ``<root>/<fp>/``, where
``fp`` fingerprints the normalized edge set (row count plus two
order-independent 64-bit hash sums). ``<root>/_FP`` names the current
map and is published with ``fsio.write_text_atomic`` as the commit
point; older maps are GC'd after it. A later call whose fingerprint
equals ``_FP`` reads the stored map instead of recomputing CC; a crash
before the marker only means the next call recomputes.

Measured non-win (round 1): a variant that hashed node URIs to int64 before
iterating (narrower shuffles; lexicographic-min canonical recovered by one
final aggregation) was ~35% SLOWER at 1M edges/300k nodes — the extra
dim-build + pre/post joins cost more than the narrower rows saved. Revisit
only with realistically long URIs (>50 bytes) at >>10^7 edges.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esmarc_spark.pipeline import fsio


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's min neighborhood."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    mins = mins.withColumn("_m", F.least(F.col("src"), F.col("_mn"))).drop("_mn")
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small, then connect each node's smaller
    neighborhood (and itself) to the neighborhood min."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("_m"))
    nbrs = oriented.join(mins, "src").select(
        F.col("dst").alias("node"), F.col("_m")
    )
    selfs = mins.select(F.col("src").alias("node"), F.col("_m"))
    return (
        nbrs.union(selfs)
        .where(F.col("node") != F.col("_m"))
        .select(F.col("node").alias("src"), F.col("_m").alias("dst"))
        .distinct()
    )


def _normalized(edges: DataFrame) -> DataFrame:
    """The edge set CC starts from: non-null, no self-loops, distinct."""
    return (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_form(edges: DataFrame) -> tuple[bool, int]:
    """(edges are in star form, edge count) from one aggregate.

    Per node: ``out`` = edges leaving it, ``deg`` = edges touching it.
    Star form fails exactly at a node that is a ``src`` (out > 0) and
    touches any other edge (deg > 1): a second ``dst``, or an edge
    entering it."""
    per_node = (
        edges.select(F.col("src").alias("node"), F.lit(1).alias("out"))
        .union(edges.select(F.col("dst").alias("node"), F.lit(0).alias("out")))
        .groupBy("node")
        .agg(F.sum("out").alias("out"), F.count("*").alias("deg"))
    )
    row = per_node.agg(
        F.coalesce(F.sum("out"), F.lit(0)).alias("n"),
        F.count(F.when((F.col("out") > 0) & (F.col("deg") > 1), 1)).alias("bad"),
    ).collect()[0]
    return row["bad"] == 0, row["n"]


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """(src, dst) string edges -> (node, component) with component = min uri.

    Deterministic, idempotent; converges in O(log n) alternating rounds
    and stops at the first round whose edges are in star form (see the
    module docstring). ``max_iter`` only bounds a runaway loop.

    Action cadence (measured, scripts/bench_cc.py @ 1M edges/16 cores):
    each star scans its input relation TWICE (the symmetrized/oriented set
    feeds both the per-node min aggregate and the join), so un-checkpointed
    lineage recomputes ~2^(2k) subtrees after k lazy rounds — checkpointing
    every 3rd round measured 82s, every 2nd 16s, EVERY round 7.4s. The
    eager localCheckpoint materializes the round once, and the star-form
    test then scans cached partitions instead of re-running shuffles.
    (On a real cluster swap localCheckpoint for a reliable checkpoint dir
    if executor loss during the iteration must be survivable.)
    """
    return _components(_normalized(edges), max_iter, stats)


def _components(
    e: DataFrame, max_iter: int = 20, stats: dict | None = None
) -> DataFrame:
    """The CC rounds over an already normalized edge set; every CC,
    public or stored, runs through here."""
    rounds = n_edges = 0
    for rounds in range(1, max_iter + 1):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        star, n_edges = _star_form(e)
        if star:
            break
    if stats is not None:
        # observability for scale benches: rounds actually run and the
        # converged edge count
        stats["cc_rounds"] = rounds
        stats["cc_edges"] = n_edges
    # in star form every edge points node -> component min
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return members.union(roots).distinct()


def _as_mapping(cc: DataFrame) -> DataFrame:
    return cc.select(F.col("node").alias("uri"), F.col("component").alias("canonical_uri"))


def canonical_mapping(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """(uri -> canonical_uri) dim, identity rows included for roots."""
    return _as_mapping(connected_components(edges, stats=stats))


def _fingerprint(edges: DataFrame) -> str:
    """Order-independent fingerprint of a normalized edge set: the row
    count and two independently seeded xxhash64 sums (decimal(38,0):
    ANSI-safe, no long overflow), digested into a directory name."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("h1"),
        F.coalesce(
            F.sum(F.xxhash64(F.lit("fp"), "src", "dst").cast("decimal(38,0)")),
            F.lit(0),
        ).alias("h2"),
    ).collect()[0]
    key = f"{row['n']}:{row['h1']}:{row['h2']}"
    return hashlib.sha256(key.encode("utf-8")).hexdigest()[:32]


def stored_canonical_mapping(edges: DataFrame, root: str) -> DataFrame:
    """``canonical_mapping(edges)``, stored under ``root`` and reused by
    every later call with the same normalized edge set (protocol in the
    module docstring). The result is a lazy read of the stored map."""
    e = _normalized(edges).localCheckpoint(eager=False)
    fp = _fingerprint(e)
    path = fsio.join(root, fp)
    marker = fsio.join(root, "_FP")
    if fsio.read_text(marker) != fp:
        # the rounds start from the checkpointed e: no second distinct
        _as_mapping(_components(e)).write.mode("overwrite").parquet(path)
        fsio.write_text_atomic(marker, fp)
        for name in fsio.list_child_dirs(root, ""):
            if name != fp:
                fsio.delete_dir(fsio.join(root, name))
    return edges.sparkSession.read.schema(
        "uri string, canonical_uri string"
    ).parquet(path)


def rewrite_through_canonical(
    df: DataFrame, mapping: DataFrame, column: str
) -> DataFrame:
    """Rewrite a URI column through the canonical dim (left join + coalesce;
    identity when the uri is in no component).

    No forced broadcast: the uri->canonical dim grows with the number of
    linked entities, so at scale it can exceed any broadcast threshold. AQE
    picks broadcast when the dim is actually small at runtime and falls back
    to a shuffle join (with skew splitting) when it isn't."""
    m = mapping.withColumnRenamed("uri", column)
    return (
        df.join(m, column, "left")
        .withColumn(column, F.coalesce("canonical_uri", column))
        .drop("canonical_uri")
    )
