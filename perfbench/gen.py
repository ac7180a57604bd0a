"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size: rows are built
from ``spark.range`` with every random choice keyed off
``xxhash64(row id, seed, salt)``, never off RNG state or time, so the same
(seed, size) always produces the same rows, whatever the partitioning.
Each dataset is materialized once as parquet under the benchmark's work
directory and reused by later runs with the same (seed, size); the program
under test only ever reads those files.

``content_hash`` is an order-independent digest of a materialized dataset
(row count plus the decimal sum of per-row xxhash64 of every column), so a
re-generation can be checked against the digest recorded in the run
history.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# day 0 of the incremental corpus (2024-01-01T00:00:00Z)
INCREMENTAL_T0 = 1_704_067_200


def _h(col, seed: int, salt: int):
    return F.abs(F.xxhash64(col, F.lit(seed), F.lit(salt)))


def content_hash(df: DataFrame) -> str:
    """Order-independent digest: sha256 of (rows, sum of row hashes)."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return hashlib.sha256(f"{row['n']}:{row['h']}".encode()).hexdigest()[:16]


class NotGenerated(Exception):
    """Raised when a dataset is not on disk yet and no session was given."""


def _materialize(
    spark: SparkSession | None, root: str, tables: dict[str, callable]
) -> tuple[dict[str, str], str]:
    """Write each table to ``root/<name>`` unless a completed copy exists;
    return (paths, combined content hash). A ``_MANIFEST`` written last
    marks a complete dataset, so a run killed mid-write regenerates."""
    manifest = os.path.join(root, "_MANIFEST")
    paths = {name: os.path.join(root, name) for name in tables}
    if os.path.exists(manifest):
        with open(manifest) as f:
            return paths, json.load(f)["hash"]
    if spark is None:
        raise NotGenerated(root)
    shutil.rmtree(root, ignore_errors=True)
    hashes = {}
    for name, build in tables.items():
        build().write.mode("overwrite").parquet(paths[name])
        hashes[name] = content_hash(spark.read.parquet(paths[name]))
    combined = hashlib.sha256(
        json.dumps(hashes, sort_keys=True).encode()
    ).hexdigest()[:16]
    with open(manifest, "w") as f:
        json.dump({"hash": combined, "tables": hashes}, f)
    return paths, combined


# ---------------------------------------------------------------- webtext --


def webtext_corpus(
    spark: SparkSession | None, work: str, seed: int, n_docs: int, days: int = 0
) -> tuple[str, str]:
    """``synth_webtext(seed=…)`` materialized as parquet: a Zipf head entity
    in ~30% of docs, 2% duplicate urls, 1/3 html-only rows. With ``days``
    > 0 the crawl timestamps are re-spread over ``days`` consecutive UTC
    days (day picked by a hash of the url, so a duplicate url lands on the
    same day as its original) for the incremental workload."""
    from esmarc_spark.pipeline.webtext import synth_webtext

    def build() -> DataFrame:
        df = synth_webtext(spark, n_docs=n_docs, partitions=8, seed=seed)
        if days:
            day = _h(F.col("url"), seed, 11) % days
            second = _h(F.col("url"), seed, 12) % 86400
            df = df.withColumn(
                "warc_ts",
                F.timestamp_seconds(F.lit(INCREMENTAL_T0) + day * 86400 + second),
            )
        return df

    root = os.path.join(work, f"webtext-s{seed}-n{n_docs}-d{days}")
    paths, digest = _materialize(spark, root, {"webtext": build})
    return paths["webtext"], digest


# ---------------------------------------------------------------- sameAs --


def same_as_graph(
    spark: SparkSession | None, work: str, seed: int, n_edges: int
) -> tuple[str, str]:
    """Seeded chain-and-star sameAs graph over ``gnd/<int>`` uris.

    Half the edges form chains of 3 nodes (2 edges each, the shape of an
    authority cross-walk such as GND -> VIAF -> Wikidata), half form stars
    of one hub and 4 leaves. The first node of every other chain is a
    gazetteer ``canonical_url``, so those components join real linked
    entities: when the component's lexicographic-min uri is a random id,
    canonicalization rewrites that entity's sameAs object. Edges built
    only from random ids would rewrite nothing."""
    from esmarc_spark.lookups.dims import AUTHORITY_PREFIXES
    from esmarc_spark.pipeline.webtext import GAZETTEER_ROWS

    gnd = AUTHORITY_PREFIXES["(DE-588)"]["@id"]
    gaz_urls = sorted({gnd + a.upper() for _, _, p, a in GAZETTEER_ROWS})

    def node(comp, pos):
        gaz = F.array(*[F.lit(u) for u in gaz_urls])
        rand = F.concat(
            F.lit(gnd),
            (F.abs(F.xxhash64(comp, pos, F.lit(seed), F.lit(21))) % 1_000_000_000)
            .cast("string"),
        )
        joined = F.element_at(gaz, (F.floor(comp / 4) % len(gaz_urls) + 1).cast("int"))
        return F.when((comp % 4 == 0) & (pos == 0), joined).otherwise(rand)

    def build() -> DataFrame:
        half = n_edges // 2
        chains = spark.range(0, half, 1, 8).select(
            (F.col("id") / 2).cast("long").alias("comp"),
            (F.col("id") % 2).alias("pos"),
        ).select(
            node(F.col("comp") * 2, F.col("pos")).alias("src"),
            node(F.col("comp") * 2, F.col("pos") + 1).alias("dst"),
        )
        stars = spark.range(0, n_edges - half, 1, 8).select(
            (F.col("id") / 4).cast("long").alias("comp"),
            (F.col("id") % 4 + 1).alias("pos"),
        ).select(
            node(F.col("comp") * 2 + 1, F.lit(0)).alias("src"),
            node(F.col("comp") * 2 + 1, F.col("pos")).alias("dst"),
        )
        return chains.unionByName(stars)

    root = os.path.join(work, f"sameas-c3-s{seed}-e{n_edges}")
    paths, digest = _materialize(spark, root, {"edges": build})
    return paths["edges"], digest


# ---------------------------------------------------- query-suite tables --

_VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "the", "join", "vector", "customer",
]
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _pick(values: list[str], col) -> F.Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (col % len(values) + 1).cast("int"))


def _ts_ntz(start_epoch: int, offset_s) -> F.Column:
    # the repository's testdata tables carry zone-less timestamps (session tz is UTC)
    return F.timestamp_seconds(F.lit(start_epoch) + offset_s).cast("timestamp_ntz")


def query_tables(
    spark: SparkSession | None, work: str, seed: int, scale: float = 0.1
) -> tuple[str, str]:
    """The tables the cold query suite reads, with the schema and row
    counts of the TPC-H-ish testdata tables (TESTDATA.md) at ``scale`` (sf0.1:
    600k lineitem, 150k orders, 15k customers, 100k events, 5k documents,
    2k embeddings). Documents are word salad over a 30-word vocabulary
    that includes the KG gazetteer words; ~5% are near-duplicates of
    their predecessor (copy plus a trailing ``dup`` token), so the dedup
    leaves have pairs to find."""
    n_li = int(6_000_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_cust = int(150_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = int(20_000 * scale)
    i = F.col("id") if spark is not None else None  # columns need a live session

    def region():
        return spark.range(0, 5, 1, 1).select(
            i.cast("int").alias("r_regionkey"), _pick(_REGIONS, i).alias("r_name")
        )

    def nation():
        return spark.range(0, 25, 1, 1).select(
            i.cast("int").alias("n_nationkey"),
            F.concat(F.lit("NATION"), i.cast("string")).alias("n_name"),
            (i % 5).cast("int").alias("n_regionkey"),
        )

    def customer():
        return spark.range(0, n_cust, 1, 4).select(
            i.alias("c_custkey"),
            F.format_string("Customer#%09d", i).alias("c_name"),
            (_h(i, seed, 31) % 25).cast("int").alias("c_nationkey"),
            ((_h(i, seed, 32) % 1_100_000 - 100_000) / 100.0).alias("c_acctbal"),
            _pick(_SEGMENTS, _h(i, seed, 33)).alias("c_mktsegment"),
        )

    def orders():
        return spark.range(0, n_ord, 1, 4).select(
            i.alias("o_orderkey"),
            (_h(i, seed, 41) % n_cust).alias("o_custkey"),
            _pick(["F", "O", "P"], _h(i, seed, 42)).alias("o_orderstatus"),
            ((_h(i, seed, 43) % 50_000_000 + 90_000) / 100.0).alias("o_totalprice"),
            _ts_ntz(694_224_000, _h(i, seed, 44) % 2_400 * 86_400)
            .alias("o_orderdate"),
            _pick(_PRIORITIES, _h(i, seed, 45)).alias("o_orderpriority"),
        )

    def lineitem():
        qty = (_h(i, seed, 54) % 50 + 1).cast("double")
        return spark.range(0, n_li, 1, 4).select(
            (_h(i, seed, 51) % n_ord).alias("l_orderkey"),
            (_h(i, seed, 52) % (n_cust * 4 // 3)).alias("l_partkey"),
            (_h(i, seed, 53) % (n_cust // 15)).alias("l_suppkey"),
            (i % 7 + 1).cast("int").alias("l_linenumber"),
            qty.alias("l_quantity"),
            (qty * ((_h(i, seed, 55) % 200_000 + 90_000) / 100.0)).alias(
                "l_extendedprice"
            ),
            ((_h(i, seed, 56) % 11) / 100.0).alias("l_discount"),
            ((_h(i, seed, 57) % 9) / 100.0).alias("l_tax"),
            _pick(["A", "N", "R"], _h(i, seed, 58)).alias("l_returnflag"),
            _pick(["F", "O"], _h(i, seed, 59)).alias("l_linestatus"),
            _ts_ntz(694_224_000, _h(i, seed, 60) % 3_600 * 86_400)
            .alias("l_shipdate"),
        )

    def events():
        return spark.range(0, n_ev, 1, 4).select(
            i.alias("event_id"),
            _ts_ntz(1_704_067_200, _h(i, seed, 61) % (30 * 86_400)).alias("ts"),
            (_h(i, seed, 62) % (n_ev // 66)).alias("user_id"),
            _pick(_EVENT_TYPES, _h(i, seed, 63)).alias("event_type"),
            ((_h(i, seed, 64) % 50_000) / 100.0).alias("value"),
            F.format_string('{"k": %d}', _h(i, seed, 65) % 100).alias("props"),
        )

    def documents():
        # near-dup rows re-use their predecessor's token draws
        base = F.when(_h(i, seed, 71) % 20 == 0, F.greatest(i - 1, F.lit(0))).otherwise(i)
        n_tok = (_h(base, seed, 72) % 90 + 10).cast("int")
        words = F.transform(
            F.sequence(F.lit(1), n_tok),
            lambda k: F.element_at(
                F.array(*[F.lit(w) for w in _VOCAB]),
                (F.abs(F.xxhash64(base, k, F.lit(seed), F.lit(73))) % len(_VOCAB) + 1)
                .cast("int"),
            ),
        )
        text = F.concat(
            F.array_join(words, " "),
            F.when(base != i, F.lit(" dup")).otherwise(F.lit("")),
        )
        return spark.range(0, n_doc, 1, 1).select(
            i.alias("doc_id"),
            text.alias("text"),
            _pick(_LANGS, _h(i, seed, 74)).alias("lang"),
            F.concat(F.lit("src"), (_h(i, seed, 75) % 20).cast("string")).alias("source"),
            F.length(text).cast("long").alias("n_chars"),
        )

    def embeddings():
        vec = F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda k: (
                (F.abs(F.xxhash64(i, k, F.lit(seed), F.lit(81))) % 20_001 - 10_000)
                / 30_000.0
            ).cast("float"),
        )
        return spark.range(0, n_emb, 1, 1).select(
            i.alias("vec_id"),
            vec.alias("embedding"),
            (_h(i, seed, 82) % 5).cast("int").alias("label"),
        )

    tables = {
        "region": region, "nation": nation, "customer": customer,
        "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }
    root = os.path.join(work, f"tables-s{seed}-sf{scale}")
    # the query suite reads "<sf_dir>/<name>.parquet"
    tables = {f"{k}.parquet": v for k, v in tables.items()}
    _, digest = _materialize(spark, root, tables)
    return root, digest


# ---------------------------------------------------------- per workload --


def workload_inputs(spark: SparkSession | None, workload: str, seed: int) -> dict:
    """Paths and content hash of every input ``workload`` reads at
    ``seed``; generates missing datasets when ``spark`` is given, raises
    ``NotGenerated`` otherwise."""
    from common import SPEC, WORK

    sizes = SPEC["workloads"][workload]["sizes"]
    work = str(WORK / "data")
    paths, hashes = {}, []
    if workload == "incremental_backfill":
        days = sizes["days"] + 1
        paths["webtext"], h1 = webtext_corpus(spark, work, seed, sizes["docs"], days)
        paths["warmup"], h2 = webtext_corpus(
            spark, work, seed, sizes["warmup_docs"], days
        )
        paths["edges"], h3 = same_as_graph(spark, work, seed, sizes["edges"])
        paths["warmup_edges"], h4 = same_as_graph(
            spark, work, seed, sizes["warmup_edges"]
        )
        hashes = [h1, h2, h3, h4]
    elif workload == "cold_query_suite":
        paths["sf_dir"], h1 = query_tables(spark, work, seed, sizes["scale"])
        paths["webtext"], h2 = webtext_corpus(spark, work, seed, sizes["webtext_docs"])
        hashes = [h1, h2]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    digest = hashlib.sha256("|".join(hashes).encode()).hexdigest()[:16]
    return {"paths": paths, "hash": digest}


def main() -> int:
    """Generate (or find) a workload's inputs in a process of its own, so
    the measured driver JVM never carries the generator's heap or JIT
    state. Prints the inputs as one JSON line."""
    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    from common import adopt_orphans, end_processes, prepare_env, start_spark

    adopt_orphans()
    prepare_env()
    try:
        spark = start_spark("perfbench-gen")
        print(json.dumps(workload_inputs(spark, args.workload, args.seed)), flush=True)
    finally:
        end_processes()
    return 0


if __name__ == "__main__":
    sys.exit(main())
