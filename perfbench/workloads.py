"""The workloads: set-up, one closed-loop operation, output checks.

Each workload object is bound to one Spark session. ``setup`` opens the
readers and warms the JVM up (JIT, codegen cache, file cache); ``op``
performs one closed-loop operation and returns its timings; ``verify``
recomputes the operation's output outside the timed region and checks it.

Output checks: for the seeds listed in ``pins.json`` the row count and an
order-independent hash are pinned; any other seed is checked against
invariants that hold for every seed.
"""

from __future__ import annotations

import json
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from common import BENCH, SPEC, WORK

PINS = json.loads((BENCH / "pins.json").read_text())

# bench.py's ten query leaves in its order; webtext_pipeline is the 11th
LEAVES = [
    "kg_triples",
    "kg_entity_counts",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "events_sessions",
    "text_stats",
    "dedup_lsh_pairs",
    "dedup_simhash",
    "sim_topk",
]
TRIPLE_PREDS = {"@type", "mentions", "isBasedOn", "sameAs", "preferredName"}


class CheckFailed(Exception):
    pass


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _row_hash(df: DataFrame) -> F.Column:
    return F.xxhash64(F.to_json(F.struct(*df.columns))).cast("decimal(38,0)")


def digest(df: DataFrame) -> tuple[int, str]:
    """(rows, order-independent hash) of a DataFrame's rows."""
    row = df.agg(
        F.count("*").alias("n"), F.coalesce(F.sum(_row_hash(df)), F.lit(0)).alias("h")
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def check_pin(workload: str, seed: int, key: str, value) -> None:
    pinned = PINS.get(workload, {}).get(str(seed), {}).get(key)
    if pinned is not None and pinned != value:
        raise CheckFailed(f"{key}: got {value}, pinned {pinned}")


def check_triples(
    triples: DataFrame, workload: str, seed: int, n_pages_expected: int | None = None
) -> dict:
    """Pin-free invariants of an S5 triple set plus the seed's pins, in
    one pass; returns the row count and hash."""
    row = triples.agg(
        F.count("*").alias("n"),
        F.count_distinct(*triples.columns).alias("n_distinct"),
        F.count(
            F.when(
                F.col("subj").isNull() | F.col("pred").isNull() | F.col("obj").isNull(),
                1,
            )
        ).alias("n_null"),
        F.count(F.when(F.col("pred") == "isBasedOn", 1)).alias("n_pages"),
        F.collect_set("pred").alias("preds"),
        F.coalesce(F.sum(_row_hash(triples)), F.lit(0)).alias("h"),
    ).collect()[0]
    if row["n"] == 0:
        raise CheckFailed("no triples")
    if row["n_null"]:
        raise CheckFailed(f"{row['n_null']} triples with a null field")
    if row["n_distinct"] != row["n"]:
        raise CheckFailed(f"{row['n'] - row['n_distinct']} duplicate triples")
    if not set(row["preds"]) <= TRIPLE_PREDS:
        raise CheckFailed(f"unexpected predicates {sorted(row['preds'])}")
    if n_pages_expected is not None and row["n_pages"] != n_pages_expected:
        raise CheckFailed(
            f"{row['n_pages']} pages with triples, expected {n_pages_expected}"
        )
    check_pin(workload, seed, "triples", int(row["n"]))
    check_pin(workload, seed, "hash", str(row["h"]))
    return {"triples": int(row["n"]), "hash": str(row["h"])}


def curation() -> dict:
    from esmarc_spark.pipeline import run

    cur = dict(SPEC["workloads"]["incremental_backfill"]["curation"])
    cur["repetition_thresholds"] = getattr(run, cur["repetition_thresholds"])
    return cur


class IncrementalBackfill:
    name = "incremental_backfill"
    verify_each = True
    single_pass = False

    def __init__(self, spark, inputs: dict, seed: int):
        from esmarc_spark.pipeline.webtext import gazetteer_df

        from gen import INCREMENTAL_T0

        self.spark, self.seed = spark, seed
        self.sizes = SPEC["workloads"][self.name]["sizes"]
        self.paths = inputs["paths"]
        self.gaz = gazetteer_df(spark)
        self.webtext = spark.read.parquet(self.paths["webtext"])
        self.edges = spark.read.parquet(self.paths["edges"])
        self.curation = curation()
        days = self.sizes["days"]
        # the backfill sees the first `days` days; the tail adds the last
        self.cutoff = F.timestamp_seconds(F.lit(INCREMENTAL_T0 + days * 86400))
        self.new_day = time.strftime(
            "%Y-%m-%d", time.gmtime(INCREMENTAL_T0 + days * 86400)
        )
        self.n_cycle = 0

    def _out(self) -> str:
        self.n_cycle += 1
        out = WORK / "out" / f"{self.name}-{self.n_cycle}"
        shutil.rmtree(out, ignore_errors=True)
        return str(out)

    def _call(self, webtext: DataFrame, out: str, edges: DataFrame | None = None) -> dict:
        from esmarc_spark.pipeline.run import run_incremental

        return run_incremental(
            self.spark, webtext, self.gaz, out,
            same_as_edges=self.edges if edges is None else edges,
            curation=self.curation,
        )

    def setup(self) -> None:
        # one backfill-shaped call on small inputs: warms the batch path
        # and S4; the tail's loop path still compiles in the first cycle
        warm = self.spark.read.parquet(self.paths["warmup"])
        edges = self.spark.read.parquet(self.paths["warmup_edges"])
        out = self._out()
        self._call(warm.where(F.col("warc_ts") < self.cutoff), out, edges)
        shutil.rmtree(out, ignore_errors=True)

    def op(self) -> dict:
        out = self._out()
        t0 = time.perf_counter()
        backfill = self._call(self.webtext.where(F.col("warc_ts") < self.cutoff), out)
        t1 = time.perf_counter()
        tail = self._call(self.webtext, out)
        t2 = time.perf_counter()
        resume = self._call(self.webtext, out)
        t3 = time.perf_counter()
        self._last = (out, backfill, tail, resume)
        return {
            "wall": t3 - t0,
            "backfill_s": t1 - t0,
            "tail_day_s": t2 - t1,
            "resume_s": t3 - t2,
        }

    def verify(self) -> dict:
        """Checks the cycle ``op`` just ran, then removes its output."""
        from esmarc_spark.pipeline.checkpoint import CheckpointStore

        out, backfill, tail, resume = self._last
        try:
            if len(backfill["processed"]) != self.sizes["days"]:
                raise CheckFailed(f"backfill processed {backfill['processed']}")
            if tail["processed"] != [self.new_day]:
                raise CheckFailed(f"tail processed {tail['processed']}")
            if resume["processed"]:
                raise CheckFailed(f"resume processed {resume['processed']}")
            written = self.spark.read.parquet(f"{out}/triples")
            lineage = CheckpointStore(self.spark, out).read()
            n_lineage = lineage.agg(F.sum("n_triples")).collect()[0][0]
            got = check_triples(
                written.withColumn("pday", F.col("pday").cast("string")),
                self.name, self.seed,
            )
            if n_lineage != got["triples"]:
                raise CheckFailed(
                    f"lineage n_triples {n_lineage} != written {got['triples']}"
                )
            return got
        finally:
            shutil.rmtree(out, ignore_errors=True)


class ColdQuerySuite:
    name = "cold_query_suite"
    verify_each = False
    single_pass = True

    def __init__(self, spark, inputs: dict, seed: int):
        import __spark_entry__ as entrymod
        from esmarc_spark.pipeline.webtext import gazetteer_df

        self.spark, self.seed = spark, seed
        self.entry = entrymod
        self.qs = entrymod.queries()
        self.sf = inputs["paths"]["sf_dir"]
        self.gaz = gazetteer_df(spark)
        self.webtext_path = inputs["paths"]["webtext"]

    def setup(self) -> None:
        for table in ("documents", "lineitem", "orders", "customer", "nation",
                      "region", "events", "embeddings"):
            self.entry._t(self.spark, self.sf, table)
        noop(self.qs["kg_triples"](self.spark, self.sf))

    def leaf(self, name: str) -> DataFrame:
        if name == "webtext_pipeline":
            from esmarc_spark.pipeline.run import run_pipeline

            return run_pipeline(self.webtext, self.gaz)
        return self.qs[name](self.spark, self.sf)

    def op(self) -> dict:
        """One pass of bench.py's first-execution protocol."""
        times = {}
        for name in LEAVES:
            t0 = time.perf_counter()
            noop(self.leaf(name))
            times[name] = time.perf_counter() - t0
        self.webtext = self.spark.read.parquet(self.webtext_path)
        self.leaf("webtext_pipeline").count()  # bench.py's warm-up + size, untimed
        t0 = time.perf_counter()
        noop(self.leaf("webtext_pipeline"))
        times["webtext_pipeline"] = time.perf_counter() - t0
        return {"wall": sum(times.values()), "leaves": times}

    def verify(self) -> dict:
        out = {}
        for name in LEAVES + ["webtext_pipeline"]:
            rows, h = digest(self.leaf(name))
            if rows == 0:
                raise CheckFailed(f"{name}: no rows")
            check_pin(self.name, self.seed, f"{name}.rows", rows)
            check_pin(self.name, self.seed, f"{name}.hash", h)
            out[name] = [rows, h]
        pipeline = check_triples(
            self.leaf("webtext_pipeline"), self.name, self.seed,
            SPEC["workloads"][self.name]["sizes"]["webtext_docs"],
        )
        return {"triples": pipeline["triples"], "leaves": out}


WORKLOAD_CLASSES = {c.name: c for c in (IncrementalBackfill, ColdQuerySuite)}
