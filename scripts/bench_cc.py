"""Connected-components benchmark: old round-1 action cadence (eager
checkpoint every 3 rounds, convergence checksum EVERY round — each
checksum re-executes the un-checkpointed lineage as a second job) vs the
current cadence (eager checkpoint every round, then the star-form test on
the cached round). Same synthetic edge set, fresh session per variant.

Usage: python scripts/bench_cc.py [n_edges] [cpus]
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from esmarc_spark.session import get_spark
from esmarc_spark.pipeline import canonicalize as C

variant = sys.argv[1]; n_edges = int(sys.argv[2]); cpus = int(sys.argv[3])
spark = get_spark(f"cc-{{variant}}", cpus=cpus)
spark.sparkContext.setLogLevel("ERROR")

# deterministic synthetic sameAs graph: uri-shaped strings, chain+star mix
e = (
    spark.range(0, n_edges, 1, cpus * 2)
    .select(
        F.concat(F.lit("https://d-nb.info/gnd/"),
                 (F.col("id") % 300000).cast("string")).alias("src"),
        F.concat(F.lit("https://viaf.org/viaf/"),
                 ((F.col("id") * 48271 + 11) % 300000).cast("string")).alias("dst"),
    )
)
e.write.mode("overwrite").parquet(f"/tmp/cc_edges_{{n_edges}}")
edges = spark.read.parquet(f"/tmp/cc_edges_{{n_edges}}")

def checksum(e):
    # the round-1 convergence test: (edge count, order-independent hash)
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return row["n"], str(row["h"])

def old_cc(edges, max_iter=20, checkpoint_every=3):
    # round-1 loop shape (canonicalize.py@round1): checksum every round
    e = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    prev = None
    for i in range(max_iter):
        e = C._small_star(C._large_star(e))
        if (i + 1) % checkpoint_every == 0:
            e = e.localCheckpoint(eager=True)
        cur = checksum(e)
        if cur == prev:
            break
        prev = cur
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return members.union(roots).distinct()

fn = C.connected_components if variant == "new" else old_cc
t0 = time.time()
n = fn(edges).count()
sec = time.time() - t0
print(json.dumps({{"variant": variant, "n_edges": n_edges, "cpus": cpus,
                   "nodes": n, "sec": round(sec, 2)}}))
spark.stop()
"""


def _run(variant: str, n_edges: int, cpus: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _WORKER.format(repo=str(REPO)), variant,
         str(n_edges), str(cpus)],
        capture_output=True, text=True, timeout=1800,
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(out.stderr[-3000:])


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    old = _run("old", n_edges, cpus)
    new = _run("new", n_edges, cpus)
    assert old["nodes"] == new["nodes"], (old, new)
    print(json.dumps({
        "old_sec": old["sec"], "new_sec": new["sec"], "nodes": old["nodes"],
        "speedup": round(old["sec"] / new["sec"], 3),
        "n_edges": n_edges, "cpus": cpus,
    }))


if __name__ == "__main__":
    main()
