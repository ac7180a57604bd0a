"""Traced run: the per-layer metrics of one workload.

Spans are recorded from the benchmark's own files around calls into the
package; nothing inside the package is instrumented. Instruments:

* ``SparkContext.setJobDescription`` around each span, so every Spark job
  is attributed to the span that caused it;
* a local Spark event log (UI off) for per-job CPU, GC, shuffle, spill,
  task counts and the output rows of Python-UDF plan nodes;
* ``QueryPlanningTracker`` phases (analysis, optimization, planning) of
  each DataFrame the benchmark holds, forced before its execution;
* ``CodegenMetrics`` compilation count and time deltas around each span.

Pipeline-axis self times are differences between the noop-sink walls of
successive stage suffixes (see ``Stages``), built from the same public
functions (and, for ``incremental_backfill``, the same curation dict) the
workload calls; build times are the time a public call takes to return;
row counts come from separate actions taken only here. The layer sum that
``trace.layer_sum_ratio`` compares with the traced wall adds the Janino
compile time of the traced operations, which runs on the driver before the
stages it compiles and is absent from the warm stage walls. For
``cold_query_suite`` the layers are the leaves, whose walls make up the
suite wall by construction. End-to-end metrics come from the
untraced runs; ``trace.overhead_ratio`` compares this run's traced wall
with the median untraced wall in the run history for the same code.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from pyspark.sql import functions as F

from common import ROOT, WORK
from workloads import LEAVES, CheckFailed, noop

PER_LAYER = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
STAGE_REPS = 3
# plan nodes that hand rows to Python workers
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def event_dir() -> str:
    path = WORK / "events" / str(os.getpid())
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return str(path)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._compile = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._stack: list[str] = []
        self.spans: list[dict] = []

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile ms) so far in this JVM. The histogram
        keeps every sample until 1028 compilations, which a run stays under."""
        return self._compile.getCount(), float(sum(self._compile.getSnapshot().getValues()))

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        self._stack.append(name)
        self.sc.setJobDescription(name)
        n0, ms0 = self.codegen()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall"] = rec["end"] - rec["start"]
            n1, ms1 = self.codegen()
            rec["codegen_n"], rec["codegen_ms"] = n1 - n0, ms1 - ms0
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    def catalyst_ms(self, df) -> float:
        """Analysis + optimization + planning of ``df``'s own query."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        it = phases.values().iterator()
        total = 0
        while it.hasNext():
            total += it.next().durationMs()
        return float(total)

    def planned_write(self, df) -> float:
        """Catalyst-plan ``df``, then run it through the noop sink; returns
        the planning milliseconds."""
        cat = self.catalyst_ms(df)
        noop(df)
        return cat


def read_event_log(path: str) -> dict[str, dict]:
    """Per job description: jobs, tasks, executor CPU and GC seconds,
    shuffle bytes written, bytes spilled and rows output by Python-UDF
    plan nodes."""
    stage_desc: dict[int, str] = {}
    per: dict[str, dict] = {}
    python_accs: set[int] = set()
    acc_updates: list[tuple[str, int, int]] = []

    def plan_nodes(info):
        yield info
        for child in info.get("children", []):
            yield from plan_nodes(child)

    def bucket(desc):
        return per.setdefault(desc, {
            "jobs": 0, "tasks": 0, "exec_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "python_rows": 0,
        })

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or "-"
                bucket(desc)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_desc[sid] = desc
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                for node in plan_nodes(ev["sparkPlanInfo"]):
                    if PYTHON_NODE.search(node["nodeName"]):
                        python_accs.update(
                            m["accumulatorId"] for m in node["metrics"]
                            if m["name"] == "number of output rows"
                        )
            elif kind == "SparkListenerTaskEnd":
                desc = stage_desc.get(ev["Stage ID"], "-")
                b = bucket(desc)
                b["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                b["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                b["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in ev["Task Info"].get("Accumulables", []):
                    if "Update" in acc:
                        acc_updates.append((desc, acc["ID"], acc["Update"]))
    for desc, acc_id, update in acc_updates:
        if acc_id in python_accs:
            bucket(desc)["python_rows"] += int(update)
    return per


def _sum_exec(per: dict[str, dict], names) -> dict:
    out = {k: 0 for k in ("jobs", "tasks", "exec_cpu_s", "gc_s",
                          "shuffle_write_bytes", "spill_bytes", "python_rows")}
    for name in names:
        for k, v in per.get(name, {}).items():
            out[k] += v
    return out


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _median_wall(fn, reps: int = STAGE_REPS) -> float:
    return statistics.median(_timed(fn) for _ in range(reps))


class Stages:
    """The S1-S5 stages of ``run_pipeline``'s composition over ``part``:
    prepare_docs -> detect_mentions_ngram -> link_mentions
    (-> rewrite_through_canonical) -> linked_to_triples.

    Self times come from suffixes: each stage's output is cached once
    (untimed), and the rest of the pipeline is timed from it through the
    noop sink, so every timed plan has the full pipeline's downstream
    shape. (Noop walls of stage prefixes mislead here: a prefix must
    materialize columns the full plan prunes or fuses away, and with the
    curation gates on, the prepare_docs prefix alone costs several times
    the whole pipeline.) The self times add up to the full wall."""

    NAMES = ("prepare_docs", "mentions", "link", "materialize")

    def __init__(self, part, gaz, curation: dict, cmap=None, pday=None):
        self.part, self.gaz, self.curation = part, gaz, curation
        self.cmap, self.pday = cmap, pday

    def prepare_docs(self):
        from esmarc_spark.pipeline.run import prepare_docs

        return prepare_docs(self.part, **self.curation)

    def mentions(self, docs):
        from esmarc_spark.pipeline.mentions import detect_mentions_ngram

        return detect_mentions_ngram(docs, self.gaz)

    def link(self, mentions, raw: bool = False):
        from esmarc_spark.pipeline.canonicalize import rewrite_through_canonical
        from esmarc_spark.pipeline.link import link_mentions

        ln = link_mentions(mentions, self.gaz)
        if raw or self.cmap is None:
            return ln
        return rewrite_through_canonical(ln, self.cmap, "canonical_url")

    def materialize(self, linked):
        from esmarc_spark.pipeline.materialize import linked_to_triples

        t = linked_to_triples(linked)
        return t if self.pday is None else t.withColumn("pday", self.pday)

    def triples(self):
        return self.materialize(self.link(self.mentions(self.prepare_docs())))

    def measure(self, reps: int = STAGE_REPS) -> tuple[dict[str, float], dict[str, int]]:
        """(self seconds per stage, rows out of each stage)."""
        cached = []

        def keep(df):
            df = df.cache()
            cached.append(df)
            return df

        # each suffix is timed before the next stage is cached: Spark swaps
        # a cached relation into every semantically equal plan
        suffix = [_median_wall(lambda: noop(self.triples()), reps)]
        docs = keep(self.prepare_docs())
        counts = {"web": self.part.count(), "docs": docs.count()}
        suffix.append(_median_wall(
            lambda: noop(self.materialize(self.link(self.mentions(docs)))), reps))
        mentions = keep(self.mentions(docs))
        counts["mentions"] = mentions.count()
        suffix.append(_median_wall(lambda: noop(self.materialize(self.link(mentions))), reps))
        linked = keep(self.link(mentions))
        counts["linked"] = linked.count()
        suffix.append(_median_wall(lambda: noop(self.materialize(linked)), reps))
        counts["triples"] = self.materialize(linked).count()
        if self.cmap is not None:
            raw = self.link(mentions, raw=True)
            moved = self.cmap.where(F.col("uri") != F.col("canonical_uri"))
            counts["rewritten"] = raw.join(moved, raw["canonical_url"] == moved["uri"]).count()
        for df in cached:
            df.unpersist()
        selfs = {
            name: suffix[i] - (suffix[i + 1] if i + 1 < len(suffix) else 0.0)
            for i, name in enumerate(self.NAMES)
        }
        return selfs, counts

    def build_times(self) -> dict[str, float]:
        """Seconds the S2 and S5 calls take to return (plan build only)."""
        docs = self.prepare_docs()
        linked = self.link(self.mentions(docs))
        return {
            "mentions.build_s": _timed(lambda: self.mentions(docs)),
            "materialize.build_s": _timed(lambda: self.materialize(linked)),
        }


def ratios(c: dict) -> dict[str, float]:
    def div(a, b):
        return a / b if b else 0.0

    return {
        "prepare_docs.keep_ratio": div(c["docs"], c["web"]),
        "mentions.rows": c["mentions"],
        "link.hit_ratio": div(c["linked"], c["mentions"]),
        "canonicalize.rewritten_ratio": div(c.get("rewritten", 0), c["linked"]),
        "materialize.triples_per_doc": div(c["triples"], c["docs"]),
    }


# ------------------------------------------------------------ workloads --


def _trace_incremental(tr: Tracer, wl) -> tuple[dict, list[str], float, int]:
    from esmarc_spark.pipeline.canonicalize import canonical_mapping
    from esmarc_spark.pipeline.checkpoint import CheckpointStore
    from esmarc_spark.pipeline.run import run_pipeline

    m = {}
    out = wl._out()
    back_in = wl.webtext.where(F.col("warc_ts") < wl.cutoff)
    with tr.span("backfill") as b:
        backfill = wl._call(back_in, out)
    with tr.span("tail") as t:
        tail = wl._call(wl.webtext, out)
    with tr.span("resume") as r:
        resume = wl._call(wl.webtext, out)
    wl._last = (out, backfill, tail, resume)  # checked (and removed) by verify
    cycle = (b, t, r)
    m["backfill_s"], m["tail_day_s"], m["resume_s"] = (s["wall"] for s in cycle)
    m["codegen_ms"] = sum(s["codegen_ms"] for s in cycle)
    m["codegen_n"] = sum(s["codegen_n"] for s in cycle)

    # S4: run_incremental computes the mapping once per call
    stats = {}

    def cc():
        cm = canonical_mapping(wl.edges, stats=stats).cache()
        cm.count()
        cm.unpersist()

    with tr.span("canonicalize"):
        m["canonicalize.self_s"] = 3 * _median_wall(cc, 2)
    m["canonicalize.cc_rounds"] = stats.get("cc_rounds", 0)
    cmap = canonical_mapping(wl.edges).cache()

    # S1-S5 and the sink over the backfill days and over the new day, in
    # run_pipeline's per-day composition with the same curation
    day_col = F.date_format("warc_ts", "yyyy-MM-dd")
    days = sorted(r[0] for r in back_in.select(day_col).distinct().collect())
    sink_root = WORK / "out" / "trace-sink"
    totals: dict[str, float] = {}
    counts: dict[str, int] = {}
    sink_bytes = sink_files = 0
    for part, pdays in ((back_in, days), (wl.webtext.where(day_col == wl.new_day), [wl.new_day])):
        # the triples are spread over the part's days, so the parquet sink
        # writes as many partitions as run_incremental does
        pday = F.element_at(
            F.array(*[F.lit(d) for d in pdays]),
            (F.pmod(F.xxhash64("subj"), F.lit(len(pdays))) + 1).cast("int"),
        )
        stages = Stages(part, wl.gaz, wl.curation, cmap, pday)

        def write(stages=stages):
            shutil.rmtree(sink_root, ignore_errors=True)
            stages.triples().write.mode("overwrite").partitionBy("pday").parquet(str(sink_root))

        with tr.span("stages"):
            selfs, part_counts = stages.measure()
            selfs["sink"] = _median_wall(write) - _median_wall(lambda s=stages: noop(s.triples()))
        for k, v in selfs.items():
            totals[k] = totals.get(k, 0.0) + v
        for k, v in part_counts.items():
            counts[k] = counts.get(k, 0) + v
        files = list(sink_root.rglob("*.parquet"))
        sink_files += len(files)
        sink_bytes += sum(p.stat().st_size for p in files)
    m.update(Stages(wl.webtext, wl.gaz, wl.curation, cmap).build_times())
    shutil.rmtree(sink_root, ignore_errors=True)
    for k in Stages.NAMES:
        m[f"{k}.self_s"] = totals[k]
    m["sink.write_s"] = totals["sink"]
    m["sink.files"] = sink_files
    m["sink.bytes_per_triple"] = sink_bytes / counts["triples"] if counts["triples"] else 0.0
    m.update(ratios(counts))

    # checkpoint: the pending check of each of the three calls, and the
    # lineage count-back, input stats and record of the two writing calls
    store = CheckpointStore(wl.spark, out)
    partitioned = wl.webtext.withColumn("pday", day_col)
    scratch_root = WORK / "out" / "trace-checkpoint"
    scratch = CheckpointStore(wl.spark, str(scratch_root))

    def pending():
        partitioned.select("pday").distinct().collect()
        store.completed_partitions().collect()

    def write_back():
        written = wl.spark.read.parquet(f"{out}/triples").where(
            F.col("pday").isin(days + [wl.new_day]))
        written.groupBy("pday").agg(F.count("*")).collect()
        partitioned.groupBy("pday").agg(F.count("*"), F.max("warc_ts")).collect()
        scratch.record([{"pday": wl.new_day, "status": "done", "run_id": "trace"}])

    with tr.span("checkpoint"):
        m["checkpoint.s"] = 3 * _median_wall(pending, 2) + 2 * _median_wall(write_back, 2)
    shutil.rmtree(scratch_root, ignore_errors=True)

    # execution axis of the tail day's plan, the one plan the loop path builds
    tail_in = wl.webtext.where(day_col == wl.new_day)
    t0 = time.perf_counter()
    tail_plan = run_pipeline(tail_in, wl.gaz, canonical_map=cmap,
                             source_index=wl.new_day, **wl.curation)
    m["build_s"] = time.perf_counter() - t0
    m["catalyst_ms"] = tr.catalyst_ms(tail_plan)
    cmap.unpersist()
    return m, ["backfill", "tail", "resume"], sum(s["wall"] for s in cycle), 1


def _trace_cold(tr: Tracer, wl) -> tuple[dict, list[str], float, int]:
    m, names = {}, []
    for name in LEAVES + ["webtext_pipeline"]:
        if name == "webtext_pipeline":
            wl.webtext = wl.spark.read.parquet(wl.webtext_path)
            wl.leaf(name).count()  # bench.py's warm-up + size, untimed
        with tr.span(f"q.{name}") as rec:
            t0 = time.perf_counter()
            df = wl.leaf(name)
            build = time.perf_counter() - t0
            cat = tr.planned_write(df)
        m[f"q.{name}.s"] = rec["wall"]
        m[f"q.{name}.build_s"] = build
        m[f"q.{name}.catalyst_ms"] = cat
        m[f"q.{name}.codegen_ms"] = rec["codegen_ms"]
        names.append(f"q.{name}")
    m["build_s"] = sum(m[f"{q}.build_s"] for q in names)
    m["catalyst_ms"] = sum(m[f"{q}.catalyst_ms"] for q in names)
    m["codegen_ms"] = sum(m[f"{q}.codegen_ms"] for q in names)
    m["codegen_n"] = sum(s["codegen_n"] for s in tr.spans)
    return m, names, sum(m[f"{q}.s"] for q in names), 1


TRACERS = {
    "incremental_backfill": _trace_incremental,
    "cold_query_suite": _trace_cold,
}


def untraced_wall(history, workload: str, package: str) -> float | None:
    """Median ``wall_s`` of the untraced runs of this workload on the
    same package build in the run history."""
    walls = []
    if history.exists():
        for line in history.read_text().splitlines():
            e = json.loads(line)
            if (e.get("workload") == workload and e.get("trace") == 0
                    and e.get("package_zip") == package and e.get("correct")):
                walls.append(e["metrics"]["wall_s"]["value"])
    return statistics.median(walls) if walls else None


def run(spark, wl) -> dict:
    """Run ``wl``'s traced procedure; the SparkContext stays up so the
    caller can add run context before stopping it and calling ``finish``."""
    tr = Tracer(spark)
    state = {
        "workload": wl.name,
        "log": os.path.join(
            spark.sparkContext.getConf().get("spark.eventLog.dir").removeprefix("file://"),
            spark.sparkContext.applicationId,
        ),
        "failed": 0,
    }
    try:
        state["m"], state["ops"], state["wall"], state["n_ops"] = TRACERS[wl.name](tr, wl)
        wl.verify()
    except CheckFailed as exc:
        print(f"wrong output: {exc}", file=sys.stderr)
        state["failed"] = state["n_ops"]
    except Exception:  # reported in the result line
        traceback.print_exc()
        state.update(m={}, ops=[], wall=0.0, n_ops=1, failed=1)
    spark.sparkContext.setJobDescription(None)
    t0 = tr.spans[0]["start"] if tr.spans else 0.0
    state["spans"] = [
        {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in tr.spans
    ]
    return state


def finish(state: dict, history, package: str) -> dict:
    """Fold the event log of the stopped context into the traced metrics;
    returns the result line."""
    m, op_names, wall = state["m"], state["ops"], state["wall"]
    per = read_event_log(state["log"])
    shutil.rmtree(os.path.dirname(state["log"]), ignore_errors=True)
    for k, v in _sum_exec(per, op_names).items():
        m[k] = v / state["n_ops"]
    if state["workload"] == "cold_query_suite":
        for q in op_names:
            m[f"{q}.exec_cpu_s"] = per.get(q, {}).get("exec_cpu_s", 0.0)
            m[f"{q}.shuffle_write_bytes"] = per.get(q, {}).get("shuffle_write_bytes", 0)
        layer_sum = sum(m.get(f"{q}.s", 0.0) for q in op_names)
    else:
        layer_sum = m.get("codegen_ms", 0.0) / 1e3 + sum(
            m.get(p["name"], 0.0) for p in PER_LAYER
            if p["name"].endswith(".self_s") or p["name"] in ("sink.write_s", "checkpoint.s")
        )
    m["trace.wall_s"] = wall
    m["trace.layer_sum_ratio"] = layer_sum / wall if wall else 0.0
    base = untraced_wall(history, state["workload"], package)
    m["trace.overhead_ratio"] = wall / base - 1.0 if base and wall else 0.0
    metrics = {p["name"]: {"value": float(m.get(p["name"], 0.0)), "unit": p["unit"]}
               for p in PER_LAYER}
    return {"correct": state["failed"] == 0, "attempted": state["n_ops"],
            "failed": state["failed"], "metrics": metrics}
