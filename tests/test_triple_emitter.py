"""The one triple emitter (pipeline.materialize) skips the outer distinct
on a disjointness argument: every grain is internally distinct and shapes
cannot collide across grains. Pin it for every caller: the emitted row
count equals its distinct count."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

GOLDEN = Path(__file__).resolve().parent / "golden"


def _run_pipeline(spark, tmp_path):
    from esmarc_spark.pipeline.run import run_pipeline
    from esmarc_spark.pipeline.webtext import gazetteer_df, synth_webtext

    webtext = synth_webtext(spark, n_docs=300, partitions=4)
    return run_pipeline(webtext, gazetteer_df(spark))


def _backfill(spark, tmp_path):
    from esmarc_spark.pipeline.run import run_incremental
    from esmarc_spark.pipeline.webtext import gazetteer_df, synth_webtext

    webtext = synth_webtext(spark, n_docs=120, partitions=4).withColumn(
        "warc_ts",
        F.timestamp_seconds(
            F.lit(1700000000) + F.pmod(F.xxhash64("url"), F.lit(3)) * 86400
        ),
    )
    root = str(tmp_path / "backfill")
    summary = run_incremental(
        spark, webtext, gazetteer_df(spark), root, mode="batch"
    )
    assert len(summary["processed"]) == 3
    return spark.read.parquet(summary["out"])


def _doc_triples(spark, tmp_path):
    from esmarc_spark.ops.kg_documents import doc_triples

    # repeated mentions per doc, a synonym pair (sort/order) and an
    # ambiguous surface (scan) — the shapes a missing dedup would repeat
    documents = spark.createDataFrame(
        [
            (1, "spark join spark sort order scan"),
            (2, "scan scan table hash spark"),
            (3, "window stream vector merge customer order"),
            (4, "nothing to see here"),
        ],
        "doc_id long, text string",
    )
    return doc_triples(documents)


def _crawl(spark, tmp_path):
    from esmarc_spark.ops.crawl import crawl_pipeline

    return crawl_pipeline(spark, str(GOLDEN / "realcrawl.warc.gz"))


@pytest.mark.parametrize(
    "emit", [_run_pipeline, _backfill, _doc_triples, _crawl],
    ids=["run_pipeline", "backfill", "doc_triples", "crawl_pipeline"],
)
def test_emitted_triples_are_distinct(spark, tmp_path, emit):
    triples = emit(spark, tmp_path)
    rows = triples.count()
    assert rows > 0
    assert rows == triples.distinct().count()
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert {"@type", "mentions", "sameAs", "preferredName"} <= preds
