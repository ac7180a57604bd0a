"""The benchmark's generators are pure functions of (seed, size).

Run from the root of a checkout:  python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import WORK, end_processes, prepare_env, start_spark  # noqa: E402

import gen  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    prepare_env()
    spark = start_spark("perfbench-test")
    yield spark
    end_processes()


@pytest.fixture
def roots():
    base = WORK / "test-gen"
    shutil.rmtree(base, ignore_errors=True)
    yield [str(base / name) for name in ("a", "b", "c")]
    shutil.rmtree(base, ignore_errors=True)


GENERATORS = {
    "webtext": lambda spark, root, seed: gen.webtext_corpus(spark, root, seed, 600, days=3),
    "same_as": lambda spark, root, seed: gen.same_as_graph(spark, root, seed, 400),
    "tables": lambda spark, root, seed: gen.query_tables(spark, root, seed, scale=0.001),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_hash(spark, roots, name):
    make = GENERATORS[name]
    _, first = make(spark, roots[0], 7)
    _, again = make(spark, roots[1], 7)
    _, other = make(spark, roots[2], 8)
    assert first == again
    assert first != other


def test_cached_dataset_reports_its_hash(spark, roots):
    path, digest = gen.same_as_graph(spark, roots[0], 3, 400)
    assert gen.same_as_graph(None, roots[0], 3, 400) == (path, digest)
    with pytest.raises(gen.NotGenerated):
        gen.same_as_graph(None, roots[1], 3, 400)


def test_same_as_graph_joins_gazetteer(spark, roots):
    from esmarc_spark.pipeline.webtext import gazetteer_df

    path, _ = gen.same_as_graph(spark, roots[0], 5, 400)
    edges = spark.read.parquet(path)
    urls = gazetteer_df(spark).select("canonical_url").distinct()
    joined = edges.join(urls, edges["src"] == urls["canonical_url"]).count()
    assert joined > 0
