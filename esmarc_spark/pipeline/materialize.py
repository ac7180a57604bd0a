"""S5 — the one triple emitter: (subj, pred, obj) JSON-LD triples from
linked mention rows.

Emitted graph (reference-parity vocabulary — mentions / sameAs / @type /
preferredName / isBasedOn, cf. the reference's esmarc.py and id.py):

  page node   subj = url, or doc://<doc_id> over the documents table
      (page, "@type", "http://schema.org/CreativeWork")
      (page, "mentions", <entity @id>)            one per distinct (page, entity)
      (page, "isBasedOn", <source partition uri>) provenance, when a source is given
  entity node subj = minted "{TARGET_ID}{entity_type}/{authority_id}"
      (entity, "@type", schema.org class)
      (entity, "sameAs", authority URI)           the linking edge
      (entity, "preferredName", deterministic min surface form)

``shape_table`` states these shapes once. ``_emit_triples`` serves every
batch caller — ``linked_to_triples`` (run_pipeline and the per-day loop),
the one-job backfill (``run._folded_docs_to_triples``), ``doc_triples``
and ``crawl_pipeline`` — which differ only in grouping keys, page key and
subject, isBasedOn source and sameAs object. The streaming page triples
(``streaming._docs_to_page_triples``) read their two stateless shapes
from the same table. The only aggregation is a min() — skew-immune
partial agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esmarc_spark.lookups.dims import TARGET_ID

SCHEMA_CLASS = {
    "persons": "http://schema.org/Person",
    "organizations": "http://schema.org/Organization",
    "geo": "http://schema.org/Place",
    "topics": "http://schema.org/Thing",
    "works": "http://schema.org/CreativeWork",
    "events": "http://schema.org/Event",
    "resources": "http://schema.org/CreativeWork",
}


def entity_id_col() -> F.Column:
    return F.concat(
        F.lit(TARGET_ID), F.col("entity_type"), F.lit("/"), F.col("authority_id")
    )


def shape_table(
    subj: F.Column, source: F.Column | None, same_as: F.Column
) -> dict[tuple[str, str], F.Column]:
    """(grain, pred) -> obj for every shape the engine emits. A grain is
    the relation a shape is read from: ``page`` (one row per page),
    ``pair`` (one row per (page, entity)) or ``entity`` (one row per
    entity, carrying the min surface as ``_name``). ``subj`` is the page
    subject; ``source`` the isBasedOn partition (None: no provenance
    shape); ``same_as`` the sameAs object over the entity columns."""
    table = {("page", "@type"): F.lit("http://schema.org/CreativeWork")}
    if source is not None:
        table["page", "isBasedOn"] = F.concat(
            F.lit(f"{TARGET_ID}source/"), source, F.lit("/"), subj
        )
    classes = F.create_map(*[F.lit(x) for kv in SCHEMA_CLASS.items() for x in kv])
    table["pair", "mentions"] = entity_id_col()
    table["entity", "@type"] = classes[F.col("entity_type")]
    table["entity", "sameAs"] = same_as
    table["entity", "preferredName"] = F.col("_name")
    return table


def _fan_out(
    rel: DataFrame, subj: F.Column, shapes: list[tuple], keys: tuple = ()
) -> DataFrame:
    """Scan an aggregated relation ONCE and fan its triple shapes out via
    an in-row explode — per-shape selects would re-run the distinct /
    groupBy shuffle once per shape (measured: 6 scans + 5 shuffles for
    the same triple set); a single shape is a plain select. ``keys``
    rides extra partition columns through."""
    if len(shapes) == 1:
        ((pred, obj),) = shapes
        return rel.select(
            *keys, subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj")
        )
    po = F.explode(
        F.array(
            *[
                F.struct(F.lit(pred).alias("pred"), obj.alias("obj"))
                for pred, obj in shapes
            ]
        )
    )
    return rel.select(*keys, subj.alias("subj"), po.alias("_po")).select(
        *keys, "subj", F.col("_po.pred").alias("pred"), F.col("_po.obj").alias("obj")
    )


def _emit_triples(
    mentions: DataFrame,
    keys: tuple[str, ...] = (),
    page: str = "url",
    subj: F.Column | None = None,
    source: F.Column | None = None,
    same_as: F.Column | None = None,
) -> DataFrame:
    """Mention rows -> the full triple set, columns (*keys, subj, pred,
    obj). ``keys`` are extra grouping keys (the backfill's ``pday``), so
    the output is, per key value, the triple set of that slice alone.
    ``page`` is the page key and ``subj`` its subject (default: the key
    itself; computing it after the aggregate keeps a long page key as
    the shuffle key). ``same_as`` defaults to the linker's
    ``canonical_url``, which then rides the entity grouping keys — it is
    functionally dependent on (entity_type, authority_id).

    One partial-agg pass collapses the mention rows to the distinct
    (keys, page, entity) relation, carrying the per-pair min surface so
    the entity aggregate derives from it without a second pass (min of
    per-page mins == global min), and the lazy localCheckpoint
    materializes THAT small relation once for its three consumers.

    No outer distinct: every grain is internally distinct (pages come out
    of a distinct, the pair grain IS the groupBy's output grain, entities
    come out of a groupBy) and shapes cannot collide across grains
    (mentions is pair-only; page and entity rows split on their subject,
    a page url or doc:// id vs a minted TARGET_ID entity id) — a global
    distinct would shuffle every triple for nothing, which at 10^12 docs
    is the single biggest avoidable shuffle. tests/test_triple_emitter.py
    pins this for every caller."""
    subj = F.col(page) if subj is None else subj
    entity = ("entity_type", "authority_id")
    if same_as is None:
        entity += ("canonical_url",)
        same_as = F.col("canonical_url")
    pairs = (
        mentions.groupBy(*keys, page, *entity)
        .agg(F.min("surface_form").alias("_s"))
        .localCheckpoint(eager=False)
    )
    grains = {
        "page": (pairs.select(*keys, page).distinct(), subj),
        "pair": (pairs, subj),
        "entity": (
            pairs.groupBy(*keys, *entity).agg(F.min("_s").alias("_name")),
            entity_id_col(),
        ),
    }
    table = shape_table(subj, source, same_as)
    page_rows, pair_rows, entity_rows = (
        _fan_out(rel, s, [(p, o) for (g, p), o in table.items() if g == grain], keys)
        for grain, (rel, s) in grains.items()
    )
    return page_rows.unionAll(pair_rows).unionAll(entity_rows)


def linked_to_triples(linked: DataFrame, source_index: str = "webtext") -> DataFrame:
    """Linked mention rows -> the full triple set, with isBasedOn
    provenance under ``source_index``."""
    return _emit_triples(linked, source=F.lit(source_index))


def sink_triples(
    triples: DataFrame,
    target: str,
    fmt: str = "parquet",
    partition_col: str | None = "pday",
    mode: str = "append",
) -> None:
    """Materialize the triple set (north_star: 'emits (subj, pred, obj)
    JSON-LD triples to Iceberg').

    fmt="iceberg": DataSourceV2 ``writeTo(<catalog.table>)`` append —
    requires an Iceberg catalog on the session (spark.sql.catalog.* +
    iceberg-spark-runtime jars; not present in this sandbox, and the v1
    session catalog rejects DataFrameWriterV2 writes, so the branch is
    executed on real clusters only — its wiring is syntax-verified with
    a mocked catalog in tests/test_sinks.py). Idempotent re-runs use
    ``overwritePartitions()`` instead of append.

    fmt="parquet" (the sandbox stand-in and the tested path): partitioned
    parquet with dynamic partition overwrite — operationally equivalent
    semantics (partition-atomic replace) without the catalog."""
    if fmt == "iceberg":
        w = triples.writeTo(target)
        if mode == "overwrite_partitions":
            w.overwritePartitions()
        else:
            w.append()
        return
    writer = triples.write.mode(
        "overwrite" if mode == "overwrite_partitions" else mode
    )
    if partition_col and partition_col in triples.columns:
        spark = triples.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        writer = writer.partitionBy(partition_col)
    writer.parquet(target)
