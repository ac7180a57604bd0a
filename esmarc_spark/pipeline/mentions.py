"""S2 — gazetteer mention detection over text, in Arrow batches.

Semantics analogue: the reference's get_mentions builds typed mention nodes
from already-structured 6xx fields (/root/reference/esmarc/classifications.py:54-152);
over webtext the structure is gone, so the detector finds gazetteer surface
forms in free text and S3 re-attaches the typed node via a broadcast join.

Two interchangeable physical strategies:

* ``detect_mentions`` — one compiled alternation regex (longest-match-first,
  word-boundary anchored) applied per Arrow batch in a pandas UDF. Scales
  with gazetteer size ~10^5 surface forms; the pattern ships to executors
  once per task via closure capture (Spark broadcasts the serialized UDF).
  Handles multi-word surface forms ("Frankfurt am Main").

* ``detect_mentions_tokenized`` — pure-JVM path: split/explode/join. No
  Python at all, but single-token surface forms only. Used as the
  cross-engine oracle (its plan is directly expressible in ANSI SQL).

Both return one row per mention occurrence:
    url, surface_form, position (0-based char offset), lang
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MENTIONS_SCHEMA = "url string, surface_form string, position long, lang string"


def _compile_pattern(surface_forms: list[str]) -> re.Pattern:
    # longest first so "Frankfurt am Main" wins over "Frankfurt"
    ordered = sorted(set(surface_forms), key=lambda s: (-len(s), s))
    body = "|".join(re.escape(s) for s in ordered)
    return re.compile(rf"(?<!\w)(?:{body})(?!\w)")


# compiled-alternation cache, keyed by a digest of the surface list:
# python workers are reused across tasks (spark.python.worker.reuse), so
# each worker compiles the (potentially huge) pattern once per DISTINCT
# gazetteer — repeated detect_mentions calls over the same gazetteer hit
# the same entry (round-3 keyed it by a per-call uuid, which could never
# hit and leaked one mega-pattern per call). Bounded LRU: a long-lived
# worker holds at most _REGEX_CACHE_MAX compiled patterns.
_REGEX_CACHE: dict[str, re.Pattern] = {}
_REGEX_CACHE_MAX = 4


def _cached_pattern(cache_key: str, surfaces: list[str]) -> re.Pattern:
    pattern = _REGEX_CACHE.pop(cache_key, None)
    if pattern is None:
        pattern = _compile_pattern(surfaces)
    _REGEX_CACHE[cache_key] = pattern  # re-insert = move to MRU end
    while len(_REGEX_CACHE) > _REGEX_CACHE_MAX:
        _REGEX_CACHE.pop(next(iter(_REGEX_CACHE)))
    return pattern


def detect_mentions(webtext: DataFrame, surface_forms: list[str]) -> DataFrame:
    """Pandas-UDF scan: (url, text, lang) -> exploded mention rows.

    NOT the hot path, and it ANTI-SCALES at high thread counts: the
    per-row Python ``finditer`` loop makes Python workers compete with
    the JVM for cores (round-1 measurement — throughput DROPPED going
    8->32 local threads). It exists only for exact char-offset /
    word-boundary semantics (punctuation-adjacent matches) that the
    token n-gram join cannot express. The pipeline always runs the JVM
    join path (``detect_mentions_ngram``); this scan serves as a parity
    reference in the tests.

    The gazetteer ships as a SparkContext broadcast variable (torrent
    distribution, once per executor) rather than a closure capture that
    would ride every task; the compiled pattern is memoized per python
    worker keyed by gazetteer content."""
    import hashlib

    sc = webtext.sparkSession.sparkContext
    surfaces = sorted(set(surface_forms))
    bc = sc.broadcast(surfaces)
    digest = hashlib.md5()
    for s in surfaces:
        digest.update(s.encode())
        digest.update(b"\x00")
    cache_key = digest.hexdigest()

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pattern = _cached_pattern(cache_key, bc.value)
        for pdf in batches:
            urls, surfaces, positions, langs = [], [], [], []
            for url, text, lang in zip(pdf["url"], pdf["text"], pdf["lang"]):
                if not text:
                    continue
                for m in pattern.finditer(text):
                    urls.append(url)
                    surfaces.append(m.group(0))
                    positions.append(m.start())
                    langs.append(lang)
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype="object"),
                    "surface_form": pd.Series(surfaces, dtype="object"),
                    "position": pd.Series(positions, dtype="int64"),
                    "lang": pd.Series(langs, dtype="object"),
                }
            )

    return webtext.select("url", "text", "lang").mapInPandas(
        scan, schema=MENTIONS_SCHEMA
    )


def _tokens_base(webtext: DataFrame, extra_cols: tuple[str, ...]) -> DataFrame:
    # [^\p{L}\p{N}_] instead of \W: Java's \W is ASCII-only, which silently
    # strips edge umlauts/accents ("Österreich" -> "sterreich") and breaks
    # Unicode surface forms; \p{L}/\p{N} are Unicode-aware in both Java
    # regex and RE2, keeping the JVM path aligned with the Python regex
    # detector (whose \w IS Unicode-aware)
    _nw = r"[^\p{L}\p{N}_]+"
    toks = F.split(F.regexp_replace(F.col("text"), f"(^{_nw}|{_nw}$)", ""), " ")
    clean = F.transform(toks, lambda t: F.regexp_replace(t, f"(^{_nw}|{_nw}$)", ""))
    return webtext.where(F.col("text").isNotNull()).select(
        "url", "lang", *extra_cols, clean.alias("_toks")
    )


def _positions(anchor_tokens: list[str] | None = None) -> F.Column:
    """1-based candidate start positions over _toks; with ``anchor_tokens``
    only positions whose token can START a surface form survive (the cheap
    per-token test that avoids building n-gram strings at every position)."""
    arr = F.col("_toks")
    size = F.size(arr)
    pos = F.when(size >= 1, F.sequence(F.lit(1), size)).otherwise(
        F.array().cast("array<int>")
    )
    if anchor_tokens is not None:
        pos = F.filter(pos, lambda i: F.element_at(arr, i).isin(*anchor_tokens))
    return pos


BLOOM_COL = "_anchor_bloom"
_BLOOM_WORD_BITS = 62  # bits packed per long; top 2 bits unused so every
#                        word and every 2^k divisor stays positive


def _bloom_build(surf_df: DataFrame, n_tok0: int) -> tuple[DataFrame, int]:
    """Single-row DataFrame carrying an ``array<bigint>`` Bloom bitmap
    (62 bits packed per word) over the gazetteer's DISTINCT first tokens,
    plus the filter size in bits (a power of 2). ~24 slots/key, single
    hash -> ~4% false positives; false negatives are impossible, so the
    downstream exact broadcast join sees every true candidate. One small
    job collects the set slot positions (<= n_tok0 longs) — never the
    token strings.

    The bitmap reaches the corpus as a broadcast single-row cross join
    (see detect_mentions_ngram), NOT as a plan literal: probing a large
    literal is a measured trap — a '0'/'1' STRING costs an O(m) UTF8
    position scan per probe, and a BINARY literal is implicitly cast
    right back to string by substring. element_at on a broadcast-attached
    array column is a true O(1) read, and the packed words keep the
    broadcast at m/62 longs (~2 MB for 10^6 first tokens)."""
    # cap keeps h int-addressable; past ~45M distinct first tokens the
    # false-positive rate degrades gracefully instead of overflowing
    m_bits = 1 << min(30, max(13, (24 * max(n_tok0, 1) - 1).bit_length()))
    tok0 = F.split("surface_form", " ")[0]
    # packed words folded JVM-side (bit_or partial-aggregates map-side,
    # and is idempotent so no distinct pass is needed): the driver
    # collects at most m_bits/62 longs regardless of gazetteer
    # cardinality — round 3 collected one row per SET BIT instead
    b = F.xxhash64(tok0).bitwiseAND(F.lit(m_bits - 1))
    word_rows = (
        surf_df.select(
            (b / _BLOOM_WORD_BITS).cast("int").alias("w"),
            F.element_at(
                _pow2(), F.pmod(b, F.lit(_BLOOM_WORD_BITS)).cast("int") + 1
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    words = [0] * ((m_bits + _BLOOM_WORD_BITS - 1) // _BLOOM_WORD_BITS)
    for r in word_rows:
        words[r["w"]] = r["word"]
    bloom_df = surf_df.sparkSession.createDataFrame(
        [(words,)], f"{BLOOM_COL} array<bigint>"
    )
    return bloom_df, m_bits


def _pow2() -> F.Column:
    """2^0 .. 2^62 — a 63-element literal array, the variable-offset bit
    test's stand-in for shiftright (whose shift amount must be a Python
    int). Built lazily: Column construction needs an active context."""
    return F.array(*[F.lit(1 << k) for k in range(_BLOOM_WORD_BITS + 1)])


def _bloom_test(m_bits: int, token: F.Column) -> F.Column:
    """Row-local Bloom membership against the broadcast ``BLOOM_COL``
    array: xxhash64 -> word via O(1) element_at -> bit via exact integer
    pmod against a tiny power-of-two lookup. Pure JVM expressions — no
    Python, no per-probe join, no shuffle, no gazetteer strings (or big
    literals) in the plan."""
    p2 = _pow2()
    h = F.xxhash64(token).bitwiseAND(F.lit(m_bits - 1))
    word = F.element_at(
        F.col(BLOOM_COL), (h / _BLOOM_WORD_BITS).cast("int") + 1
    )
    off = F.pmod(h, F.lit(_BLOOM_WORD_BITS)).cast("int")
    return F.pmod(word, F.element_at(p2, off + 2)) >= F.element_at(
        p2, off + 1
    )


def _gram_structs(lengths: list[int], positions: F.Column) -> F.Column:
    """Array of (position, n_toks, surface_form) structs — one candidate
    n-gram per start position per gazetteer length, nulls filtered."""
    arr = F.col("_toks")
    size = F.size(arr)

    def gram_at(i, n: int) -> F.Column:
        gram = F.concat_ws(
            " ", *[F.element_at(arr, (i + j).cast("int")) for j in range(n)]
        )
        return F.when(
            size - (i - 1) >= n,
            F.struct(
                (i - 1).cast("long").alias("position"),
                F.lit(n).alias("n_toks"),
                gram.alias("surface_form"),
            ),
        )

    grams = F.flatten(
        F.transform(positions, lambda i: F.array(*[gram_at(i, n) for n in lengths]))
    )
    return F.filter(grams, lambda g: g.isNotNull())


def _fold_leftmost_longest(candidates: F.Column) -> F.Column:
    """Strict leftmost-longest (regex finditer) semantics over a candidate
    array: sort by (position asc, length desc) — a total order, (position,
    n_toks) is unique per doc — then fold with a consumed-until cursor; a
    match is kept iff it starts at or after the end of the previously kept
    match. All later-start overlapping matches are dropped."""
    ordered = F.array_sort(
        candidates,
        lambda a, b: F.when(a.position < b.position, F.lit(-1))
        .when(a.position > b.position, F.lit(1))
        .when(a.n_toks > b.n_toks, F.lit(-1))
        .when(a.n_toks < b.n_toks, F.lit(1))
        .otherwise(F.lit(0)),
    )
    empty_kept = F.array().cast(
        "array<struct<position:bigint,n_toks:int,surface_form:string>>"
    )
    return F.aggregate(
        ordered,
        F.struct(F.lit(-1).cast("long").alias("consumed"), empty_kept.alias("kept")),
        lambda acc, g: F.when(
            g.position >= acc.consumed,
            F.struct(
                (g.position + g.n_toks).cast("long").alias("consumed"),
                F.concat(acc.kept, F.array(g)).alias("kept"),
            ),
        ).otherwise(acc),
        lambda acc: acc.kept,
    )


# --- driver-side plan-construction caches (round 8) -------------------------
#
# Profiling the webtext pipeline showed ~0.45s of its per-call BUILD time
# going to (a) the gazetteer strategy probe — `surf_df.head(...)`, a small
# Spark job per call — and (b) re-constructing the inline candidate/fold
# Column trees (hundreds of sequential py4j round trips). Both are pure
# functions of the gazetteer CONTENT, so repeated calls over the same
# gazetteer (the bench loop, the per-day incremental loop, streaming
# micro-batches) can reuse them. Nothing here caches DATA of the corpus —
# only the dim probe result and unresolved expression trees.
#
# The probe cache is keyed by the gazetteer DataFrame OBJECT (held
# strongly, so an id can never be recycled into a stale hit); the Column
# cache is keyed by the probed surface set itself.

_GAZ_PROBE_CACHE: dict = {}
_FOLD_COL_CACHE: dict = {}


def _probe_gazetteer(surf_df: DataFrame, gazetteer: DataFrame, limit: int):
    """head(limit) over the distinct surfaces, memoized per gazetteer
    DataFrame object + limit."""
    try:
        key = (gazetteer, limit)
        hit = _GAZ_PROBE_CACHE.get(key)
        if hit is None:
            hit = surf_df.head(limit)
            _GAZ_PROBE_CACHE[key] = hit
            while len(_GAZ_PROBE_CACHE) > 16:
                _GAZ_PROBE_CACHE.pop(next(iter(_GAZ_PROBE_CACHE)))
        return hit
    except TypeError:  # unhashable DataFrame subclass: probe uncached
        return surf_df.head(limit)


def _inline_folded_column(surface_key: tuple, lengths_key: tuple) -> F.Column:
    """The inline path's anchor->grams->membership->fold Column, memoized
    by (surface set, lengths) — an unresolved expression tree over the
    `_toks` column, safely reusable across DataFrames and sessions."""
    hit = _FOLD_COL_CACHE.get((surface_key, lengths_key))
    if hit is None:
        anchor_tokens = sorted({sf.split(" ")[0] for sf in surface_key})
        grams = _gram_structs(list(lengths_key), _positions(anchor_tokens))
        candidates = F.filter(
            grams, lambda g: g.surface_form.isin(*surface_key)
        )
        hit = _fold_leftmost_longest(candidates)
        _FOLD_COL_CACHE[(surface_key, lengths_key)] = hit
        while len(_FOLD_COL_CACHE) > 16:
            _FOLD_COL_CACHE.pop(next(iter(_FOLD_COL_CACHE)))
    return hit


def detect_mentions_ngram(
    webtext: DataFrame,
    gazetteer: DataFrame,
    max_n: int | None = None,
    extra_cols: tuple[str, ...] = (),
    max_inline_surfaces: int = 4096,
    anchor_prefilter: bool = True,
) -> DataFrame:
    """JVM-only multi-word gazetteer scan: token n-grams ⋈ broadcast(surfaces).

    The production hot path (input_hint: no Python in the hot path). Two
    physical strategies, picked by gazetteer size:

    * inline (≤ ``max_inline_surfaces``, and always for streaming input,
      where append mode forbids the join path's groupBy): anchor-token
      ``isin`` prefilter (n-grams built only at positions whose token can
      START a surface form — no string concat elsewhere), in-array
      surface-set membership, in-array leftmost-longest fold. Zero extra
      shuffles; plan literals bounded by the threshold.

    * join (anything larger — the 10^5–10^6-surface gazetteers the north
      star implies, where inlined literal sets are a plan-size/driver
      hazard): candidate start positions are first pruned by a pure-codegen
      Bloom filter over the gazetteer's distinct FIRST tokens (the join
      path's rendering of the inline path's anchor-token ``isin`` — without
      it, gram construction costs corpus_tokens x |lengths| string concats
      at every position); surviving n-grams are exploded and membership is
      decided exactly by a broadcast hash join (plan size independent of
      gazetteer cardinality — the bitmap is one opaque binary literal); the
      leftmost-longest fold then re-groups per document — a shuffle
      carrying ONLY matched mentions, never the corpus.

    Both produce identical results (strict regex-finditer overlap
    semantics, see ``_fold_leftmost_longest``).

    position = token index of the first token of the match.
    """
    surf_df = gazetteer.select("surface_form").distinct()
    # ONE action probes the gazetteer: up to threshold+1 rows decide the
    # strategy AND give the inline path its surface set (streaming always
    # inlines, so it collects everything)
    if webtext.isStreaming:
        # the direct streaming rendering must inline (append mode forbids
        # the join path's groupBy) — but inlining a LARGE gazetteer is the
        # exact plan-size/driver hazard the join path exists to avoid, so
        # refuse instead of silently reintroducing it; the foreachBatch
        # runner (pipeline.streaming.run_page_triples_foreach_batch) runs
        # the Bloom+broadcast-join batch path per micro-batch
        head = _probe_gazetteer(surf_df, gazetteer, max_inline_surfaces + 1)
        if len(head) > max_inline_surfaces:
            raise ValueError(
                "streaming input with a gazetteer larger than "
                f"max_inline_surfaces={max_inline_surfaces} would inline "
                "every surface form into the plan; use "
                "esmarc_spark.pipeline.streaming.run_page_triples_foreach_batch "
                "(per-micro-batch join path) for large gazetteers"
            )
        use_inline = True
    else:
        head = _probe_gazetteer(surf_df, gazetteer, max_inline_surfaces + 1)
        use_inline = len(head) <= max_inline_surfaces

    if use_inline:
        surface_set = sorted(r["surface_form"] for r in head)
        lengths = sorted({len(sf.split(" ")) for sf in surface_set})
    else:
        # one small agg collects the distinct token-count SET (a handful
        # of ints) plus the first-token cardinality that sizes the bloom
        row = (
            surf_df.select(
                F.size(F.split("surface_form", " ")).alias("n"),
                F.split("surface_form", " ")[0].alias("t0"),
            )
            .agg(
                F.collect_set("n").alias("ns"),
                F.count_distinct("t0").alias("n0"),
            )
            .collect()[0]
        )
        lengths = sorted(row["ns"])
        n_tok0 = row["n0"]
    if max_n is not None:
        lengths = [n for n in lengths if n <= max_n]
    if not lengths:
        # empty gazetteer -> empty mentions with a stable schema, derived
        # from the INPUT frame so a streaming caller gets a streaming frame
        # (a createDataFrame([]) here would break the downstream writeStream)
        return webtext.where(F.lit(False)).select(
            F.col("url"),
            F.lit(None).cast("string").alias("surface_form"),
            F.lit(None).cast("long").alias("position"),
            F.col("lang"),
            *extra_cols,
        )

    base = _tokens_base(webtext, extra_cols)

    if use_inline:
        folded = _inline_folded_column(tuple(surface_set), tuple(lengths))
        return base.select(
            "url", "lang", *extra_cols, F.explode(folded).alias("g")
        ).select(
            "url",
            F.col("g.surface_form").alias("surface_form"),
            F.col("g.position").alias("position"),
            "lang",
            *extra_cols,
        )

    pos = _positions()
    if anchor_prefilter:
        # the bitmap rides a broadcast single-row cross join (no shuffle,
        # no plan literal); positions whose token fails the first-token
        # Bloom never build a gram
        bloom_df, m_bits = _bloom_build(surf_df, n_tok0)
        base = base.crossJoin(F.broadcast(bloom_df))
        arr = F.col("_toks")
        pos = F.filter(
            pos, lambda i: _bloom_test(m_bits, F.element_at(arr, i))
        )
    grams = _gram_structs(lengths, pos)
    candidates = base.select(
        "url", "lang", *extra_cols, F.explode(grams).alias("g")
    ).select(
        F.col("g.surface_form").alias("surface_form"),
        "url",
        "lang",
        *extra_cols,
        F.col("g.position").alias("position"),
        F.col("g.n_toks").alias("n_toks"),
    )
    # broadcast hash join = the gazetteer membership test; never shuffles
    # the candidate (fact) side and inlines nothing into the plan
    matched = candidates.join(F.broadcast(surf_df), "surface_form")

    # collect_list order is nondeterministic, but the fold sorts first with
    # a total-order comparator, so the result is deterministic
    per_doc = matched.groupBy("url", "lang", *extra_cols).agg(
        F.collect_list(F.struct("position", "n_toks", "surface_form")).alias("_c")
    )
    folded = _fold_leftmost_longest(F.col("_c"))
    return per_doc.select(
        "url", "lang", *extra_cols, F.explode(folded).alias("g")
    ).select(
        "url",
        F.col("g.surface_form").alias("surface_form"),
        F.col("g.position").alias("position"),
        "lang",
        *extra_cols,
    )


def detect_mentions_tokenized(webtext: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """JVM-only token path: posexplode(split(text)) ⋈ broadcast(gazetteer).

    The whole plan stays in whole-stage codegen; the broadcast join never
    shuffles the fact side. Punctuation is stripped from token edges so
    sentence-final forms still match.
    """
    tokens = webtext.select(
        "url",
        "lang",
        F.posexplode(F.split(F.col("text"), " ")).alias("position", "raw_token"),
    ).withColumn(
        "token",
        F.regexp_replace("raw_token", r"^[^\p{L}\p{N}_]+|[^\p{L}\p{N}_]+$", ""),
    )
    surfaces = gazetteer.select("surface_form").distinct()
    return (
        tokens.join(
            F.broadcast(surfaces), tokens.token == surfaces.surface_form, "inner"
        )
        .select("url", "surface_form", F.col("position").cast("long"), "lang")
    )
