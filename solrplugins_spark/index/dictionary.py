"""Packed-tier term dictionary: the serve-tier entry points for
spellcheck, suggesters and /terms enumeration.

At 100-TB scale the serve tier holds ONLY the packed segment index —
there is no flat ``InvertedIndex.terms`` frame to join against. The
dictionary the reference's spellchecker and suggesters read from
Lucene's term FST (DiceDirectSolrSpellChecker.java:80-98 configures a
DirectSpellChecker against the index terms; DiceSuggester.java:141-145
builds a HighFrequencyDictionary from a field's terms) lives here in
the termstats sidecar that ``build_segments`` already writes: one
``(term, df, cf)`` parquet per generation, range-partitioned and
sorted by term, so every file is a disjoint term range and a prefix
predicate prunes at file/row-group granularity.

The surfaces below read that sidecar into a frame shaped exactly like
``InvertedIndex.terms`` and reuse the flat implementations unchanged
(``spellcheck_suggest`` / ``canonical_suggest`` /
``high_frequency_dictionary`` / ``terms_enum`` only touch ``.terms``
and ``.n_docs``), so flat and packed tiers are rank-identical by
construction — the DuckDB oracles that gate the flat surfaces gate
these too.

Statistics semantics match Lucene: df/cf are build-time values that
IGNORE tombstones until compaction purges them (Lucene's docFreq also
counts deleted docs until merge), and multi-generation dictionaries
sum df/cf across generations because generations hold disjoint doc
sets — the same driver-side summing contract ``_prepare_boolean``
uses for query-time idf.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .segments import _as_gens


@dataclass(frozen=True)
class TermsDictionary:
    """Duck-type stand-in for ``InvertedIndex`` where only the term
    dictionary is needed: ``spellcheck_suggest``,
    ``build_spell_ngram_index`` and ``high_frequency_dictionary`` read
    nothing but ``.terms`` and ``.n_docs``, so they accept this
    unchanged — one implementation serves both tiers."""

    terms: DataFrame  # (term, df, cf) — cf NULL on pre-cf sidecars
    n_docs: int  # maxDoc semantics: tombstones counted until compaction


def sidecar_terms(
    spark: SparkSession, seg_index, prefixes: list[str] | None = None
) -> DataFrame:
    """``(term, df, cf)`` from the termstats sidecar(s) of a packed
    index or generation list.

    ``prefixes``: optional term prefixes. The filter is applied inside
    each generation's scan, so Catalyst pushes
    ``Or(StringStartsWith(term, p), ...)`` into the parquet reader —
    and because the sidecar files are disjoint sorted term ranges,
    only the row groups covering the prefix ranges are decoded
    (asserted by tests/test_dictionary.py's scan-metric check). A
    spellcheck or suggest request therefore reads O(its prefix
    buckets) of the dictionary, never the vocabulary.

    Multi-generation: df/cf sum across generations (disjoint doc
    sets); the groupBy only exists on the multi-gen path — a single
    generation's sidecar is already unique per term, no shuffle."""
    gens = _as_gens(seg_index)
    frames = []
    for _, si in gens:
        t = spark.read.parquet(os.path.join(si.path, "termstats"))
        if "cf" not in t.columns:  # pre-cf sidecar
            t = t.withColumn("cf", F.lit(None).cast("long"))
        t = t.select("term", "df", "cf")
        if prefixes:
            cond = F.col("term").startswith(prefixes[0])
            for p in prefixes[1:]:
                cond = cond | F.col("term").startswith(p)
            t = t.filter(cond)
        frames.append(t)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    if len(frames) > 1:
        # cf must stay "unknown" (NULL) when ANY generation holding
        # the term predates the cf sidecar — sum() skips NULLs, which
        # would serve a partial count indistinguishable from a real
        # total, so gate the sum on every contributing row having cf
        out = out.groupBy("term").agg(
            F.sum("df").alias("df"),
            F.when(F.count(F.lit(1)) == F.count("cf"), F.sum("cf"))
            .otherwise(F.lit(None).cast("long"))
            .alias("cf"),
        )
    return out


def packed_dictionary(
    spark: SparkSession, seg_index, prefixes: list[str] | None = None
) -> TermsDictionary:
    """The packed tier's ``InvertedIndex.terms``-shaped dictionary
    plus its corpus size — the object every flat dictionary surface
    consumes."""
    gens = _as_gens(seg_index)
    return TermsDictionary(
        terms=sidecar_terms(spark, seg_index, prefixes=prefixes),
        n_docs=sum(si.n_docs for _, si in gens),
    )


def wand_terms_enum(
    spark: SparkSession,
    seg_index,
    prefix: str = "",
    limit: int = 10,
    sort: str = "count",
    min_count: int = 1,
) -> DataFrame:
    """Solr TermsComponent (``/terms``) over the PACKED tier: same
    semantics and output as ``query.components.terms_enum`` on the
    flat frame, but the dictionary is the prefix-pruned termstats
    sidecar — the scan reads only the sidecar row groups whose term
    range overlaps the prefix, then TakeOrderedAndProject."""
    from ..query.components import enum_terms

    t = sidecar_terms(
        spark, seg_index, prefixes=[prefix] if prefix else None
    )
    # prefix re-applied in the shared helper: harmless (already
    # satisfied row-wise) and keeps one enumeration implementation
    return enum_terms(t, prefix=prefix, limit=limit, sort=sort, min_count=min_count)


def wand_spellcheck_suggest(
    spark: SparkSession,
    seg_index,
    tokens: list[str],
    typos: dict[str, str] | None = None,
    min_prefix: int = 1,
    **spell_kwargs,
) -> DataFrame:
    """DirectSpellChecker suggestions over the PACKED tier
    (DiceDirectSolrSpellChecker.java:80-98 semantics, identical output
    to ``suggest.spellcheck_suggest`` on the flat index).

    The dictionary scan is pruned to the prefix buckets the request
    can touch: candidate terms must share each token's ``min_prefix``
    prefix (the equi-join key), token self-df lookups share it
    trivially, and typo overrides add their corrections' prefixes —
    so the union of those prefixes is a COMPLETE cover of every term
    the query can read, pushed down as Or(StringStartsWith) into the
    sorted sidecar. ``min_prefix < 1`` is the flat path's documented
    degenerate config (candidates may differ in their first character,
    served by a full-dictionary cross join) — no prefix is a complete
    cover there, so the packed tier reads the whole sidecar for that
    config instead of silently dropping suggestions."""
    from ..suggest.spellcheck import spellcheck_suggest

    if min_prefix >= 1:
        pfx = {t[:min_prefix] for t in tokens}
        if typos:
            pfx |= {c[:min_prefix] for c in typos.values()}
            # override lookups key on lower(trim(token)) — cover those
            pfx |= {k[:min_prefix] for k in typos.keys()}
        prefixes = sorted(pfx)
    else:
        prefixes = None
    d = packed_dictionary(spark, seg_index, prefixes=prefixes)
    return spellcheck_suggest(
        d, tokens, typos=typos, min_prefix=min_prefix, **spell_kwargs
    )


def wand_canonical_suggest(
    spark: SparkSession,
    seg_index,
    prefix: str,
    threshold: float = 0.0,
    count: int = 10,
    popular: bool = True,
) -> DataFrame:
    """Index-as-dictionary suggester over the PACKED tier:
    HighFrequencyDictionary (df >= threshold * n_docs,
    DiceSuggester.java:141-145) built from the prefix-pruned termstats
    sidecar, then the same canonicalizing merge as the flat
    ``canonical_suggest``. Index terms are analyzer output (already
    lowercase), so the scan-level prefix equals the suggester's
    lower(phrase) prefix rule."""
    from ..suggest.suggester import canonical_suggest, high_frequency_dictionary

    d = packed_dictionary(
        spark, seg_index, prefixes=[prefix.lower()] if prefix else None
    )
    return canonical_suggest(
        high_frequency_dictionary(d, threshold=threshold),
        prefix,
        count=count,
        popular=popular,
    )
