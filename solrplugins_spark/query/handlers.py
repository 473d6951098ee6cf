"""Request-handler orchestration: the /mlt and /uf response shapes.

Reference: DiceMoreLikeThisHandler.handleRequestBody (traced SURVEY.md
§3.1) assembles docs + interestingTerms (list|details) + facets +
debug; DiceUnsupervisedFeedbackHandler (§3.2) adds the expansion terms
to the feedback response. Both support a multiplicative function boost
(boostFn -> BoostedQuery, MoreLikeThisHelper.java:131-145).

Here a handler returns a dict of DataFrames — the Spark-native
NamedList. ``boost_fn`` is any Column over the corpus row (the
function-query library in ``functions`` composes here), applied
multiplicatively AFTER clause scoring, exactly like BoostedQuery.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import _schemas, local_relation
from ..index.builder import InvertedIndex
from .feedback import unsupervised_feedback
from .mlt import (
    MLTParams,
    interesting_terms,
    interesting_terms_text,
    more_like_text,
    more_like_this,
)


def _apply_boost_fn(
    index: InvertedIndex, scored: DataFrame, boost_fn: Column | None, k: int,
    round_to: int = 5,
) -> DataFrame:
    """Multiplicative function boost over a FULL scored frame, then
    rank — BoostedQuery multiplies during scoring, so the boost decides
    which docs make the top-k (MoreLikeThisHelper.java:131-145 wraps
    the query BEFORE getDocList)."""
    if boost_fn is None:
        return scored
    if index.docs is None:
        raise ValueError("boost_fn needs the stored corpus (index.docs)")
    docs_boost = index.docs.select("doc_id", boost_fn.alias("_bf"))
    return (
        scored.join(docs_boost, "doc_id")
        .select(
            "doc_id", F.round(F.col("score") * F.col("_bf"), round_to).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def boosted_search(
    index: InvertedIndex,
    terms_boosts: list[tuple[str, float]],
    boost_fn: Column,
    k: int = 10,
    min_should_match: int = 1,
    round_to: int = 5,
) -> DataFrame:
    """BoostedQuery as a first-class operator: BM25 SHOULD union with a
    multiplicative function-query boost applied to every candidate
    BEFORE ranking (MoreLikeThisHelper.java:131-145,
    UnsupervisedFeedbackHelper.java:85-99)."""
    from .scorer import score_terms

    partials = score_terms(index, terms_boosts)
    scored = partials.groupBy("doc_id").agg(
        F.sum("partial").alias("score"), F.count(F.lit(1)).alias("matched")
    )
    if min_should_match > 1:
        scored = scored.filter(F.col("matched") >= min_should_match)
    return _apply_boost_fn(
        index, scored.select("doc_id", "score"), boost_fn, k, round_to
    )


def _seed_at_offset(run_query, match_query: str, match_offset: int) -> int:
    """Shared matchOffset contract (validation, the match_offset+1
    over-fetch bound, and the error wording) for the flat and packed
    seed-paging paths — ``run_query(q, k)`` returns collected rows."""
    if match_offset < 0:
        raise ValueError("matchOffset must be >= 0")
    rows = run_query(match_query, match_offset + 1)
    if len(rows) <= match_offset:
        raise ValueError(
            f"matchOffset={match_offset} is past the match list "
            f"({len(rows)} match(es) for {match_query!r})"
        )
    return int(rows[match_offset]["doc_id"])


def match_seed(
    index: InvertedIndex, match_query: str, match_offset: int = 0
) -> int:
    """Seed-side paging: run ``q``, take the match at ``match_offset``
    as the MLT seed (DiceMoreLikeThisHandler.java:199-221 iterates the
    match DocList to ``matchOffset`` before reading the seed doc).
    Bounded: fetches match_offset+1 rows, one query execution."""
    from .compiler import execute_query

    return _seed_at_offset(
        lambda q, k: execute_query(index, q, k=k).collect(),
        match_query,
        match_offset,
    )


def mlt_handler(
    index: InvertedIndex,
    seed_doc_ids: list[int] | None = None,
    params: MLTParams = MLTParams(),
    k: int = 10,
    facet_fields: list[str] | None = None,
    boost_fn: Column | None = None,
    interesting_terms_detail: bool = True,
    like_text: str | None = None,
    match_query: str | None = None,
    match_offset: int = 0,
) -> dict[str, DataFrame]:
    """/mlt response: docs + interestingTerms + facets.

    Seed selection, in the reference's precedence order
    (DiceMoreLikeThisHandler.java:184-221):
    - ``like_text``: POSTED free text is the seed (content stream /
      ``stream.body``) — no seed doc, nothing excluded;
    - ``seed_doc_ids``: explicit seed documents;
    - ``match_query`` (+ ``match_offset``): run ``q`` and use the
      match at ``matchOffset`` as the seed (seed-side paging).

    facets are counts over the RESULT docset (match+facet,
    DiceMoreLikeThisHandler.java:263-271)."""
    if like_text is not None:
        result = more_like_text(
            index, like_text, params, k=None if boost_fn is not None else k
        )
        result = _apply_boost_fn(index, result, boost_fn, k)
        terms = interesting_terms_text(index, like_text, params)
        return _mlt_response(
            index, result, terms, facet_fields, interesting_terms_detail
        )
    if seed_doc_ids is None:
        if match_query is None:
            raise ValueError(
                "/mlt needs a seed: like_text, seed_doc_ids, or match_query"
            )
        seed_doc_ids = [match_seed(index, match_query, match_offset)]
    result = more_like_this(
        index, seed_doc_ids, params, k=None if boost_fn is not None else k
    )
    result = _apply_boost_fn(index, result, boost_fn, k)
    terms = interesting_terms(index, seed_doc_ids, params)
    return _mlt_response(
        index, result, terms, facet_fields, interesting_terms_detail
    )


def _mlt_response(
    index: InvertedIndex,
    result: DataFrame,
    terms: DataFrame,
    facet_fields: list[str] | None,
    interesting_terms_detail: bool,
) -> dict[str, DataFrame]:
    """Assemble the /mlt response sections — shared by the
    document-seed and content-stream paths."""
    if not interesting_terms_detail:
        terms = terms.select("term", "score")  # mlt.interestingTerms=list
    out: dict[str, DataFrame] = {"docs": result, "interesting_terms": terms}
    if facet_fields:
        if index.docs is None:
            raise ValueError("facets need the stored corpus (index.docs)")
        hits = result.select("doc_id")
        for field in facet_fields:
            out[f"facet_{field}"] = (
                index.docs.join(hits, "doc_id", "left_semi")
                .groupBy(field)
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
    return out


def packed_select_handler(
    spark,
    seg_index,
    query: str,
    k: int = 10,
    facet_fields: list[str] | None = None,
    facet_queries: dict[str, str] | None = None,
    stats_fields: list[str] | None = None,
    stats_facet: dict[str, str] | None = None,
    stats_percentiles: dict[str, list[float]] | None = None,
    with_stored: bool = True,
    field_segments=None,
    field_sims=None,
    k1: float = 1.2,
    b: float = 0.75,
) -> dict[str, DataFrame]:
    """The full /select response served ENTIRELY from a packed index:
    top-k docs (boolean query, per-segment evaluation), stored fields
    for the result page (docstore point reads), and facet counts over
    the full match docset (ordinal docvalues) — no flat corpus, no
    postings frame, each section one Spark job. This is the serving
    deployment shape at 10^12 docs: everything a request needs lives
    in the segment files.

    ``seg_index`` may be a LIST of generations (streamed deltas before
    compaction, disjoint doc sets): scoring uses global statistics,
    stored fields union the generations' docstores, and facets merge
    per-generation ordinal counts by value — responses equal the
    compacted index's, so serving never waits for compaction.

    ``facet_queries`` (Solr facet.query: {name: subquery}) adds a
    "facet_queries" (name, cnt) section; ``stats_fields`` (Solr
    stats.field) adds one "stats_<col>" moment-derived section per
    numeric docvalues column; ``stats_facet`` ({stats_col: facet_col},
    Solr stats.facet) adds "stats_<col>_by_<facet>" per-bucket
    sections; ``stats_percentiles`` ({col: [p, ...]}) adds exact
    "percentiles_<col>" sections. Each section is its own bounded
    Spark job over the segment files — the corpus is never read.

    Returns {"docs": (doc_id, score [, stored cols...]),
             "facet_<field>": (value, cnt), ...}.
    """
    from ..index.segments import (
        _TOPK_SCHEMA,
        _boolean_top,
        _docstore_read,
        _relation,
        wand_facet_query_search,
        wand_facet_search,
        wand_stats_facet_search,
        wand_stats_search,
    )

    first = seg_index[0] if isinstance(seg_index, (list, tuple)) else seg_index
    # the k-row page is a driver-side Arrow table on both tiers
    page = _boolean_top(
        spark, seg_index, query, k, k1=k1, b=b,
        field_segments=field_segments, field_sims=field_sims,
    )
    ids = page["doc_id"].to_pylist()
    if with_stored and first.store_cols and ids:
        # attach the stored fields, in page order, from a DRIVER-SIDE
        # docstore point read — zero further Spark jobs; the caller's
        # collect serves from the held table
        stored = _docstore_read(seg_index, ids)
        at = {d: i for i, d in enumerate(stored["doc_id"].to_pylist())}
        fields = stored.drop_columns(["doc_id"]).take(
            pa.array([at.get(d) for d in ids], pa.int64())
        )
        merged = pa.Table.from_arrays(
            page.columns + fields.columns,
            names=page.column_names + fields.column_names,
        )
        if first.store_schema:
            docs = local_relation(spark, merged, StructType(
                _schemas(_TOPK_SCHEMA)[0].fields
                + [f for f in _schemas(first.store_schema)[0] if f.name != "doc_id"]
            ))
        else:
            docs = spark.createDataFrame(merged)
    else:
        docs = _relation(spark, page)
    out: dict[str, DataFrame] = {"docs": docs}
    for field in facet_fields or []:
        out[f"facet_{field}"] = wand_facet_search(
            spark, seg_index, query, field, k1=k1, b=b,
            field_segments=field_segments, field_sims=field_sims,
        )
    if facet_queries:
        # a facet FIELD literally named "queries" would already own
        # this response key — refuse rather than silently overwrite
        if "facet_queries" in out:
            raise ValueError(
                "facet_fields=['queries'] collides with the "
                "facet.query response section — rename the field"
            )
        out["facet_queries"] = wand_facet_query_search(
            spark, seg_index, query, facet_queries, k1=k1, b=b,
            field_segments=field_segments, field_sims=field_sims,
        )
    for col in stats_fields or []:
        out[f"stats_{col}"] = wand_stats_search(
            spark, seg_index, query, col, k1=k1, b=b,
            field_segments=field_segments, field_sims=field_sims,
        )
    for col, facet in (stats_facet or {}).items():
        out[f"stats_{col}_by_{facet}"] = wand_stats_facet_search(
            spark, seg_index, query, col, facet, k1=k1, b=b,
            field_segments=field_segments, field_sims=field_sims,
        )
    for col, pcts in (stats_percentiles or {}).items():
        from ..index.segments import wand_stats_percentiles_search

        out[f"percentiles_{col}"] = wand_stats_percentiles_search(
            spark, seg_index, query, col, pcts, k1=k1, b=b,
            field_segments=field_segments, field_sims=field_sims,
        )
    return out


_MLT_TERMS_SCHEMA = "term string, tf long, df long, score double, raw_weight double"


def _packed_interesting_terms(
    spark,
    seg_index,
    seed_doc_ids: list[int],
    params: MLTParams,
    text_col: str = "text",
    round_to: int = 5,
    tok_kwargs: dict | None = None,
    like_text: str | list[str] | None = None,
):
    """MLT term extraction served ENTIRELY from segment files: stored
    seed text via a driver-side docstore point read (fetch_docs_local
    — the ir.document analogue, MoreLikeThis.java:1113-1145; zero
    Spark jobs for the bounded seed list), df via the termstats
    sidecar (a driver-side pyarrow point read, no Spark job), and the
    createQueue PQ built driver-side — identical queue to the flat
    path (shared mlt_queue), so the whole extraction costs no jobs. ``seg_index`` may be a list
    of generations: dfs sum across sidecars, n_docs aggregates, and
    the docstore point read unions. ``tok_kwargs=None`` re-analyzes
    with the tokenizer settings RECORDED in the segment manifest at
    build time — the seed text must tokenize exactly like the
    postings or rankings silently diverge. Returns a pandas frame
    (term, tf, df, score, raw_weight), <= max_query_terms rows."""
    from ..index.segments import _as_gens, _sidecar_dfs, fetch_docs_local
    from .mlt import mlt_queue, seed_term_counts

    sis = [si for _, si in _as_gens(seg_index)]
    if like_text is not None:
        # content stream (DiceMoreLikeThisHandler.java:184-197): the
        # POSTED text is the seed — no docstore read
        texts = [like_text] if isinstance(like_text, str) else list(like_text)
    else:
        for si in sis:
            if text_col not in si.store_cols:
                raise ValueError(
                    f"packed MLT needs the stored {text_col!r} column — "
                    f"rebuild with build_segments(..., "
                    f"store_cols=[{text_col!r}, ...])"
                )
        # driver-side docstore point read (pyarrow): the seed list is
        # bounded (max_seed_docs), so this costs ZERO Spark jobs —
        # /mlt and /uf drop from 3 jobs to 2 per request
        texts = fetch_docs_local(seg_index, seed_doc_ids, columns=[text_col])[
            text_col
        ].tolist()
    if tok_kwargs is None:
        tok_kwargs = sis[0].tok_kwargs or {}
    counts = seed_term_counts(texts, tok_kwargs)
    df_map: dict[str, int] = {}
    for si in sis:
        d = _sidecar_dfs(si, sorted(counts)) if counts else {}
        if d is None:
            raise ValueError(
                "packed MLT needs the termstats sidecar — rebuild the "
                "segments (pre-sidecar layout)"
            )
        for t, v in d.items():
            df_map[t] = df_map.get(t, 0) + int(v)
    n_docs = sum(si.n_docs for si in sis)
    return mlt_queue(counts, df_map, n_docs, params, round_to)


def packed_mlt_handler(
    spark,
    seg_index,
    seed_doc_ids: list[int] | None = None,
    params: MLTParams = MLTParams(),
    k: int = 10,
    facet_fields: list[str] | None = None,
    text_col: str = "text",
    interesting_terms_detail: bool = True,
    tok_kwargs: dict | None = None,
    boost_fn: tuple | None = None,
    like_text: str | list[str] | None = None,
    match_query: str | None = None,
    match_offset: int = 0,
) -> dict[str, DataFrame]:
    """/mlt served ENTIRELY from a packed index — no flat corpus, no
    postings frame (DiceMoreLikeThisHandler.java:67-271 at the
    10^12-doc serve tier, where only segment files exist).

    Job shape matches the flat path's bounded driver crossings: one
    docstore point read (seed texts), zero jobs for df (sidecar), one
    execution of the expansion query — the boosted term bag wand_search
    serves (_Terms through _serve with the top-k collector) — seed docs
    excluded (MoreLikeThisHelper.java:152-160) by over-fetching
    k+|seeds| then anti-filtering — exact, since seeds can displace at
    most |seeds| rows of the true top-k. ``seg_index`` may be a list of
    generations (wand_search_multi global statistics).
    ``params.min_should_match`` is the bag's mm (mm>1 scores the full
    match — MoreLikeThis.java:147's mm is configurable). ``k=0``
    answers an empty page; a negative ``k`` raises ValueError.

    Seed selection mirrors the flat handler's reference precedence
    (DiceMoreLikeThisHandler.java:184-221): ``like_text`` (content
    stream — no seed doc, nothing excluded), explicit
    ``seed_doc_ids``, or ``match_query`` + ``match_offset`` (run the
    boolean query over the packed index, seed = the match at
    ``matchOffset``; fetches match_offset+1 rows, one execution)."""
    from ..index.segments import (
        _as_gens,
        _boolean_top,
        _check_k,
        _relation,
        _serve,
        _Terms,
        _topk_collector,
        fetch_docs_local,
    )

    _check_k(k)
    first = _as_gens(seg_index)[0][1]
    if like_text is None and seed_doc_ids is None:
        if match_query is None:
            raise ValueError(
                "/mlt needs a seed: like_text, seed_doc_ids, or match_query"
            )
        seed_doc_ids = [
            _seed_at_offset(
                lambda q, k: _boolean_top(spark, seg_index, q, k).to_pylist(),
                match_query,
                match_offset,
            )
        ]
    seed_ids = [int(d) for d in seed_doc_ids] if like_text is None else []
    queue = _packed_interesting_terms(
        spark, seg_index, seed_ids, params, text_col,
        tok_kwargs=tok_kwargs, like_text=like_text,
    )
    terms = local_relation(spark, queue, _MLT_TERMS_SCHEMA)
    if not interesting_terms_detail:
        terms = terms.select("term", "score")  # mlt.interestingTerms=list
    boosts = [(t, float(s)) for t, s in zip(queue["term"], queue["score"])]
    # the expansion query is the bag of boosted terms, served like
    # wand_search (an empty bag matches nothing and reads nothing);
    # boost_fn rides into it (multiplied BEFORE ranking, the flat
    # mlt_handler's _apply_boost_fn semantics); the k+|seeds|
    # over-fetch stays exact — a per-doc multiplier cannot let seeds
    # displace more than |seeds| rows — and a k=0 page reads nothing
    top = _serve(
        spark, seg_index, _Terms.of(boosts, params.min_should_match),
        _topk_collector(k + len(seed_ids) if k else 0, 5, boost_fn=boost_fn),
    )
    # the answer is a pre-sorted (score desc, doc_id asc) driver-side
    # Arrow table of <= k+|seeds| rows on both tiers: the
    # seed-exclusion + re-top-k tail is a mask and a slice, and the
    # page is held on the driver (it crosses into the JVM only on a
    # Spark use)
    hits = top.filter(~np.isin(top["doc_id"].to_numpy(), seed_ids)).slice(0, k)
    out: dict[str, DataFrame] = {
        "docs": _relation(spark, hits), "interesting_terms": terms,
    }
    if facet_fields:
        missing = [f for f in facet_fields if f not in first.store_cols]
        if missing:
            raise ValueError(
                f"packed /mlt facets need stored columns {missing} — "
                "rebuild with build_segments(..., store_cols=[...])"
            )
        # facets count over the RESULT page (DiceMoreLikeThisHandler
        # .java:263-271): k rows — one DRIVER-SIDE docstore point read
        # covers all requested fields, zero Spark jobs
        ids = hits["doc_id"].to_pylist()
        page = fetch_docs_local(seg_index, ids, columns=list(facet_fields))
        # facet column types come from the docstore's recorded DDL —
        # inference would fail on an all-NULL page column and would
        # lose the declared type in general
        store = _schemas(first.store_schema)[0] if first.store_schema else None
        for field in facet_fields:
            ftype = store[field].dataType.simpleString() if store else "string"
            ddl = f"{field} {ftype}, cnt long"
            counts = page.groupby(field, dropna=False).size().reset_index(name="cnt")
            counts[field] = counts[field].astype(object).where(
                counts[field].notna(), None
            )
            out[f"facet_{field}"] = local_relation(spark, counts, ddl)
    return out


def packed_feedback_handler(
    spark,
    seg_index,
    query: str,
    params: MLTParams = MLTParams(),
    k: int = 10,
    max_seed_docs: int = 5,
    text_col: str = "text",
    tok_kwargs: dict | None = None,
    boost_fn: tuple | None = None,
) -> dict[str, DataFrame]:
    """/uf served ENTIRELY from a packed index
    (DiceUnsupervisedFeedbackHandler + UnsupervisedFeedbackHelper
    .java:101-131 at the serve tier): seed top-N via the per-segment
    boolean path, term extraction from docstore + termstats sidecar,
    and the final query (seed MUST + expansion SHOULD, seeds NOT
    excluded) as ONE boosted per-segment pass — two Spark jobs on the
    Spark path (seed page, final query) and none on the local tier;
    the docstore and sidecar reads are driver-side."""
    from ..index.segments import (
        _boolean_top,
        wand_boolean_boosted_search,
        wand_boolean_search,
    )

    # the seed page is a driver-side Arrow table on both tiers
    seeds = _boolean_top(spark, seg_index, query, max_seed_docs)
    seed_ids = seeds["doc_id"].to_pylist()
    queue = _packed_interesting_terms(
        spark, seg_index, seed_ids, params, text_col, tok_kwargs=tok_kwargs
    )
    terms = local_relation(spark, queue, _MLT_TERMS_SCHEMA)
    boosts = [(t, float(s)) for t, s in zip(queue["term"], queue["score"])]
    # boost_fn: the multiplicative ValueSource applied to the FINAL
    # query before ranking (the flat feedback_handler's boost_fn);
    # seed selection stays unboosted, matching _apply_boost_fn's
    # post-seed placement on the flat path
    if boosts:
        docs = wand_boolean_boosted_search(
            spark, seg_index, query, boosts, k=k, boost_fn=boost_fn
        )
    else:
        docs = wand_boolean_search(
            spark, seg_index, query, k=k, boost_fn=boost_fn
        )
    return {"docs": docs, "interesting_terms": terms}


def feedback_handler(
    index: InvertedIndex,
    query: str,
    params: MLTParams = MLTParams(),
    k: int = 10,
    max_seed_docs: int = 5,
    boost_fn: Column | None = None,
) -> dict[str, DataFrame]:
    """/uf response: re-executed docs + the expansion terms used."""
    result = unsupervised_feedback(
        index, query, k=None if boost_fn is not None else k,
        max_seed_docs=max_seed_docs, params=params,
    )
    result = _apply_boost_fn(index, result, boost_fn, k)
    from .compiler import compile_ast
    from .parser import parse_query

    tree, _ = parse_query(query)
    seeds = (
        compile_ast(index, tree)
        .orderBy(F.desc(F.round("score", 5)), F.asc("doc_id"))
        .limit(max_seed_docs)
        .select("doc_id")
    )
    terms = interesting_terms(index, seeds, params)
    return {"docs": result, "interesting_terms": terms}
