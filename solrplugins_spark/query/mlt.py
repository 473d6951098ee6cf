"""MoreLikeThis: top-k tf.idf term extraction + expansion query.

Reference pipeline (MoreLikeThis.java:861-989 + MLTTerm.java +
MLTQuery.java; traced in SURVEY.md §3.1):
  1. accumulate term freqs across seed docs into one map per field
     (like(List<Integer>) MoreLikeThis.java:861-881)
  2. createQueue (:996-1055): skip blank; tf >= minTermFreq (default 1,
     :162); df >= minDocFreq (default 5, :170); df <= maxDocFreq
     (:179); weight = useBoost ? (logTf ? ln(tf+1) : tf) * idf : 1
     (MLTTerm.java:86-101) with classic idf = ln(N/(df+1))+1
  3. getMostInterestingTerms (:961-989): top maxQueryTermsPerField
     (default 100, :248) by fieldBoost*weight desc; vectorLength =
     sqrt(sum weight^2) over the SELECTED terms; if
     normalizeFieldBoosts (default true, :195) final boost =
     fieldBoost * weight/vectorLength
  4. expansion query = boosted SHOULD over the terms with
     minShouldMatch (MLTQuery.java:46-53), seed docs excluded via
     MUST_NOT on the unique key (MoreLikeThisHelper.java:152-160)

Plan shape: seed postings are a tiny slice (left-semi on seed ids);
the df lookup joins the small seed-term set against the term
dictionary; top-k is ORDER BY + LIMIT (TakeOrderedAndProject). The
final expansion boosts (<= max_terms rows) are collected to the driver
— that mirrors the reference building a query object and is bounded.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import empty_df, local_relation
from ..index.builder import InvertedIndex
from .scorer import BM25, Similarity, score_terms


@dataclass(frozen=True)
class MLTParams:
    min_term_freq: int = 1          # MoreLikeThis.java:162
    min_doc_freq: int = 5           # :170
    max_doc_freq: int = 2**31 - 1   # :179
    max_query_terms: int = 100      # :248
    boost: bool = True              # :187
    normalize_boosts: bool = True   # :195
    log_tf: bool = False            # :203
    field_boost: float = 1.0
    min_should_match: int = 1       # DEFAULT_MM "1" :147


def seed_term_counts(texts: list[str], tok_kwargs: dict | None = None) -> dict[str, int]:
    """Accumulate term freqs across seed-doc texts into one map — the
    like(List<Integer>) accumulation (MoreLikeThis.java:861-881),
    driver-side for a bounded seed list."""
    import pandas as pd

    from ..analysis.tokenizer import tokenize_pandas

    toks = tokenize_pandas(pd.Series(texts, dtype="object"), **(tok_kwargs or {}))
    counts: dict[str, int] = {}
    for lst in toks:
        for t in lst:
            counts[t] = counts.get(t, 0) + 1
    return counts


def mlt_queue(
    counts: dict[str, int],
    df_map: dict[str, int],
    n_docs: int,
    params: MLTParams,
    round_to: int = 5,
) -> "pd.DataFrame":
    """createQueue + getMostInterestingTerms as one pandas computation
    (MoreLikeThis.java:996-1055, :961-989): tf/df predicates, classic
    idf weighting, top max_query_terms by (weight desc, term asc),
    L2 normalization. Shared by the flat driver path and the packed
    (segment-file) handlers — both produce identical queues.

    Returns columns (term, tf, df, score, raw_weight); empty frame if
    nothing survives the predicates."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "term": pd.Series([], dtype="object"),
            "tf": pd.Series([], dtype="int64"),
            "df": pd.Series([], dtype="int64"),
            "score": pd.Series([], dtype="float64"),
            "raw_weight": pd.Series([], dtype="float64"),
        }
    )
    if not counts:
        return empty
    cand = pd.DataFrame(
        [(t, c, df_map[t]) for t, c in counts.items() if t in df_map],
        columns=["term", "tf", "df"],
    )
    if params.min_term_freq > 0:
        cand = cand[cand["tf"] >= params.min_term_freq]
    if params.min_doc_freq > 0:
        cand = cand[cand["df"] >= params.min_doc_freq]
    cand = cand[cand["df"] <= params.max_doc_freq]
    if len(cand) == 0:
        return empty
    idf = np.log(float(n_docs) / (cand["df"].to_numpy() + 1.0)) + 1.0
    tf_val = (
        np.log(cand["tf"].to_numpy() + 1.0)
        if params.log_tf
        else cand["tf"].to_numpy().astype(np.float64)
    )
    cand = cand.assign(weight=(tf_val * idf) if params.boost else 1.0)
    max_terms = params.max_query_terms if params.max_query_terms > 0 else 2**31 - 1
    top = cand.sort_values(
        ["weight", "term"], ascending=[False, True], kind="stable"
    ).head(max_terms)
    veclen = float(np.sqrt((top["weight"].to_numpy() ** 2).sum()))
    if veclen <= 0.0:
        return empty
    norm = veclen if params.normalize_boosts else 1.0
    return pd.DataFrame(
        {
            "term": top["term"],
            "tf": top["tf"].astype("int64"),
            "df": top["df"].astype("int64"),
            "score": np.round(params.field_boost * top["weight"] / norm, round_to),
            "raw_weight": top["weight"],
        }
    )


def _interesting_terms_driver(
    index: InvertedIndex,
    seed_doc_ids: list[int],
    params: MLTParams,
    round_to: int,
) -> DataFrame:
    """Driver-side term extraction for a BOUNDED seed list — the shape
    of the reference itself: MoreLikeThis re-analyzes the stored seed
    docs (ir.document -> analyzer, MoreLikeThis.java:1134-1144) and
    builds createQueue's priority queue on the leader. One pruned
    corpus fetch (doc_id pushdown) + one cached-dictionary df lookup;
    no postings scan, no shuffle. Identical output to the distributed
    path (asserted in tests/test_mlt.py)."""
    from .scorer import resolve_df

    spark = index.postings.sparkSession
    out_schema = "term string, tf long, df long, score double, raw_weight double"
    texts = [
        r[index.text_col]
        for r in index.docs.filter(
            F.col(index.doc_col).isin([int(d) for d in seed_doc_ids])
        ).select(index.text_col).collect()
    ]
    counts = seed_term_counts(texts, index.tok_kwargs)
    df_map = resolve_df(index, sorted(counts))
    out = mlt_queue(counts, df_map, index.n_docs, params, round_to)
    return local_relation(spark, out, out_schema)


def interesting_terms(
    index: InvertedIndex,
    seed_doc_ids: list[int] | DataFrame,
    params: MLTParams = MLTParams(),
    round_to: int = 5,
) -> DataFrame:
    """(term, tf, df, score) — the MLT expansion terms, scored and
    L2-normalized exactly as getMostInterestingTerms does.

    A bounded seed LIST takes the reference's own shape — re-analyze
    the stored seed docs and build the PQ driver-side (one pruned
    corpus fetch; _interesting_terms_driver). DataFrame seeds (or no
    stored corpus) run the distributed pipeline below, which scales to
    unbounded seed sets."""
    spark = index.postings.sparkSession
    if (
        isinstance(seed_doc_ids, list)
        and index.docs is not None
        and index.text_col in index.docs.columns
        and len(seed_doc_ids) <= 256
    ):
        return _interesting_terms_driver(index, seed_doc_ids, params, round_to)
    if isinstance(seed_doc_ids, list):
        # bounded list: literal isin filter (no seeds frame — a
        # createDataFrame round-trip costs ~0.3 s per query, measured)
        seed_hits = index.postings.filter(
            F.col("doc_id").isin([int(d) for d in seed_doc_ids])
        )
    else:
        seed_hits = index.postings.join(
            F.broadcast(seed_doc_ids.select("doc_id")), "doc_id", "left_semi"
        )

    # accumulate tf across all seed docs (one bag-of-terms per field)
    seed_terms = seed_hits.groupBy("term").agg(F.sum("tf").alias("tf"))
    # broadcast the SEED side (bounded by the seed docs' vocabulary),
    # never the dictionary: at 10^8+ terms the terms frame exceeds any
    # broadcast threshold and would otherwise force a full-dictionary
    # shuffle join per MLT query
    cand = index.terms.select("term", "df").join(F.broadcast(seed_terms), "term")
    if params.min_term_freq > 0:
        cand = cand.filter(F.col("tf") >= params.min_term_freq)
    if params.min_doc_freq > 0:
        cand = cand.filter(F.col("df") >= params.min_doc_freq)
    cand = cand.filter(F.col("df") <= params.max_doc_freq)

    idf = F.log(F.lit(float(index.n_docs)) / (F.col("df") + 1.0)) + 1.0
    tf_val = F.log(F.col("tf") + 1.0) if params.log_tf else F.col("tf").cast("double")
    weight = (tf_val * idf) if params.boost else F.lit(1.0)
    cand = cand.withColumn("weight", weight)

    # PQ-pop + L2 normalization fused in ONE Arrow stage over the
    # (vocab-bounded) candidate frame — replaces a global TakeOrdered
    # plus a broadcast crossJoin of the veclen aggregate; the candidate
    # set is at most the seed docs' distinct terms.
    max_terms = params.max_query_terms if params.max_query_terms > 0 else 2**31 - 1
    field_boost = params.field_boost
    normalize = params.normalize_boosts

    def select_top(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        top = pdf.sort_values(
            ["weight", "term"], ascending=[False, True], kind="stable"
        ).head(max_terms)
        veclen = float(np.sqrt((top["weight"].to_numpy() ** 2).sum()))
        if veclen <= 0.0:
            return top.head(0)[["term", "tf", "df", "weight", "weight"]].set_axis(
                ["term", "tf", "df", "score", "raw_weight"], axis=1
            )
        norm = veclen if normalize else 1.0
        return pd.DataFrame(
            {
                "term": top["term"],
                "tf": top["tf"],
                "df": top["df"],
                "score": np.round(field_boost * top["weight"] / norm, round_to),
                "raw_weight": top["weight"],
            }
        )

    import pandas as pd  # noqa: F401 (worker-side)

    narrowed = cand.select("term", "tf", "df", "weight")
    if params.max_query_terms > 0:
        # size guard: per-partition top-max_terms BEFORE the fused
        # single-task stage, so its input is <= partitions*max_terms
        # rows even with adversarially many seed docs (the global top-N
        # by (weight desc, term asc) always survives a per-partition
        # cut with the same comparator — a distributed PQ pre-pass).
        def partial_top(batches):
            acc = None
            for pdf in batches:
                acc = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
                if len(acc) > 4 * max_terms:
                    acc = acc.sort_values(
                        ["weight", "term"], ascending=[False, True], kind="stable"
                    ).head(max_terms)
            if acc is not None and len(acc):
                yield acc.sort_values(
                    ["weight", "term"], ascending=[False, True], kind="stable"
                ).head(max_terms)

        narrowed = narrowed.mapInPandas(
            partial_top, schema="term string, tf long, df long, weight double"
        )

    return (
        narrowed
        .withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(
            lambda pdf: select_top(pdf.drop(columns=["_g"], errors="ignore")),
            schema="term string, tf long, df long, score double, raw_weight double",
        )
    )


def interesting_terms_text(
    index: InvertedIndex,
    like_text: str | list[str],
    params: MLTParams = MLTParams(),
    round_to: int = 5,
) -> DataFrame:
    """Content-stream MLT term extraction: the seed is POSTED free
    text, not an indexed document (DiceMoreLikeThisHandler.java:184-197
    reads the request body / ``stream.body`` and feeds
    MoreLikeThis.like(Reader)). The text is analyzed with the index's
    own tokenizer settings and the queue is the same shared
    ``mlt_queue`` the document-seed path builds — semantics are
    identical, except there is no seed document to exclude.

    Terms absent from the dictionary are skipped (df == 0 —
    MoreLikeThis.createQueue skips docFreq==0 terms), so pasted text
    full of out-of-corpus words degrades gracefully."""
    from .scorer import resolve_df

    spark = index.postings.sparkSession
    out_schema = "term string, tf long, df long, score double, raw_weight double"
    texts = [like_text] if isinstance(like_text, str) else list(like_text)
    counts = seed_term_counts(texts, index.tok_kwargs)
    df_map = {
        t: d for t, d in resolve_df(index, sorted(counts)).items() if d > 0
    }
    out = mlt_queue(counts, df_map, index.n_docs, params, round_to)
    return local_relation(spark, out, out_schema)


def more_like_text(
    index: InvertedIndex,
    like_text: str | list[str],
    params: MLTParams = MLTParams(),
    k: int | None = 10,
    sim: Similarity = BM25,
) -> DataFrame:
    """Top-k docs similar to POSTED free text — the content-stream
    /mlt (DiceMoreLikeThisHandler.java:184-197). Same expansion query
    as ``more_like_this`` (boosted SHOULD over the interesting terms,
    minShouldMatch threaded through) but with no seed-doc exclusion:
    the seed never entered the index."""
    spark = index.postings.sparkSession
    rows = interesting_terms_text(index, like_text, params).collect()
    boosts = [(r["term"], float(r["score"])) for r in rows]
    df_map = {r["term"]: int(r["df"]) for r in rows}
    if not boosts:
        return empty_df(spark, "doc_id long, score double")
    partials = score_terms(index, boosts, sim=sim, df_map=df_map)
    scored = partials.groupBy("doc_id").agg(
        F.round(F.sum("partial"), 5).alias("score"),
        F.count(F.lit(1)).alias("matched"),
    )
    if params.min_should_match > 1:
        scored = scored.filter(F.col("matched") >= params.min_should_match)
    if k is None:
        return scored.select("doc_id", "score")
    return (
        scored.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def more_like_this(
    index: InvertedIndex,
    seed_doc_ids: list[int] | DataFrame,
    params: MLTParams = MLTParams(),
    k: int | None = 10,
    sim: Similarity = BM25,
) -> DataFrame:
    """Top-k similar docs: expansion query with seed docs excluded.

    ``k=None`` returns the full scored frame — required by BoostedQuery
    composition (function boosts must apply BEFORE ranking).

    The expansion boosts round-trip the driver as one bounded collect
    (<= max_query_terms rows) — exactly where the reference crosses the
    driver too (MoreLikeThisHelper builds the boosted BooleanQuery
    object from the extracted terms before re-searching). A literal
    term list lets the expansion query start from an ``isin``-pruned
    postings scan with zero data-dependent broadcasts, cutting the
    per-query Spark job count roughly in half vs the all-lazy plan."""
    spark = index.postings.sparkSession
    rows = interesting_terms(index, seed_doc_ids, params).collect()
    boosts = [(r["term"], float(r["score"])) for r in rows]
    df_map = {r["term"]: int(r["df"]) for r in rows}
    if not boosts:
        return empty_df(spark, "doc_id long, score double")
    partials = score_terms(index, boosts, sim=sim, df_map=df_map)
    scored = partials.groupBy("doc_id").agg(
        F.round(F.sum("partial"), 5).alias("score"),
        F.count(F.lit(1)).alias("matched"),
    )
    if params.min_should_match > 1:
        scored = scored.filter(F.col("matched") >= params.min_should_match)
    if isinstance(seed_doc_ids, list):
        # bounded seed LIST: a literal NOT-isin filter, not an
        # anti-join — building even a 1-row seeds frame costs a
        # ~0.3 s createDataFrame/py4j round-trip per query (measured,
        # BENCH/BASELINE.md r05), and the filter folds into the same
        # codegen stage as the aggregation output
        scored = scored.filter(
            ~F.col("doc_id").isin([int(d) for d in seed_doc_ids])
        )
    else:
        scored = scored.join(
            seed_doc_ids.select("doc_id"), "doc_id", "left_anti"
        )
    if k is None:
        return scored.select("doc_id", "score")
    return (
        scored.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
