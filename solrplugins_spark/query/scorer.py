"""Scoring: BM25 and the reference's similarity variants, as one
parameterized column expression.

Reference similarities (similarity/*.java, 9 classes) all toggle
factors of the same product: tf x idf x norm x payload. We model that
as a ``Similarity`` dataclass compiling to a single Catalyst
expression — per-field k1/b is the same mechanism Solr 6.x exposes via
SchemaSimilarityFactory per-field overrides (reference README.md:25).

Formulas:
- BM25 (Lucene 6 default, what "custom BM25 similarity with per-field
  k1/b" in the north rule refers to):
    idf = ln(1 + (N - df + 0.5)/(df + 0.5))
    score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
- ClassicDice (DiceDefaultSimilarity.java):
    tf = sqrt(tf)                        (:124-127)
    idf = ln(N/(df+1)) + 1               (:141-145)
    norm = 1/sqrt(dl)                    (:113-121, exact — not the
                                          lossy byte315 quantization)
  with toggles: use_tf (NoLengthNormNoTfSimilarity.java:9-16 drops tf),
  use_idf (PayloadAwareDefaultSimilarityNoIdf.java:9-23),
  use_norm (NoLengthNormSimilarity.java:10-18),
  use_payload (PayloadOnlySimilarity.java:12-29 /
  PayloadIdfSimilarity.java:12-37); CosineSimilarity.java:11-46 = all
  norms 1 with raw tf.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import empty_df
from ..index.builder import InvertedIndex


def byte315_table() -> list[float]:
    """The 255 nonzero values of Lucene's SmallFloat byte315 codec
    (3 mantissa bits, 5 exponent bits, zero point 15 —
    SmallFloat.byteToFloat(b, 3, 15) for b in 1..255), strictly
    increasing. Encoding truncates the float's mantissa, so for
    positive x the encoded value is the LARGEST table entry <= x
    (underflow clamps to table[0], overflow to table[-1]) — the rule
    both the column expression and the SQL oracle mirror."""
    import struct

    out = []
    for b in range(1, 256):
        bits = (b << 21) + ((63 - 15) << 24)
        out.append(float(struct.unpack(">f", struct.pack(">i", bits))[0]))
    return out


_BYTE315 = byte315_table()


def lossy_norm_expr(x: Column) -> Column:
    """byte315 round-trip of a positive norm as a column expression:
    float32-round x (lengthNorm is computed in float,
    DefaultSimilarity), then take the largest representable value
    <= it — an O(255) literal-array filter, JVM codegen, no UDF."""
    arr = F.array(*[F.lit(v) for v in _BYTE315])
    xf = x.cast("float").cast("double")
    cnt = F.size(F.filter(arr, lambda a: a <= xf))
    return (
        F.when(xf <= 0, F.lit(0.0))
        .when(cnt == 0, F.lit(_BYTE315[0]))
        .otherwise(F.element_at(arr, cnt))
    )


@dataclass(frozen=True)
class Similarity:
    """Parameterized scoring expression over (tf, df, dl, payload)."""

    kind: str = "bm25"  # "bm25" | "classic"
    k1: float = 1.2
    b: float = 0.75
    use_tf: bool = True
    use_idf: bool = True
    use_norm: bool = True
    use_payload: bool = False
    # Lucene's 1-byte norm quantization (SmallFloat byte315,
    # DefaultSimilarity encode/decodeNormValue): lengthNorm rounds
    # through the 255-value codec. Off by default — the engine keeps
    # exact norms (documented divergence) — on for bit-parity with an
    # index that stored 1-byte norms. Classic kind only.
    lossy_norm: bool = False

    def idf(self, df_col: Column, n_docs: int) -> Column:
        if not self.use_idf:
            return F.lit(1.0)
        n = F.lit(float(n_docs))
        if self.kind == "bm25":
            return F.log(F.lit(1.0) + (n - df_col + 0.5) / (df_col + 0.5))
        return F.log(n / (df_col + 1.0)) + 1.0

    def factor_exprs(
        self,
        tf: Column,
        df_col: Column,
        dl: Column,
        avgdl: float,
        n_docs: int,
        payload: Column | None = None,
    ) -> dict[str, Column | None]:
        """The score decomposed into its factors — the Lucene
        Explanation tree (IndexSearcher.explain, what Solr's
        debugQuery=true renders) flattened to columns:
          bm25:    score = idf * tf_norm              (norm = 1.0 —
                   length normalization lives inside tf_norm's
                   denominator, exactly how Lucene's BM25 explain
                   nests it)
          classic: score = tf_norm * idf * norm
        with an optional trailing payload factor. score_expr builds
        its product from THESE columns in THAT order, so explain
        rows multiply back to the served score bit-for-bit."""
        tfd = tf.cast("double")
        if self.lossy_norm and self.kind != "classic":
            raise ValueError(
                "lossy_norm mirrors DefaultSimilarity's byte315 norm "
                "byte — classic kind only (BM25 keeps exact norms)"
            )
        if self.kind == "bm25":
            denom = tfd + self.k1 * (1.0 - self.b + self.b * dl.cast("double") / F.lit(avgdl))
            tf_part = tfd * (self.k1 + 1.0) / denom if self.use_norm else (
                tfd * (self.k1 + 1.0) / (tfd + self.k1)
            )
            if not self.use_tf:
                tf_part = F.when(tfd > 0, F.lit(1.0)).otherwise(F.lit(0.0))
            norm = F.lit(1.0)
        else:
            tf_part = F.sqrt(tfd) if self.use_tf else F.when(tfd > 0, F.lit(1.0)).otherwise(0.0)
            if self.use_norm:
                raw = F.lit(1.0) / F.sqrt(dl.cast("double"))
                norm = lossy_norm_expr(raw) if self.lossy_norm else raw
            else:
                norm = F.lit(1.0)
        pay = payload if (self.use_payload and payload is not None) else None
        return {
            "idf": self.idf(df_col, n_docs),
            "tf_norm": tf_part,
            "norm": norm,
            "payload": pay,
        }

    def score_expr(
        self,
        tf: Column,
        df_col: Column,
        dl: Column,
        avgdl: float,
        n_docs: int,
        payload: Column | None = None,
    ) -> Column:
        fx = self.factor_exprs(tf, df_col, dl, avgdl, n_docs, payload=payload)
        if self.kind == "bm25":
            score = fx["idf"] * fx["tf_norm"]
        else:
            score = fx["tf_norm"] * fx["idf"] * fx["norm"]
        if fx["payload"] is not None:
            score = score * fx["payload"]
        return score


BM25 = Similarity(kind="bm25")
ClassicDice = Similarity(kind="classic")
# PayloadOnlySimilarity.java:12-29 — score is the (average) payload alone
PayloadOnly = Similarity(
    kind="classic", use_tf=False, use_idf=False, use_norm=False, use_payload=True
)
# PayloadIdfSimilarity.java:12-37 — payload x idf
PayloadIdf = Similarity(
    kind="classic", use_tf=False, use_idf=True, use_norm=False, use_payload=True
)


def score_terms_df(
    index: InvertedIndex,
    boosts_df: DataFrame,
    sim: Similarity = BM25,
) -> DataFrame:
    """score_terms with the query terms as a (term, boost) DataFrame.

    Keeps the whole pipeline lazy (no driver collect): the boosts frame
    is broadcast into the postings join, so an expansion query built
    from another query's output runs as ONE Spark job instead of
    collect + re-submit.

    The boosts frame is referenced ONCE: it first joins the term
    dictionary (picking up df), and that small (term, boost, df) frame
    is what broadcasts into the postings scan. Referencing boosts_df in
    two separate broadcasts would re-execute its (potentially
    expensive) upstream plan once per broadcast."""
    qstats = index.terms.join(F.broadcast(boosts_df), "term")
    hits = index.postings.join(F.broadcast(qstats), "term")
    payload = F.col("payload") if "payload" in index.postings.columns else None
    partial = sim.score_expr(
        F.col("tf"), F.col("df"), F.col("dl"), index.avgdl, index.n_docs,
        payload=payload,
    )
    return hits.select(
        "doc_id", "term", "boost", (F.col("boost") * partial).alias("partial")
    )


def resolve_df(index: InvertedIndex, terms: list[str]) -> dict[str, int]:
    """Driver-side df lookup for a bounded query-term set — the Lucene
    TermStates/TermContext resolution step (every Lucene query collects
    per-term df on the leader before building Weights). One tiny job
    against the (cached, term-hash-partitioned) dictionary frame; at
    10^12-doc scale the packed path reads the term-sorted sidecar
    instead (index/segments.py)."""
    missing = [t for t in terms if t not in index.df_cache]
    if missing:
        found = {
            r["term"]: int(r["df"])
            for r in index.terms.filter(F.col("term").isin(missing)).collect()
        }
        for t in missing:
            index.df_cache[t] = found.get(t, 0)
    return {t: index.df_cache[t] for t in terms if index.df_cache[t] > 0}


def score_terms(
    index: InvertedIndex,
    terms_boosts: list[tuple[str, float]],
    sim: Similarity = BM25,
    df_map: dict[str, int] | None = None,
) -> DataFrame:
    """Per-(doc, term) partial scores for a weighted term bag.

    This is the posting-list union with boost-weighted scoring
    (MLTQuery.java:46-53 — boosted SHOULD clauses; the north rule's
    term-expansion primitive). Plan shape at scale:
      postings filtered by an isin on the (tiny) query-term set
      [partition-prunable when postings are bucketed by term]
      -> per-term (boost * idf) folded into a literal map (df resolved
         driver-side, the Lucene TermStates step — see resolve_df)
      -> one codegen'd arithmetic expression over (tf, dl[, payload]).
    Zero joins: dl rides inline in postings and idf is a per-term
    constant, so a term query is a single pruned scan + projection.
    Returns (doc_id, term, boost, partial) — partial = boost * sim().
    """
    # duplicate terms collapse by summing boosts (the boolean SHOULD
    # semantic: two identical clauses score like one with the summed
    # boost) — also required because the literal maps below need
    # unique keys; matches the packed path's boosts-dict folding
    folded: dict[str, float] = {}
    for t, w in terms_boosts:
        folded[t] = folded.get(t, 0.0) + float(w)
    terms_boosts = list(folded.items())
    if df_map is None:
        df_map = resolve_df(index, [t for t, _ in terms_boosts])
    term_list = [t for t, _ in terms_boosts]
    hits = index.postings.filter(F.col("term").isin(term_list))
    payload = F.col("payload") if "payload" in index.postings.columns else None
    # per-term constants: boost and df (idf is a function of df alone,
    # so sim.score_expr sees a literal df column and Catalyst constant-
    # folds the idf arithmetic per map entry)
    boost_entries: list[Column] = []
    df_entries: list[Column] = []
    for t, b in terms_boosts:
        if t not in df_map:
            continue  # unknown term: no postings, no partials
        boost_entries += [F.lit(t), F.lit(float(b))]
        df_entries += [F.lit(t), F.lit(float(df_map[t]))]
    if not boost_entries:
        return hits.limit(0).select(
            "doc_id",
            "term",
            F.lit(0.0).alias("boost"),
            F.lit(0.0).alias("partial"),
        )
    boost_col = F.create_map(*boost_entries)[F.col("term")]
    df_col = F.create_map(*df_entries)[F.col("term")]
    partial = sim.score_expr(
        F.col("tf"), df_col, F.col("dl"), index.avgdl, index.n_docs,
        payload=payload,
    )
    return hits.select(
        "doc_id",
        "term",
        boost_col.alias("boost"),
        (boost_col * partial).alias("partial"),
    )


def explain_terms(
    index: InvertedIndex,
    terms_boosts: list[tuple[str, float]],
    sim: Similarity = BM25,
    df_map: dict[str, int] | None = None,
    round_to: int = 5,
) -> DataFrame:
    """Lucene Explanation / Solr ``debugQuery=true`` analogue: one row
    per (matching doc, query term) decomposing the served score into
    its factors — the debugging surface every reference plugin's
    similarity change is validated through (Solr renders
    IndexSearcher.explain for each hit; the reference's similarity
    suite, e.g. DiceDefaultSimilarity.java, is exactly a change to
    these factors).

    Columns: (doc_id, term, tf, df, boost, idf, tf_norm, norm,
    partial) where partial = boost * score_expr(...) — the same
    expression tree search_terms sums, built from the same
    Similarity.factor_exprs, so grouping partials by doc reproduces
    the /select score bit-for-bit (asserted in test_scoring).

    Plan shape matches score_terms: one isin-pruned postings scan,
    df/boost folded as literal maps (the driver-side TermStates step),
    zero joins — explain costs the same single codegen'd projection
    as scoring."""
    folded: dict[str, float] = {}
    for t, w in terms_boosts:
        folded[t] = folded.get(t, 0.0) + float(w)
    terms_boosts = list(folded.items())
    if df_map is None:
        df_map = resolve_df(index, [t for t, _ in terms_boosts])
    term_list = [t for t, _ in terms_boosts]
    hits = index.postings.filter(F.col("term").isin(term_list))
    payload = F.col("payload") if "payload" in index.postings.columns else None
    boost_entries: list[Column] = []
    df_entries: list[Column] = []
    for t, b in terms_boosts:
        if t not in df_map:
            continue
        boost_entries += [F.lit(t), F.lit(float(b))]
        df_entries += [F.lit(t), F.lit(float(df_map[t]))]
    if not boost_entries:
        return hits.limit(0).select(
            "doc_id",
            "term",
            F.lit(0).cast("bigint").alias("tf"),
            F.lit(0).cast("bigint").alias("df"),
            F.lit(0.0).alias("boost"),
            F.lit(0.0).alias("idf"),
            F.lit(0.0).alias("tf_norm"),
            F.lit(0.0).alias("norm"),
            F.lit(0.0).alias("partial"),
        )
    boost_col = F.create_map(*boost_entries)[F.col("term")]
    df_col = F.create_map(*df_entries)[F.col("term")]
    fx = sim.factor_exprs(
        F.col("tf"), df_col, F.col("dl"), index.avgdl, index.n_docs,
        payload=payload,
    )
    partial = boost_col * sim.score_expr(
        F.col("tf"), df_col, F.col("dl"), index.avgdl, index.n_docs,
        payload=payload,
    )
    return hits.select(
        "doc_id",
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        df_col.cast("bigint").alias("df"),
        boost_col.alias("boost"),
        F.round(fx["idf"], round_to).alias("idf"),
        F.round(fx["tf_norm"], round_to).alias("tf_norm"),
        F.round(fx["norm"], round_to).alias("norm"),
        F.round(partial, round_to).alias("partial"),
    )


def search_terms(
    index: InvertedIndex,
    terms_boosts: list[tuple[str, float]],
    k: int = 10,
    min_should_match: int = 1,
    sim: Similarity = BM25,
    must_doc_ids: DataFrame | None = None,
    exclude_doc_ids: DataFrame | None = None,
    round_to: int = 5,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Top-k docs for a boosted OR query (BooleanQuery SHOULD +
    minShouldMatch, MLTQuery.java:46-53; mm default "1"
    MoreLikeThis.java:147).

    ``after``: (score, doc_id) of the LAST hit of the previous page —
    Lucene IndexSearcher.searchAfter / Solr cursorMark. Returns the
    next k docs strictly after that cursor in (score desc, doc_id
    asc) order. Cursor paging keeps per-page work at k rows at any
    depth, where OFFSET paging refetches offset+k rows per page.
    Scores are rounded before ranking, so the cursor compares exactly
    against the same rounded values the client saw.

    Deterministic tie-break: (score desc, doc_id asc) — required for
    the rank-identical criterion (SURVEY.md §2.5). Scores are rounded
    BEFORE ranking so rank order is reproducible across engines and
    partition counts (float sum order differences live far below
    1e-5). ORDER BY + LIMIT compiles to TakeOrderedAndProject —
    distributed per-partition top-k then driver merge, never a global
    sort.
    """
    partials = score_terms(index, terms_boosts, sim=sim)
    scored = partials.groupBy("doc_id").agg(
        F.round(F.sum("partial"), round_to).alias("score"),
        F.count(F.lit(1)).alias("matched"),
    )
    if min_should_match > 1:
        scored = scored.filter(F.col("matched") >= min_should_match)
    if must_doc_ids is not None:
        scored = scored.join(must_doc_ids.select("doc_id"), "doc_id", "left_semi")
    if exclude_doc_ids is not None:
        scored = scored.join(exclude_doc_ids.select("doc_id"), "doc_id", "left_anti")
    if after is not None:
        s_a, d_a = float(after[0]), int(after[1])
        scored = scored.filter(
            (F.col("score") < s_a)
            | ((F.col("score") == s_a) & (F.col("doc_id") > d_a))
        )
    return (
        scored.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def docs_containing(index: InvertedIndex, term: str) -> DataFrame:
    """DocSet for one term — a semi-joinable (doc_id) frame."""
    return index.postings.filter(F.col("term") == term).select("doc_id")


def classic_coord_search(
    index: InvertedIndex,
    terms_boosts: list[tuple[str, float]],
    k: int = 10,
    coord: bool = True,
    query_norm: bool = True,
    round_to: int = 5,
) -> DataFrame:
    """Classic (Lucene TFIDF) multi-clause scoring WITH the query-level
    factors the Dice similarity defines (DiceDefaultSimilarity.java:64-74):

        coord(q,d)   = overlap / maxOverlap   (matched / total clauses)
        queryNorm(q) = 1 / sqrt(sum_t (idf(t) * boost_t)^2)

    Full classic score (TFIDFSimilarity composition — idf appears
    squared because the query weight idf*boost is multiplied by the
    field factor tf*idf*norm):

        score(q,d) = coord * queryNorm
                     * sum_t sqrt(tf) * idf(t)^2 * boost_t / sqrt(dl)

    queryNorm needs only the query terms' df — a bounded driver-side
    dictionary lookup (exactly when Lucene computes clause weights),
    not a corpus job.
    """
    spark = index.postings.sparkSession
    term_list = sorted({t for t, _ in terms_boosts})
    n = float(index.n_docs)
    df_map = resolve_df(index, term_list)
    idf_map = {t: (np.log(n / (df_map[t] + 1.0)) + 1.0) for t in df_map}
    qn = 1.0
    if query_norm:
        ssq = sum((idf_map.get(t, 0.0) * w) ** 2 for t, w in terms_boosts)
        qn = 1.0 / np.sqrt(ssq) if ssq > 0 else 1.0
    n_clauses = len(terms_boosts)

    # per-term constants fold into literal maps (the score_terms
    # shape): no query-terms frame, no broadcast — a createDataFrame
    # round-trip costs ~0.3 s per query on this host (measured,
    # BENCH/BASELINE.md r05), and Catalyst constant-folds the map
    # lookups into the same codegen stage as the scan
    live = [(t, float(w)) for t, w in terms_boosts if t in df_map]
    if not live:
        return empty_df(spark, "doc_id long, score double")
    boost_entries: list[Column] = []
    idf_entries: list[Column] = []
    for t, w in live:
        boost_entries += [F.lit(t), F.lit(float(w))]
        idf_entries += [F.lit(t), F.lit(float(idf_map.get(t, 0.0)))]
    hits = index.postings.filter(F.col("term").isin(term_list)).select(
        "doc_id", "tf", "dl",
        F.create_map(*boost_entries)[F.col("term")].alias("boost"),
        F.create_map(*idf_entries)[F.col("term")].alias("idf"),
    )
    partial = (
        F.sqrt(F.col("tf").cast("double"))
        * F.col("idf") * F.col("idf") * F.col("boost")
        / F.sqrt(F.col("dl").cast("double"))
    )
    scored = hits.select("doc_id", partial.alias("partial")).groupBy("doc_id").agg(
        F.sum("partial").alias("_s"), F.count(F.lit(1)).alias("matched")
    )
    coord_col = (
        (F.col("matched").cast("double") / F.lit(float(n_clauses)))
        if coord
        else F.lit(1.0)
    )
    return (
        scored.select(
            "doc_id",
            F.round(coord_col * F.lit(float(qn)) * F.col("_s"), round_to).alias(
                "score"
            ),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
