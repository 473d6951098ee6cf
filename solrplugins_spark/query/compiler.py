"""AST -> DataFrame plan compiler.

Leaves compile to posting-list lookups; internal nodes to set algebra
on (doc_id, score) frames (SURVEY.md §1.4):
  Or   -> union + groupBy(doc_id).sum          (BooleanQuery SHOULD)
  And  -> inner join, scores summed            (MUST clauses,
          MoreLikeThis.java:1057-1073)
  Not  -> left_anti against the corpus docset  (MUST_NOT,
          MoreLikeThisHelper.java:149-175)
  Quote-> exact adjacency via positional postings when the index has
          them (build_index(positions=True)); stored-text containment
          fallback otherwise. The packed-index equivalents live in
          index/segments.py (wand_phrase_search / wand_boolean_search)
  FieldQuery -> route to the named field's index
  `*:*`-> match-all with score 0 (error-recovery wildcard)

Efficiency: ALL positive leaf terms in the tree are scored with ONE
postings scan (score_terms over the union of terms); each leaf then
filters its slice from that cached partials frame. The boolean
algebra is pure joins/aggs — no second pass over the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analysis.tokenizer import tokenize_pandas, tokens_col
from ..index.builder import InvertedIndex
from . import ast
from .parser import parse_query
from .scorer import BM25, Similarity, score_terms

import pandas as pd

MATCH_ALL = "*:*"


def is_match_all(node: ast.Expression) -> bool:
    """`*:*` (every doc, score 0): the operand error recovery leaves,
    or the FieldQuery('*:', Operand('*')) parse_query reads it as."""
    if isinstance(node, ast.FieldQuery) and node.field == "*:":
        return isinstance(node.child, ast.Operand) and node.child.value == "*"
    return isinstance(node, ast.Operand) and node.value == MATCH_ALL


def phrase_match_docs(index: InvertedIndex, phrase_terms: list[str]) -> DataFrame:
    """DocSet containing the exact phrase, from positional postings.

    For phrase t0..tn: docs where intersect(pos(t0), pos(t1)-1, ...,
    pos(tn)-n) is non-empty. n-1 joins on doc_id over posting slices —
    each slice is one term's postings, so the plan is n pruned scans +
    broadcast/sort-merge joins, never a corpus scan."""
    base = index.postings
    cur = (
        base.filter(F.col("term") == phrase_terms[0])
        .select("doc_id", F.col("positions").alias("_p"))
    )
    def _shift(offset: int):
        # one-arg lambda: pyspark feeds (element, index) to 2-arg lambdas
        return lambda x: x - F.lit(offset)

    for i, t in enumerate(phrase_terms[1:], start=1):
        nxt = base.filter(F.col("term") == t).select(
            "doc_id",
            F.transform("positions", _shift(i)).alias("_pi"),
        )
        cur = (
            cur.join(nxt, "doc_id")
            .select("doc_id", F.array_intersect("_p", "_pi").alias("_p"))
            .filter(F.size("_p") > 0)
        )
    return cur.select("doc_id")


def sloppy_phrase_match_docs(
    index: InvertedIndex, phrase_terms: list[str], slop: int
) -> DataFrame:
    """DocSet for `"t0 .. tn"~slop` — ordered SpanNearQuery semantics:
    an in-order occurrence chain p_0 < p_1 < ... < p_n whose window
    holds at most ``slop`` extra positions (p_n - p_0 - n <= slop).

    Plan shape: n-1 joins on doc_id over single-term posting slices
    (same as the exact path), with the chain evaluated entirely in
    JVM higher-order array expressions. Each doc carries one candidate
    struct per occurrence of t0 — (s = chain start, e = greedy chain
    end) — and each join step extends every candidate to the FIRST
    t_i position past its current end. Greedy-minimal extension is
    exact: for a fixed start, minimizing the chain end minimizes the
    final window, so a start matches iff its greedy chain does.
    Candidates whose window already exceeds slop are pruned at every
    step, bounding the array at |positions(t0)| entries."""
    base = index.postings
    cur = base.filter(F.col("term") == phrase_terms[0]).select(
        "doc_id",
        F.expr("transform(positions, p -> struct(p as s, p as e))").alias("_c"),
    )
    for i, t in enumerate(phrase_terms[1:], start=1):
        nxt = base.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias("_pi")
        )
        step = (
            "filter(transform(_c, c -> struct(c.s as s, "
            "array_min(filter(_pi, q -> q > c.e)) as e)), "
            f"c -> c.e is not null and c.e - c.s - {i} <= {int(slop)})"
        )
        cur = (
            cur.join(nxt, "doc_id")
            .select("doc_id", F.expr(step).alias("_c"))
            .filter(F.size("_c") > 0)
        )
    return cur.select("doc_id")


def _leaf_count(node: ast.Expression) -> int:
    if isinstance(node, ast.Operand):
        return 1
    if isinstance(node, (ast.Or, ast.And)):
        return _leaf_count(node.left) + _leaf_count(node.right)
    if isinstance(node, (ast.Not, ast.Quote)):
        return _leaf_count(node.child)
    if isinstance(node, ast.FieldQuery):
        return _leaf_count(node.child)
    return 0


def _leaf_terms(node: ast.Expression) -> list[str]:
    """All analyzed terms under positive + negative leaves."""
    if is_match_all(node):
        return []
    if isinstance(node, ast.Operand):
        return list(tokenize_pandas(pd.Series([node.value]))[0])
    if isinstance(node, (ast.Or, ast.And)):
        return _leaf_terms(node.left) + _leaf_terms(node.right)
    if isinstance(node, (ast.Not, ast.Quote)):
        return _leaf_terms(node.child)
    if isinstance(node, ast.FieldQuery):
        return _leaf_terms(node.child)
    return []


def _fusable(node: ast.Expression) -> bool:
    """True when the tree holds only term operands + And/Or/Not —
    the shapes whose boolean algebra needs no frame other than the
    leaf-term partials (and possibly the corpus docset)."""
    if isinstance(node, ast.Operand) or is_match_all(node):
        return True  # incl. match-all (constant matched=True, score 0)
    if isinstance(node, (ast.Or, ast.And)):
        return _fusable(node.left) and _fusable(node.right)
    if isinstance(node, ast.Not):
        return _fusable(node.child)
    return False


def _zero_term_match(node: ast.Expression) -> bool:
    """Matched-value of the tree for a doc holding ZERO query terms —
    True means the complement is reachable and the fused plan must
    start from the corpus docset, not just the aggregated hits."""
    if is_match_all(node):
        return True
    if isinstance(node, ast.Operand):
        return False
    if isinstance(node, ast.Or):
        return _zero_term_match(node.left) or _zero_term_match(node.right)
    if isinstance(node, ast.And):
        return _zero_term_match(node.left) and _zero_term_match(node.right)
    if isinstance(node, ast.Not):
        return not _zero_term_match(node.child)
    return False


def _pivot_partials(partials: DataFrame, terms: list[str]):
    """One groupBy(doc_id) turning (doc_id, term, partial) rows into a
    per-term COLUMN each (null = term absent from doc). Conditional
    max-when pivots stay inside whole-stage codegen with map-side
    partial aggregation — measured ~20% faster end-to-end than a
    map_from_entries(collect_list) ObjectHashAggregate, whose per-doc
    map build falls out of codegen and whose first-run plan analysis
    cost grows badly with term count. Returns (frame, lookup) where
    lookup(term) is that term's partial Column (null-safe)."""
    names = {t: f"_p{i}" for i, t in enumerate(terms)}
    agg = partials.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == F.lit(t), F.col("partial"))).alias(n)
            for t, n in names.items()
        ]
    )
    return agg, lambda t: F.col(names[t])


def _eval_tree(node: ast.Expression, lookup) -> tuple:
    """(matched: Column, score: Column) for the tree over per-doc
    term partials: ``lookup(term)`` yields that term's partial Column,
    null when the doc lacks the term (null-safe: absent docs from the
    left join evaluate exactly like docs with no query term).

    Scoring mirrors the join algebra (and BooleanQuery): a clause
    contributes its score only when it matches; NOT contributes
    matched-complement with score 0; AND-with-NOT is subtraction
    (the positive side's score carries)."""
    if is_match_all(node):
        return F.lit(True), F.lit(0.0)
    if isinstance(node, ast.Operand):
        toks = sorted(set(tokenize_pandas(pd.Series([node.value]))[0]))
        if not toks:
            return F.lit(False), F.lit(0.0)
        parts = [lookup(t) for t in toks]
        matched = parts[0].isNotNull()
        score = F.coalesce(parts[0], F.lit(0.0))
        for p in parts[1:]:
            matched = matched | p.isNotNull()
            score = score + F.coalesce(p, F.lit(0.0))
        return matched, score
    if isinstance(node, ast.Or):
        ml, sl = _eval_tree(node.left, lookup)
        mr, sr = _eval_tree(node.right, lookup)
        return (
            ml | mr,
            F.when(ml, sl).otherwise(0.0) + F.when(mr, sr).otherwise(0.0),
        )
    if isinstance(node, ast.And):
        ml, sl = _eval_tree(node.left, lookup)
        mr, sr = _eval_tree(node.right, lookup)
        return ml & mr, sl + sr
    if isinstance(node, ast.Not):
        mc, _ = _eval_tree(node.child, lookup)
        return ~mc, F.lit(0.0)
    raise TypeError(f"unfusable AST node: {node!r}")


class QueryCompiler:
    def __init__(
        self,
        index: InvertedIndex,
        sim: Similarity = BM25,
        field_indexes: dict[str, InvertedIndex] | None = None,
        field_sims: dict[str, Similarity] | None = None,
    ):
        """``field_sims``: per-field Similarity overrides — the
        SchemaSimilarityFactory per-field k1/b mechanism the reference
        leans on (README.md:25). A FieldQuery clause scores with its
        field's similarity; unlisted fields inherit ``sim``."""
        self.index = index
        self.sim = sim
        self.field_indexes = field_indexes or {}
        self.field_sims = field_sims or {}

    def compile(self, node: ast.Expression) -> DataFrame:
        """(doc_id, score) frame for the whole tree.

        One postings scan for all leaf terms, then recursive algebra.
        Trees made only of term operands + AND/OR/NOT take the FUSED
        path: the whole boolean evaluates as column expressions over a
        per-doc term->partial map, so the plan is one pruned scan ->
        ONE groupBy(doc_id) shuffle -> filter/project — the flat-path
        twin of the packed evaluator's single vectorized pass
        (segments._segment_match), instead of one shuffle/join
        per tree node. Quote/Range/FieldQuery leaves reference other
        frames (positions, stored corpus, per-field indexes) and keep
        the join algebra.
        """
        all_terms = _leaf_terms(node)
        terms = sorted(set(all_terms))
        if terms and _fusable(node):
            return self._fused(node, terms)
        partials = None
        if terms:
            partials = score_terms(
                self.index, [(t, 1.0) for t in terms], sim=self.sim
            )
            # cache only when multiple leaves will re-read the frame —
            # a persist on a single-use frame just adds a barrier
            if len(all_terms) > len(terms) or _leaf_count(node) > 1:
                partials = partials.persist()
        return self._compile(node, partials)

    def _fused(self, node: ast.Expression, terms: list[str]) -> DataFrame:
        partials = score_terms(
            self.index, [(t, 1.0) for t in terms], sim=self.sim
        )
        agg, lookup = _pivot_partials(partials, terms)
        # docs holding NONE of the query terms can still match when a
        # NOT sits under OR (or bare) — detected structurally, so the
        # corpus docset joins in only when the complement is reachable
        if _zero_term_match(node):
            base = self.index.doclen.select("doc_id").join(agg, "doc_id", "left")
        else:
            base = agg
        matched, score = _eval_tree(node, lookup)
        return base.filter(matched).select("doc_id", score.alias("score"))

    # -- node handlers -------------------------------------------------
    def _compile(self, node: ast.Expression, partials: DataFrame | None) -> DataFrame:
        if is_match_all(node):
            return self.index.doclen.select("doc_id").withColumn("score", F.lit(0.0))
        if isinstance(node, ast.Operand):
            return self._operand(node, partials)
        if isinstance(node, ast.Or):
            l = self._compile(node.left, partials)
            r = self._compile(node.right, partials)
            return (
                l.unionByName(r)
                .groupBy("doc_id")
                .agg(F.sum("score").alias("score"))
            )
        if isinstance(node, ast.And):
            l = self._compile(node.left, partials)
            r = self._compile(node.right, partials)
            # NOT under AND = subtraction, not intersection
            if isinstance(node.right, ast.Not):
                return l.join(
                    self._compile(node.right.child, partials).select("doc_id"),
                    "doc_id",
                    "left_anti",
                )
            if isinstance(node.left, ast.Not):
                return r.join(
                    self._compile(node.left.child, partials).select("doc_id"),
                    "doc_id",
                    "left_anti",
                )
            return (
                l.unionByName(r)
                .groupBy("doc_id")
                .agg(F.sum("score").alias("score"), F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") == 2)
                .drop("_n")
            )
        if isinstance(node, ast.Not):
            # bare NOT: corpus docset minus matches, score 0
            matches = self._compile(node.child, partials).select("doc_id")
            all_docs = self.index.doclen.select("doc_id")
            return all_docs.join(matches, "doc_id", "left_anti").withColumn(
                "score", F.lit(0.0)
            )
        if isinstance(node, ast.Quote):
            return self._phrase(node)
        if isinstance(node, ast.Range):
            return self._range(None, node)
        if isinstance(node, ast.FieldQuery):
            if isinstance(node.child, ast.Range):
                return self._range(node.field.rstrip(":"), node.child)
            fname = node.field.rstrip(":")
            sub_index = self.field_indexes.get(fname, self.index)
            sub_sim = self.field_sims.get(fname, self.sim)
            sub = QueryCompiler(
                sub_index, sub_sim, self.field_indexes, self.field_sims
            )
            return sub.compile(node.child)
        raise TypeError(f"unknown AST node: {node!r}")

    def _range(self, field: str | None, node: ast.Range) -> DataFrame:
        """`field:[a TO b]` -> constant-score (1.0) DocSet from the
        stored corpus — the ConstantScoreRangeQuery semantic. Numeric
        bounds compare numerically, others lexicographically; the
        filter pushes into the corpus scan (Catalyst/parquet stats),
        so at 10^12 turns this is a pruned scan, not a corpus pass."""
        import re as _re

        if self.index.docs is None:
            raise ValueError("range queries need the stored corpus (index.docs)")
        col_name = field or "doc_id"
        if col_name not in self.index.docs.columns:
            raise ValueError(f"range field not in corpus: {col_name}")
        c = F.col(col_name)

        def _lit(v: str):
            if _re.fullmatch(r"-?\d+", v):
                return F.lit(int(v))
            try:
                return F.lit(float(v))
            except ValueError:
                return F.lit(v)

        cond = F.lit(True)
        if node.low is not None:
            lo = _lit(node.low)
            cond = cond & ((c >= lo) if node.include_low else (c > lo))
        if node.high is not None:
            hi = _lit(node.high)
            cond = cond & ((c <= hi) if node.include_high else (c < hi))
        return (
            self.index.docs.filter(cond)
            .select("doc_id")
            .withColumn("score", F.lit(1.0))
        )

    def _operand(self, node: ast.Operand, partials: DataFrame | None) -> DataFrame:
        toks = sorted(set(tokenize_pandas(pd.Series([node.value]))[0]))
        if not toks or partials is None:
            return self.index.doclen.select("doc_id").withColumn(
                "score", F.lit(0.0)
            ).limit(0)
        return (
            partials.filter(F.col("term").isin(toks))
            .groupBy("doc_id")
            .agg(F.sum("partial").alias("score"))
        )

    def _phrase(self, node: ast.Quote) -> DataFrame:
        """Exact consecutive-token phrase match; ``slop > 0`` relaxes
        to ordered span-near (see sloppy_phrase_match_docs).

        Positional index present -> postings-only adjacency
        (intersect position lists shifted by offset — the Lucene
        SpanNearQuery/PhraseQuery mechanism; no corpus scan).
        Otherwise -> containment check over the stored text (same
        adjacency semantics under this tokenizer, but scans the
        corpus; the v1 fallback documented in SURVEY.md §2.8).
        Sloppy phrases have no containment fallback — the window
        test needs real positions."""
        phrase_toks = list(tokenize_pandas(pd.Series([node.child.evaluate()]))[0])
        if not phrase_toks:
            return self.index.doclen.select("doc_id").withColumn(
                "score", F.lit(0.0)
            ).limit(0)
        slop = getattr(node, "slop", 0)
        if slop > 0 and "positions" not in self.index.postings.columns:
            raise ValueError(
                "sloppy phrases need positions — build_index(..., "
                "positions=True)"
            )
        if "positions" in self.index.postings.columns:
            if slop > 0 and len(phrase_toks) > 1:
                hits = sloppy_phrase_match_docs(self.index, phrase_toks, slop)
            else:
                hits = phrase_match_docs(self.index, phrase_toks)
        else:
            if self.index.docs is None:
                raise ValueError(
                    "phrase queries need positions or the stored corpus"
                )
            needle = " " + " ".join(phrase_toks) + " "
            joined = F.concat(
                F.lit(" "), F.array_join(tokens_col("text"), " "), F.lit(" ")
            )
            hits = self.index.docs.filter(joined.contains(needle)).select("doc_id")
        # score phrase docs by the sum of member-term BM25 partials
        parts = score_terms(self.index, [(t, 1.0) for t in sorted(set(phrase_toks))], self.sim)
        scores = parts.groupBy("doc_id").agg(F.sum("partial").alias("score"))
        return hits.join(scores, "doc_id", "left").fillna({"score": 0.0})


def compile_ast(
    index: InvertedIndex, node: ast.Expression, sim: Similarity = BM25
) -> DataFrame:
    return QueryCompiler(index, sim).compile(node)


def execute_query(
    index: InvertedIndex,
    query: str,
    k: int = 10,
    sim: Similarity = BM25,
    round_to: int = 5,
) -> DataFrame:
    """Parse -> compile -> deterministic top-k (score desc, doc_id asc)."""
    tree, _errors = parse_query(query)
    scored = compile_ast(index, tree, sim=sim)
    return (
        scored.select("doc_id", F.round("score", round_to).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
