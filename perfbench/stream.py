"""Seeded request stream, the calls that serve it, and its answer checks.

The stream is a closed loop of whole cycles. A cycle holds every pool
entry of every packed template once: 10 search, 6 facet and 4 mlt
requests, the classes and, within a class, the templates interleaved.
Every cycle, and so every run, serves the same mix. The mix is
synthetic: no recorded traffic sets its weights. The flat class is a
fixed phase after the loop of the traced run: the first
FLAT_PER_TEMPLATE entries of each flat template's pool, once. The seed picks every term, phrase, seed
doc, cursor page and facet query; the corpus itself is fixed.

Every answer is checked outside the timed section against a reference:
packed search and mlt answers against the flat engine, flat answers
against the packed engine, facet-family answers against pandas over
the matched docs.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pandas as pd

from solrplugins_spark.corpus import PLANTS
from solrplugins_spark.index import segments as S
from solrplugins_spark.query import compiler, feedback, handlers, mlt, rerank, scorer
from solrplugins_spark.query.mlt import MLTParams
from solrplugins_spark.analysis.tokenizer import tokenize_pandas

K = 10
MLT_PARAMS = MLTParams(min_doc_freq=2, max_query_terms=20)

# df bands by vocabulary rank: the corpus draws ranks with a power-law
# skew, so rank order is df order up to sampling noise
BANDS = {
    "rare": sorted(PLANTS),
    "tail": [f"w{i:04d}" for i in range(300, 5000)],
    "torso": [f"w{i:04d}" for i in range(10, 300)],
    "head": [f"w{i:04d}" for i in range(10)],
}
# Every seed draws the same band signatures, so runs differ in their
# terms, not in how much work their requests do.
BAG_BANDS = (("torso", "head"), ("rare", "tail", "head"), ("rare",), ("tail",),
             ("torso", "tail", "tail", "head"), ("unknown", "torso"))
FACET_BANDS = (("or", ("rare",)), ("or", ("tail", "torso")), ("and", ("torso", "head")))
TREE_SHAPES = (("{} and {} or {}", ("torso", "head", "rare")),
               ("{} and not {}", ("head", "torso")),
               ("({} or {}) and {}", ("tail", "torso", "head")))
UF_BANDS = ("tail", "torso")
N_PHRASES, N_CURSORS, N_RERANKS, N_SEEDS = 1, 1, 1, 2
SEED_DOC_TOKENS = (12, 20)  # token count range of /mlt seed docs

TEMPLATES = {
    "search": ("bag", "phrase", "phrase_slop", "cursor", "rerank"),
    "facet": ("facet", "collapse", "range", "stats", "facet_query", "stats_facet"),
    "mlt": ("mlt", "uf"),
}
FLAT = ("flat_bag", "flat_tree", "flat_mlt", "flat_uf")
FLAT_PER_TEMPLATE = 2  # pool entries of each flat template in the flat phase


@dataclass(frozen=True)
class Req:
    cls: str
    kind: str
    call: str  # the engine call that serves it
    ref: str  # the engine or pandas call whose answer it must equal
    args: tuple


class Draw:
    """Seeded draws of terms, phrases, seed docs and facet queries."""

    def __init__(self, seed: int, texts: pd.Series):
        self.rng = np.random.default_rng(seed)
        self.texts = texts
        self.n_tokens = texts.str.split().str.len().to_numpy()

    def term(self, band: str) -> str:
        """A Zipf-weighted draw within a df band; ``unknown`` is a term
        no document holds."""
        if band == "unknown":
            return f"nx{int(self.rng.integers(10**6)):06d}"
        items = BANDS[band]
        w = 1.0 / np.arange(1, len(items) + 1)
        return items[int(self.rng.choice(len(items), p=w / w.sum()))]

    def terms(self, bands) -> tuple:
        out: list[str] = []
        for band in bands:
            t = self.term(band)
            while t in out:
                t = self.term(band)
            out.append(t)
        return tuple(out)

    def bag(self, bands) -> tuple:
        return tuple((t, float(self.rng.choice([0.5, 1.0, 2.0]))) for t in self.terms(bands))

    def doc(self, lo: int, hi: int) -> int:
        ids = np.flatnonzero((self.n_tokens >= lo) & (self.n_tokens <= hi))
        return int(ids[self.rng.integers(len(ids))])

    def phrase(self) -> tuple:
        toks = self.texts.iloc[self.doc(4, 64)].split()
        i = int(self.rng.integers(len(toks) - 1))
        return (toks[i], toks[i + 1])


def qstring(fq: tuple) -> str:
    op, terms = fq
    return f" {op} ".join(terms)


def build_pools(draw: Draw, first_page) -> dict[str, list[Req]]:
    """Distinct requests per template. ``first_page(bag)`` serves the
    page-1 request whose last row is the cursor of a page-2 request."""
    bags = [draw.bag(b) for b in BAG_BANDS]
    fqs = [(op, draw.terms(b)) for op, b in FACET_BANDS]
    seeds = [draw.doc(*SEED_DOC_TOKENS) for _ in range(N_SEEDS)]
    uf_terms = [draw.term(b) for b in UF_BANDS]
    trees = [shape.format(*draw.terms(b)) for shape, b in TREE_SHAPES]
    cursors = []
    for _ in range(N_CURSORS):
        bag = draw.bag(("head", "torso"))
        last = first_page(bag)[-1]
        cursors.append((bag, (float(last[1]), int(last[0]))))
    pools = {
        "bag": [Req("search", "bag", "wand_search", "search_terms", (b, None)) for b in bags],
        "phrase": [Req("search", "phrase", "wand_phrase", "flat_phrase", (draw.phrase(), 0))
                   for _ in range(N_PHRASES)],
        "phrase_slop": [Req("search", "phrase_slop", "wand_phrase", "flat_phrase",
                            (draw.phrase(), 2)) for _ in range(N_PHRASES)],
        "cursor": [Req("search", "cursor", "wand_search", "search_terms", c) for c in cursors],
        "rerank": [Req("search", "rerank", "wand_rerank", "flat_rerank",
                       (qstring(fq), draw.term("torso"))) for fq in fqs[:N_RERANKS]],
        "mlt": [Req("mlt", "mlt", "packed_mlt", "more_like_this", (d,)) for d in seeds],
        "uf": [Req("mlt", "uf", "packed_uf", "unsupervised_feedback", (t,)) for t in uf_terms],
        "flat_bag": [Req("flat", "flat_bag", "search_terms", "wand_search", (b, None))
                     for b in bags],
        "flat_tree": [Req("flat", "flat_tree", "execute_query", "wand_boolean", (t,))
                      for t in trees],
        "flat_mlt": [Req("flat", "flat_mlt", "more_like_this", "packed_mlt", (d,)) for d in seeds],
        "flat_uf": [Req("flat", "flat_uf", "unsupervised_feedback", "packed_uf", (t,))
                    for t in uf_terms],
    }
    for i, kind in enumerate(TEMPLATES["facet"]):
        # one facet query per template; each query shape serves two templates
        fq = fqs[i % len(fqs)]
        pools[kind] = [Req("facet", kind, f"wand_{kind}", f"pandas_{kind}", (fq,))]
    return pools


def _interleave(lists) -> list:
    """Round-robin over lists of unequal length."""
    out = []
    for i in range(max(map(len, lists))):
        out += [xs[i] for xs in lists if i < len(xs)]
    return out


def cycle(pools: dict[str, list[Req]]) -> list[Req]:
    """One cycle of the loop: every pool entry of every packed template
    once, classes interleaved and, within a class, templates."""
    return _interleave([_interleave([pools[kind] for kind in kinds])
                        for kinds in TEMPLATES.values()])


def warm_up(pools: dict[str, list[Req]], flat: bool) -> list[Req]:
    """The first pool entry of every packed template, and with ``flat``
    of every flat one. On the Spark path a template's first request can
    run twice as long as later ones, while the JVM compiles its plans."""
    kinds = [kind for kinds in TEMPLATES.values() for kind in kinds]
    return [pools[kind][0] for kind in kinds + (list(FLAT) if flat else [])]


# -- serving calls ---------------------------------------------------------
def _topk(rows) -> tuple:
    return tuple((int(r["doc_id"]), round(float(r["score"]), 5)) for r in rows)


def _rows(rows) -> tuple:
    return tuple(tuple(r) for r in rows)


class Engine:
    """The calls that serve requests, as closures over the index.

    Each call returns raw collected rows; ``normalize`` turns them into
    a comparable answer outside the timed section. Functions are looked
    up on their modules at call time, so the tracer's wrappers apply.
    """

    def __init__(self, spark, seg, idx):
        self.spark, self.seg, self.idx = spark, seg, idx

    def run(self, call: str, args: tuple):
        sp, seg, idx = self.spark, self.seg, self.idx
        if call == "wand_search":
            bag, after = args
            return S.wand_search(sp, seg, list(bag), k=K, after=after).collect()
        if call == "search_terms":
            bag, after = args
            return scorer.search_terms(idx, list(bag), k=K, after=after).collect()
        if call == "wand_phrase":
            terms, slop = args
            return S.wand_phrase_search(sp, seg, list(terms), k=K, slop=slop).collect()
        if call == "flat_phrase":
            terms, slop = args
            q = '"' + " ".join(terms) + '"' + (f"~{slop}" if slop else "")
            return compiler.execute_query(idx, q, k=K).collect()
        if call == "wand_rerank":
            base, rr = args
            return S.wand_rerank_search(sp, seg, base, rr, k=K, rerank_docs=30,
                                        weight=2.0).collect()
        if call == "flat_rerank":
            base, rr = args
            return rerank.rerank_search(idx, base, rr, k=K, rerank_docs=30,
                                        weight=2.0).collect()
        if call == "wand_boolean":
            return S.wand_boolean_search(sp, seg, args[0], k=K).collect()
        if call == "execute_query":
            return compiler.execute_query(idx, args[0], k=K).collect()
        if call == "packed_mlt":
            return handlers.packed_mlt_handler(sp, seg, [args[0]], MLT_PARAMS,
                                               k=K)["docs"].collect()
        if call == "more_like_this":
            return mlt.more_like_this(idx, [args[0]], MLT_PARAMS, k=K).collect()
        if call == "packed_uf":
            return handlers.packed_feedback_handler(sp, seg, args[0], MLT_PARAMS,
                                                    k=K)["docs"].collect()
        if call == "unsupervised_feedback":
            return feedback.unsupervised_feedback(idx, args[0], k=K,
                                                  params=MLT_PARAMS).collect()
        q = qstring(args[0])
        if call == "wand_facet":
            return S.wand_facet_search(sp, seg, q, "role").collect()
        if call == "wand_collapse":
            return S.wand_collapse_search(sp, seg, q, "role", k=K).collect()
        if call == "wand_range":
            return S.wand_facet_range_search(sp, seg, q, "turn_idx", 0, 20, 5).collect()
        if call == "wand_stats":
            return S.wand_stats_search(sp, seg, q, "turn_idx").collect()
        if call == "wand_facet_query":
            return S.wand_facet_query_search(sp, seg, q, facet_queries(args[0])).collect()
        if call == "wand_stats_facet":
            return S.wand_stats_facet_search(sp, seg, q, "turn_idx", "role").collect()
        raise KeyError(call)

    def normalize(self, call: str, rows):
        if call in ("wand_facet", "wand_facet_query", "wand_collapse"):
            return frozenset(_rows(rows))
        if call in ("wand_range", "wand_stats"):
            return _rows(rows)
        if call == "wand_stats_facet":
            return {r[0]: tuple(r[1:]) for r in _rows(rows)}
        return _topk(rows)


def facet_queries(fq: tuple) -> dict[str, str]:
    return {"t": fq[1][0], "early": "turn_idx:[0 TO 5]"}


# -- references ------------------------------------------------------------
def _stats(v: np.ndarray) -> tuple:
    n = len(v)
    std = float(np.std(v, ddof=1)) if n > 1 else None
    return (n, int(v.min()), int(v.max()), int(v.sum()), float(v.mean()), std)


class Oracle:
    """Pandas answers for the facet family over the docs a query matches."""

    def __init__(self, docs: pd.DataFrame):
        self.docs = docs.set_index("doc_id").sort_index()
        post = defaultdict(set)
        for d, toks in zip(self.docs.index, tokenize_pandas(self.docs["text"])):
            for t in toks:
                post[t].add(int(d))
        self.post = post

    def matched(self, fq: tuple) -> pd.DataFrame:
        op, terms = fq
        sets = [self.post.get(t, set()) for t in terms]
        ids = set.union(*sets) if op == "or" else set.intersection(*sets)
        return self.docs.loc[sorted(ids)]

    def answer(self, kind: str, fq: tuple):
        m = self.matched(fq)
        if kind == "facet":
            return frozenset((r, int(c)) for r, c in m["role"].value_counts().items())
        if kind == "range":
            v = m["turn_idx"].to_numpy()
            return tuple((b, int(((v >= b) & (v < b + 5)).sum())) for b in range(0, 20, 5))
        if kind == "stats":
            return (_stats(m["turn_idx"].to_numpy()),) if len(m) else ()
        if kind == "facet_query":
            early = int(m["turn_idx"].between(0, 5).sum())
            t = len(set(m.index) & self.post.get(fq[1][0], set()))
            return frozenset((("early", early), ("t", t)))
        if kind == "stats_facet":
            return {role: _stats(g["turn_idx"].to_numpy()) for role, g in m.groupby("role")}
        raise KeyError(kind)


def collapse_answer(scored: pd.DataFrame, roles: pd.Series) -> frozenset:
    """Per-role best doc (score desc, doc asc), top-K groups."""
    s = scored.assign(role=roles.reindex(scored["doc_id"]).to_numpy())
    s = s.sort_values(["score", "doc_id"], ascending=[False, True])
    best = s.drop_duplicates("role").head(K)
    return frozenset((r, int(d), float(sc)) for r, d, sc in
                     zip(best["role"], best["doc_id"], best["score"]))


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and abs(a - b) <= 1.5e-5
    return a == b


def _rows_close(got, want) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def same(call: str, got, want) -> bool:
    """Compare an answer with its reference; facet rows in any order."""
    if call in ("wand_facet", "wand_facet_query", "wand_range"):
        return got == want
    if call == "wand_collapse":
        return _rows_close(sorted(got), sorted(want))
    if call == "wand_stats_facet":
        return got.keys() == want.keys() and _rows_close(
            [got[k] for k in sorted(got)], [want[k] for k in sorted(want)])
    return _rows_close(got, want)


class Checker:
    """Reference answers, memoised per (call, args)."""

    def __init__(self, engine: Engine, oracle: Oracle):
        self.engine, self.oracle = engine, oracle
        self.memo: dict[tuple, object] = {}

    def remember(self, call: str, args: tuple, answer):
        self.memo.setdefault((call, args), answer)

    def reference(self, req: Req):
        key = (req.ref, req.args)
        if key not in self.memo:
            self.memo[key] = self._compute(req)
        return self.memo[key]

    def _compute(self, req: Req):
        if req.ref.startswith("pandas_"):
            kind = req.ref[len("pandas_"):]
            if kind == "collapse":
                rows = compiler.execute_query(self.engine.idx, qstring(req.args[0]),
                                              k=len(self.oracle.docs)).collect()
                scored = pd.DataFrame(_topk(rows), columns=["doc_id", "score"])
                return collapse_answer(scored, self.oracle.docs["role"])
            return self.oracle.answer(kind, req.args[0])
        return self.engine.normalize(req.ref, self.engine.run(req.ref, req.args))

    def prefetch(self, req: Req) -> None:
        """Compute and keep the reference of ``req``; a failure is left
        for ``check`` to raise."""
        try:
            self.reference(req)
        except Exception:
            pass

    def check(self, req: Req, answer) -> bool:
        return same(req.call, answer, self.reference(req))
