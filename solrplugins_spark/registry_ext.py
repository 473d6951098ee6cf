"""Extended query registry: function queries, suggest/spellcheck,
analytics, dedup, ANN, text analysis — each as (Spark query, DuckDB
oracle) over the driver tables. See registry.py for the rules
(identical aliases, round(x,5) floats, mirrored tokenizer grammar).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .index.builder import forward_index
from .functions import (
    field_len,
    field_val,
    term_intersect,
    term_overlap,
)
from .registry import TOK_SQL, BM25_PARTIAL_SQL, _docs, _index

# ---------------------------------------------------------------------------
# forward-index cache (function queries)
# ---------------------------------------------------------------------------

_FWD_CACHE: dict[str, object] = {}


def _fwd(spark, sf_dir):
    if sf_dir not in _FWD_CACHE:
        _FWD_CACHE[sf_dir] = forward_index(_docs(spark, sf_dir)).persist()
    return _FWD_CACHE[sf_dir]


# ---- function queries ------------------------------------------------

def q_fq_termfreq(spark, sf_dir):
    """termfreq('dup') per doc (docs containing it)."""
    from .functions import term_freq

    fwd = _fwd(spark, sf_dir)
    return fwd.select("doc_id", term_freq("dup").alias("tf")).filter(F.col("tf") > 0)


SQL_FQ_TERMFREQ = f"WITH {TOK_SQL} SELECT doc_id, tf FROM tf WHERE term = 'dup'"


def q_fq_fieldlen(spark, sf_dir):
    fwd = _fwd(spark, sf_dir)
    return fwd.select(
        "doc_id",
        field_len().alias("fl_unique"),
        field_len(unique=False).alias("fl_total"),
    )


SQL_FQ_FIELDLEN = f"""
WITH {TOK_SQL}
SELECT doc_id, count(*)::BIGINT AS fl_unique, sum(tf)::BIGINT AS fl_total
FROM tf GROUP BY doc_id
"""


def q_fq_fieldval(spark, sf_dir):
    fwd = _fwd(spark, sf_dir)
    return fwd.filter(F.col("doc_id") < 50).select(
        "doc_id", field_val().alias("fieldval")
    )


SQL_FQ_FIELDVAL = f"""
WITH {TOK_SQL}
SELECT doc_id, string_agg(DISTINCT term, '||' ORDER BY term) AS fieldval
FROM tf WHERE doc_id < 50 GROUP BY doc_id
"""

_TI_PARAMS = ["dup", "batch", "window"]


def q_fq_termintersect(spark, sf_dir):
    fwd = _fwd(spark, sf_dir)
    return fwd.select(
        "doc_id",
        F.round(term_intersect(_TI_PARAMS, "jaccard"), 5).alias("jaccard"),
        F.round(term_intersect(_TI_PARAMS, "doc"), 5).alias("bydoc"),
        F.round(term_intersect(_TI_PARAMS, "param"), 5).alias("byparam"),
        F.round(term_intersect(_TI_PARAMS, "dice"), 5).alias("dice"),
    )


SQL_FQ_TERMINTERSECT = f"""
WITH {TOK_SQL},
per_doc AS (
  SELECT doc_id,
         count(*)::DOUBLE AS n_uniq,
         count(*) FILTER (WHERE term IN ('dup','batch','window'))::DOUBLE AS inter
  FROM tf GROUP BY doc_id
)
SELECT doc_id,
       round(inter / (n_uniq + 3 - inter), 5) AS jaccard,
       round(inter / n_uniq, 5) AS bydoc,
       round(inter / 3, 5) AS byparam,
       round(2 * inter / (n_uniq + 3), 5) AS dice
FROM per_doc
"""


def q_fq_termoverlap(spark, sf_dir):
    fwd = _fwd(spark, sf_dir)
    return fwd.select(
        "doc_id",
        F.round(term_overlap(_TI_PARAMS, use_doc_length=False), 5).alias("ovl_param"),
        F.round(term_overlap(_TI_PARAMS, use_doc_length=True), 5).alias("ovl_doc"),
    )


SQL_FQ_TERMOVERLAP = f"""
WITH {TOK_SQL},
per_doc AS (
  SELECT doc_id,
         count(*)::DOUBLE AS n_uniq,
         count(*) FILTER (WHERE term IN ('dup','batch','window'))::DOUBLE AS inter
  FROM tf GROUP BY doc_id
)
SELECT doc_id,
       round(inter / 3, 5) AS ovl_param,
       round(inter / n_uniq, 5) AS ovl_doc
FROM per_doc
"""


# ---- spellcheck / suggest -------------------------------------------

_SPELL_TOKENS = ["bacth", "wind0w", "dup", "batc"]
_SPELL_TYPOS = {"bacth": "batch"}


_SPELL_NGRAM_CACHE: dict[str, object] = {}


def _spell_ngrams(spark, sf_dir):
    """Build-time char-n-gram candidate index (FST-automaton analogue,
    VERDICT r03 item #7) — one dictionary explosion, reused per query."""
    if sf_dir not in _SPELL_NGRAM_CACHE:
        from .suggest import build_spell_ngram_index

        _SPELL_NGRAM_CACHE[sf_dir] = build_spell_ngram_index(
            _index(spark, sf_dir)
        ).persist()
    return _SPELL_NGRAM_CACHE[sf_dir]


def q_spellcheck(spark, sf_dir):
    from .suggest import spellcheck_suggest

    return spellcheck_suggest(
        _index(spark, sf_dir), _SPELL_TOKENS, typos=_SPELL_TYPOS,
        ngram_index=_spell_ngrams(spark, sf_dir),
    )


SQL_SPELLCHECK = f"""
WITH {TOK_SQL},
toks AS (
  SELECT * FROM (VALUES ('bacth'), ('wind0w'), ('dup'), ('batc')) t(token)
),
tok_freq AS (
  SELECT t.token, coalesce(d.df, 0) AS token_df
  FROM toks t LEFT JOIN dfreq d ON d.term = t.token
),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
edits AS (
  SELECT tf2.token, d.term AS suggestion, d.df AS freq,
         levenshtein(d.term, tf2.token) AS distance
  FROM tok_freq tf2 CROSS JOIN dfreq d CROSS JOIN n
  WHERE tf2.token_df <= 0.01 * n.n
    AND d.term <> tf2.token
    AND substr(d.term, 1, 1) = substr(tf2.token, 1, 1)
    AND abs(len(d.term) - len(tf2.token)) <= 2
    AND levenshtein(d.term, tf2.token) <= 2
    AND 1.0 - levenshtein(d.term, tf2.token)::DOUBLE
          / greatest(len(d.term), len(tf2.token)) >= 0.5
    AND d.df > tf2.token_df
),
overrides AS (
  SELECT tf2.token, 'batch' AS suggestion, d.df AS freq, -1 AS distance
  FROM tok_freq tf2 JOIN dfreq d ON d.term = 'batch'
  WHERE lower(trim(tf2.token)) = 'bacth' AND d.df > 0 AND d.df > tf2.token_df
),
all_sugg AS (
  SELECT token, suggestion, max(freq) AS freq, min(distance) AS distance
  FROM (SELECT * FROM edits UNION ALL SELECT * FROM overrides)
  GROUP BY token, suggestion
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY token
      ORDER BY (CASE WHEN distance < 0 THEN -1 ELSE distance END) ASC,
               freq DESC, suggestion ASC) AS rank
  FROM all_sugg
)
SELECT token, suggestion, freq, distance, rank FROM ranked WHERE rank <= 5
"""


def q_wand_spellcheck(spark, sf_dir):
    """DirectSpellChecker suggestions served from the PACKED tier: the
    dictionary is the termstats sidecar pruned to the token/typo
    prefix buckets (index.dictionary.wand_spellcheck_suggest) — the
    100-TB serve tier has no flat terms frame. Same oracle as the flat
    spellcheck gate: sidecar df == flat dictionary df, so the
    suggestion ranking is value-identical."""
    from .index.dictionary import wand_spellcheck_suggest

    return wand_spellcheck_suggest(
        spark, _segments(spark, sf_dir), _SPELL_TOKENS, typos=_SPELL_TYPOS
    )


def q_wand_suggest(spark, sf_dir):
    """Index-as-dictionary canonical suggest from the PACKED tier:
    HighFrequencyDictionary built from the prefix-pruned termstats
    sidecar (packed_dictionary), then the identical Title-case-
    decorated canonical merge as the flat suggest_canonical gate —
    same oracle."""
    from .index.dictionary import packed_dictionary
    from .suggest import canonical_suggest, high_frequency_dictionary

    d = packed_dictionary(spark, _segments(spark, sf_dir), prefixes=["s"])
    hf = high_frequency_dictionary(d, threshold=0.5)
    title = hf.select(
        F.concat(
            F.upper(F.substring("phrase", 1, 1)), F.expr("substring(phrase, 2)")
        ).alias("phrase"),
        (F.col("freq") + 1).alias("freq"),
    )
    return canonical_suggest(hf.unionByName(title), "s", count=10)


def q_spellcheck_collate(spark, sf_dir):
    """Whole-query collated rewrites from per-token suggestions
    (DiceSpellCheckComponent collate behavior): 'bacth window' ->
    ranked 'batch window'-style rewrites, scored by product of
    candidate frequencies."""
    from .suggest import spellcheck_collations

    return spellcheck_collations(
        _index(spark, sf_dir),
        ["bacth", "window"],
        typos=_SPELL_TYPOS,
        suggestions_per_token=3,
        max_collations=5,
        ngram_index=_spell_ngrams(spark, sf_dir),
    )


SQL_SPELLCHECK_COLLATE = f"""
WITH {TOK_SQL},
toks AS (SELECT * FROM (VALUES (0, 'bacth'), (1, 'window')) t(pos, token)),
tok_freq AS (
  SELECT t.pos, t.token, coalesce(d.df, 0) AS token_df
  FROM toks t LEFT JOIN dfreq d ON d.term = t.token
),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
edits AS (
  SELECT tf2.pos, tf2.token, d.term AS suggestion, d.df AS freq,
         levenshtein(d.term, tf2.token) AS distance
  FROM tok_freq tf2 CROSS JOIN dfreq d CROSS JOIN n
  WHERE tf2.token_df <= 0.01 * n.n
    AND d.term <> tf2.token
    AND substr(d.term, 1, 1) = substr(tf2.token, 1, 1)
    AND abs(len(d.term) - len(tf2.token)) <= 2
    AND levenshtein(d.term, tf2.token) <= 2
    AND 1.0 - levenshtein(d.term, tf2.token)::DOUBLE
          / greatest(len(d.term), len(tf2.token)) >= 0.5
    AND d.df > tf2.token_df
),
overrides AS (
  SELECT tf2.pos, tf2.token, 'batch' AS suggestion, d.df AS freq, -1 AS distance
  FROM tok_freq tf2 JOIN dfreq d ON d.term = 'batch'
  WHERE lower(trim(tf2.token)) = 'bacth' AND d.df > 0 AND d.df > tf2.token_df
),
all_sugg AS (
  SELECT pos, token, suggestion, max(freq) AS freq, min(distance) AS distance
  FROM (SELECT * FROM edits UNION ALL SELECT * FROM overrides)
  GROUP BY pos, token, suggestion
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY pos
      ORDER BY (CASE WHEN distance < 0 THEN -1 ELSE distance END) ASC,
               freq DESC, suggestion ASC) AS rank
  FROM all_sugg
),
sugg_cand AS (SELECT pos, suggestion, freq FROM ranked WHERE rank <= 3),
self_cand AS (
  SELECT t.pos, t.token AS suggestion, d.df AS freq
  FROM toks t JOIN dfreq d ON d.term = t.token
),
cand AS (
  SELECT pos, suggestion, max(freq) AS freq
  FROM (SELECT * FROM sugg_cand UNION ALL SELECT * FROM self_cand)
  GROUP BY pos, suggestion
),
c0 AS (SELECT suggestion AS s0, freq AS f0 FROM cand WHERE pos = 0),
c1 AS (SELECT suggestion AS s1, freq AS f1 FROM cand WHERE pos = 1)
SELECT s0 || ' ' || s1 AS "collation", round(ln(f0) + ln(f1), 5) AS score
FROM c0 CROSS JOIN c1
ORDER BY score DESC, "collation" ASC LIMIT 5
"""


def q_suggest_canonical(spark, sf_dir):
    """Canonicalizing suggest over a mixed-case dictionary built from
    the high-frequency terms (synthetic Title-case surfaces)."""
    from .suggest import canonical_suggest, high_frequency_dictionary

    hf = high_frequency_dictionary(_index(spark, sf_dir), threshold=0.5)
    title = hf.select(
        F.concat(
            F.upper(F.substring("phrase", 1, 1)), F.expr("substring(phrase, 2)")
        ).alias("phrase"),
        (F.col("freq") + 1).alias("freq"),
    )
    return canonical_suggest(hf.unionByName(title), "s", count=10)


SQL_SUGGEST_CANONICAL = f"""
WITH {TOK_SQL},
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
hf AS (
  SELECT term AS phrase, df AS freq FROM dfreq CROSS JOIN n WHERE df >= 0.5 * n.n
),
dict AS (
  SELECT phrase, freq FROM hf
  UNION ALL
  SELECT upper(substr(phrase,1,1)) || substr(phrase,2), freq + 1 FROM hf
),
cand AS (SELECT * FROM dict WHERE lower(phrase) LIKE 's%'),
merged AS (
  SELECT lower(phrase) AS key,
         max(struct_pack(freq := freq, phrase := phrase)) AS best,
         sum(freq)::BIGINT AS count
  FROM cand GROUP BY lower(phrase)
)
SELECT key, best.phrase AS suggestion, count
FROM merged ORDER BY count DESC, key ASC LIMIT 10
"""


# ---- analytics -------------------------------------------------------

def q_nb_classify(spark, sf_dir):
    """Naive-bayes: classify docs by lang from their text."""
    from .analytics.naivebayes import naive_bayes_classify, naive_bayes_model

    docs = _docs(spark, sf_dir)
    priors, conds = naive_bayes_model(docs, "lang")
    return naive_bayes_classify(
        docs.select("doc_id", "text"), priors, conds, top_n=1
    ).select("doc_id", "cls")


SQL_NB_CLASSIFY = f"""
WITH {TOK_SQL},
labeled AS (
  SELECT tf.doc_id, tf.term, tf.tf, d.lang AS cls
  FROM tf JOIN documents d USING (doc_id)
),
joints AS (SELECT term, cls, count(*)::BIGINT AS joint_cnt FROM labeled GROUP BY term, cls),
prior_cnt AS (SELECT lang AS cls, count(*)::BIGINT AS prior_cnt FROM documents GROUP BY lang),
tot AS (SELECT sum(prior_cnt + 0.01) AS t FROM prior_cnt),
priors AS (
  SELECT cls, prior_cnt, (prior_cnt + 0.01) / tot.t AS prior_p FROM prior_cnt CROSS JOIN tot
),
vocab AS (SELECT DISTINCT term FROM joints),
dense AS (
  SELECT v.term, p.cls,
         (coalesce(j.joint_cnt, 0) + 0.01) / (p.prior_cnt + 0.01) AS cond_p
  FROM vocab v CROSS JOIN priors p
  LEFT JOIN joints j ON j.term = v.term AND j.cls = p.cls
),
scored AS (
  SELECT tf.doc_id, d.cls,
         sum(ln(tf.tf * d.cond_p)) AS loglik
  FROM tf JOIN dense d USING (term)
  GROUP BY tf.doc_id, d.cls
),
final AS (
  SELECT s.doc_id, s.cls, ln(p.prior_p) + s.loglik AS score,
         row_number() OVER (PARTITION BY s.doc_id ORDER BY ln(p.prior_p) + s.loglik DESC, s.cls ASC) AS rank
  FROM scored s JOIN priors p USING (cls)
)
SELECT doc_id, cls FROM final WHERE rank = 1
"""


def q_stumps(spark, sf_dir):
    """Entropy-ranked decision stumps: features = terms with df>=300,
    labels = lang."""
    from .analytics.stumps import extract_features, learn_stumps

    docs = _docs(spark, sf_dir)
    idx = _index(spark, sf_dir)
    feats = extract_features(docs, idx.terms, min_df=300)
    labels = docs.select("doc_id", F.col("lang").alias("label"))
    out = learn_stumps(feats, labels)
    return out.select(
        "feature", "predicted", F.round("entropy", 5).alias("entropy"), "size"
    )


SQL_STUMPS = f"""
WITH {TOK_SQL},
eligible AS (SELECT term FROM dfreq WHERE df >= 300),
feats AS (
  SELECT tf.doc_id, tf.term AS feature FROM tf SEMI JOIN eligible e ON tf.term = e.term
),
dist AS (
  SELECT f.feature, d.lang AS label, count(*)::BIGINT AS cnt
  FROM feats f JOIN documents d USING (doc_id)
  GROUP BY f.feature, d.lang
),
totals AS (SELECT feature, sum(cnt)::BIGINT AS size FROM dist GROUP BY feature),
ent AS (
  SELECT d.feature, sum(-(d.cnt::DOUBLE / t.size) * ln(d.cnt::DOUBLE / t.size)) AS entropy
  FROM dist d JOIN totals t USING (feature) GROUP BY d.feature
),
best AS (
  SELECT feature, max(struct_pack(cnt := cnt, label := label)) AS b
  FROM dist GROUP BY feature
)
SELECT t.feature, best.b.label AS predicted, round(e.entropy, 5) AS entropy, t.size
FROM totals t JOIN ent e USING (feature) JOIN best USING (feature)
"""


def q_joint_probability(spark, sf_dir):
    """Smoothed conditionals p(lang|source) for observed pairs."""
    from .analytics.jointcounts import build_joint_probability_model

    docs = _docs(spark, sf_dir)
    m = build_joint_probability_model(docs, "lang", "source", alpha=0.01)
    rows = []
    for (ka, kb) in m.joints:
        fa, a = ka
        fb, b = kb
        lang, source = (a, b) if fa == "lang" else (b, a)
        rows.append(
            (lang, source, round(m.conditional("lang", lang, "source", source), 5))
        )
    return spark.createDataFrame(rows, "lang string, source string, cond double")


SQL_JOINT_PROBABILITY = """
WITH joints AS (
  SELECT lang, source, count(*)::BIGINT AS cnt FROM documents GROUP BY lang, source
),
priors AS (
  SELECT value, cnt FROM (
    SELECT lang AS value, count(*)::BIGINT AS cnt FROM documents GROUP BY lang
    UNION ALL
    SELECT source AS value, count(*)::BIGINT AS cnt FROM documents GROUP BY source
  )
),
tp AS (SELECT sum(cnt + 0.01) AS t FROM priors),
tj AS (SELECT sum(cnt + 0.01) AS t FROM joints),
src AS (SELECT source, count(*)::BIGINT AS cnt FROM documents GROUP BY source)
SELECT j.lang, j.source,
       round(((j.cnt + 0.01) / tj.t) / ((s.cnt + 0.01) / tp.t), 5) AS cond
FROM joints j JOIN src s USING (source) CROSS JOIN tp CROSS JOIN tj
"""


# ---- dedup -----------------------------------------------------------

def _docs_with_planted_dups(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    dups = (
        docs.orderBy("doc_id")
        .limit(20)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    return docs.select("doc_id", "text").unionByName(dups)


def q_dedup_exact(spark, sf_dir):
    from .dedup import exact_duplicates

    return exact_duplicates(_docs_with_planted_dups(spark, sf_dir)).select(
        "canonical_doc_id", "dup_doc_id"
    )


SQL_DEDUP_EXACT = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 20)
),
hashed AS (
  SELECT doc_id,
         md5(array_to_string(list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> len(x) >= 1 AND len(x) <= 64), ' ')) AS hash
  FROM all_docs
),
groups AS (
  SELECT hash, min(doc_id) AS canonical_doc_id, count(*) AS n, list(doc_id) AS members
  FROM hashed GROUP BY hash
)
SELECT canonical_doc_id, dup_doc_id FROM (
  SELECT canonical_doc_id, unnest(members) AS dup_doc_id
  FROM groups WHERE n > 1
) WHERE dup_doc_id <> canonical_doc_id
"""


def q_dedup_minhash_sig(spark, sf_dir):
    from .dedup import minhash_signatures

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 30)
    sigs = minhash_signatures(docs, num_hashes=8, shingle_n=2)
    return sigs.select(
        "doc_id",
        F.element_at("sig", 1).alias("sig0"),
        F.element_at("sig", 4).alias("sig3"),
        F.element_at("sig", 8).alias("sig7"),
    )


SQL_DEDUP_MINHASH_SIG = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> len(x) >= 1 AND len(x) <= 64) AS toks
  FROM documents WHERE doc_id < 30
),
grams AS (
  SELECT doc_id,
         list_distinct([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS shs
  FROM base WHERE len(toks) >= 2
),
sh AS (SELECT doc_id, unnest(shs) AS shingle FROM grams)
SELECT doc_id,
       min(md5('0:' || shingle)) AS sig0,
       min(md5('3:' || shingle)) AS sig3,
       min(md5('7:' || shingle)) AS sig7
FROM sh GROUP BY doc_id
"""


def _planted_neardup_corpus(spark, sf_dir):
    """The planted near-dup corpus shared by every ngram-dedup gate:
    docs 0..59 plus docs 0..9 re-emitted with a suffix at
    doc_id+100000. ONE Spark-side definition (mirrored verbatim by the
    all_docs CTE in SQL_NGRAM_JACCARD) — tuning the plant in one place
    keeps the pair gate and the apply gate on the same corpus."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 60).select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" appended near duplicate marker")).alias("text"),
    )
    return docs.unionByName(mutated)


def q_ngram_jaccard(spark, sf_dir):
    """Near-dup docs are PLANTED (doc 0..9 re-emitted with a suffix at
    doc_id+100000) so the gate covers real pairs — a 0-rows-both-sides
    pass cannot distinguish a correct implementation from `return
    empty` (round-1 verdict)."""
    from .dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _planted_neardup_corpus(spark, sf_dir), n=3, threshold=0.3
    )


SQL_NGRAM_JACCARD = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 100000, text || ' appended near duplicate marker'
  FROM documents WHERE doc_id < 10
),
base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> len(x) >= 1 AND len(x) <= 64) AS toks
  FROM all_docs
),
grams AS (
  SELECT doc_id,
         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in range(1, len(toks) - 1)]) AS ngs
  FROM base WHERE len(toks) >= 3
),
sh AS (SELECT doc_id, unnest(ngs) AS ng FROM grams),
sizes AS (SELECT doc_id, count(*)::DOUBLE AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::DOUBLE AS i
  FROM sh a JOIN sh b ON a.ng = b.ng AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       round(i.i / (sa.n + sb.n - i.i), 5) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.i / (sa.n + sb.n - i.i) >= 0.3
"""


# ---- ANN -------------------------------------------------------------

def q_ann_cosine(spark, sf_dir):
    from .similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 7).first()["embedding"])
    return cosine_topk_bruteforce(emb, q, k=10)


SQL_ANN_COSINE = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
dots AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv) AS dot,
         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS n,
         sqrt(list_dot_product(q.qv, q.qv)) AS qn
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id AS id, round(dot / (n * qn), 5) AS cosine
FROM dots ORDER BY cosine DESC, id ASC LIMIT 10
"""


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the (planted) ngram-jaccard duplicate
    pairs: (doc_id, cluster_id=min doc of component) — the decision
    step of any dedup pipeline. Oracle: DuckDB recursive-CTE
    transitive closure over the identical edge set."""
    from .dedup import duplicate_clusters

    return duplicate_clusters(q_ngram_jaccard(spark, sf_dir))


# reuse the ngram-jaccard pair SQL as the edge set; components =
# min(reachable) per vertex via recursive transitive closure
def _sql_dedup_clusters() -> str:
    pair_sql = SQL_NGRAM_JACCARD.strip().rstrip()
    return f"""
WITH RECURSIVE pairs AS ({pair_sql}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
verts AS (SELECT DISTINCT a AS v FROM edges),
reach(src, dst) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
)
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
"""


_SQL_SUBSTR_COMMON = """
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> length(t) >= 1 AND length(t) <= 64) AS a
  FROM documents
),
pos AS (
  SELECT doc_id, a, unnest(generate_series(1, len(a) - 7)) AS i
  FROM toks WHERE len(a) >= 8
),
spans AS (
  SELECT doc_id, i - 1 AS start, array_to_string(a[i : i + 7], ' ') AS span
  FROM pos
),
ranked AS (
  SELECT doc_id, start, span,
         count(*) OVER (PARTITION BY span) AS c,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, start) AS rn
  FROM spans
)"""


def q_dup_spans(spark, sf_dir):
    """ExactSubstr DETECTION (Lee et al. 2021): every 8-token span
    occurring >1 times corpus-wide, minus the canonical first
    occurrence per distinct span. Engine runs the two-shuffle
    hash-prefilter plan (8-byte keys for the full corpus, span text
    only for the duplicated fraction); the oracle recomputes from the
    raw window strings — value-identity proves the hash prefilter
    loses nothing."""
    from .dedup.dedup import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicate_spans(docs, window=8)


SQL_DUP_SPANS = f"""
WITH {_SQL_SUBSTR_COMMON}
SELECT doc_id, start, span FROM ranked WHERE c > 1 AND rn > 1
"""


def q_dedup_substring(spark, sf_dir):
    """ExactSubstr REMOVAL: tokens covered by any non-canonical
    duplicated 8-token window are dropped, text rebuilt from the
    survivors in order (whitespace-normalized tokenized form); every
    doc keeps a row (n_kept=0, empty text when fully covered)."""
    from .dedup.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_duplicate_spans(docs, window=8)


SQL_DEDUP_SUBSTRING = f"""
WITH {_SQL_SUBSTR_COMMON},
dups AS (SELECT doc_id, start FROM ranked WHERE c > 1 AND rn > 1),
covered AS (
  SELECT DISTINCT doc_id, start + unnest(generate_series(0, 7)) AS p FROM dups
),
tokpos AS (
  SELECT doc_id, unnest(a) AS tok,
         unnest(generate_series(1, len(a))) - 1 AS p
  FROM toks
),
kept AS (
  SELECT t.doc_id, t.tok, t.p FROM tokpos t
  WHERE NOT EXISTS (
    SELECT 1 FROM covered c WHERE c.doc_id = t.doc_id AND c.p = t.p
  )
),
rebuilt AS (
  SELECT doc_id, count(*)::BIGINT AS n_kept,
         string_agg(tok, ' ' ORDER BY p) AS text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, coalesce(r.n_kept, 0)::BIGINT AS n_kept,
       coalesce(r.text, '') AS text
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN rebuilt r USING (doc_id)
"""


def q_dedup_lines(spark, sf_dir):
    """Duplicated-UNIT removal (CCNet paragraph dedup / Dolma
    paragraph pass, exact + deterministic): one canonical
    (doc_id,pos)-lowest copy of every repeated unit survives, units
    under min_chars are exempt, docs reassembled in order. The
    synthetic corpus is single-line, so the gate runs the operator at
    sep=' ' (unit = token; real pipelines pass '\\n' or '\\n\\n' —
    the rule and plan are identical): massively repeated vocab makes
    the canonical-winner rule fire thousands of times, and min_chars=3
    exempts the short function words so both branches are exercised."""
    from .dedup.dedup import dedup_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_lines(docs, min_chars=3, sep=" ")


SQL_DEDUP_LINES = """
WITH e AS (
  SELECT doc_id,
         unnest(generate_series(0, len(string_split(coalesce(text, ''), ' ')) - 1))
           AS pos,
         unnest(string_split(coalesce(text, ''), ' ')) AS ln
  FROM documents
),
marked AS (
  SELECT doc_id, pos, ln,
         CASE WHEN length(ln) < 3 THEN TRUE
              ELSE row_number() OVER (PARTITION BY ln
                                      ORDER BY doc_id, pos) = 1
         END AS keep
  FROM e
),
rebuilt AS (
  SELECT doc_id, count(*)::BIGINT AS n_kept,
         string_agg(ln, ' ' ORDER BY pos) AS text
  FROM marked WHERE keep GROUP BY doc_id
)
SELECT d.doc_id, coalesce(r.n_kept, 0)::BIGINT AS n_kept,
       coalesce(r.text, '') AS text
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN rebuilt r USING (doc_id)
"""


def q_dedup_apply(spark, sf_dir):
    """End of the dedup pipeline: the MATERIALIZED deduplicated corpus
    — planted near-dup corpus minus every non-canonical cluster member
    (keep min doc id per component). Oracle: recursive-CTE closure +
    anti-join."""
    from .dedup import apply_dedup

    corpus = _planted_neardup_corpus(spark, sf_dir)
    pairs = q_ngram_jaccard(spark, sf_dir)
    return apply_dedup(corpus, pairs).select("doc_id")


def _sql_dedup_apply() -> str:
    cluster_sql = _sql_dedup_clusters().strip()
    return f"""
WITH clusters AS ({cluster_sql}),
corpus AS (
  SELECT doc_id FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 100000 FROM documents WHERE doc_id < 10
),
losers AS (SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
SELECT c.doc_id FROM corpus c ANTI JOIN losers l USING (doc_id)
"""


def q_emb_near_dup(spark, sf_dir):
    """Embedding near-duplicate pairs via multi-table hyperplane-LSH
    candidates + exact cosine verify. A planted exact duplicate
    (vec_id 0 re-emitted as 10000) guarantees a non-vacuous gate; the
    oracle mirrors the SAME deterministic candidate generation with
    literal hyperplanes, so the compare is exact, not recall-based."""
    from .dedup import embedding_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return embedding_near_duplicates(
        emb.unionByName(dup), threshold=0.9, n_planes=4, n_tables=2
    )


def _sql_emb_near_dup(
    dim: int = 64, n_planes: int = 4, n_tables: int = 2, threshold: float = 0.9
) -> str:
    """Mirror of embedding_near_duplicates(n_planes=4, n_tables=2,
    seed=7): per-table bucket = sign bits of projections onto the same
    deterministic hyperplanes (seed + 7919*t), candidates = pairs
    sharing a (table, bucket), exact cosine on candidates."""
    from .similarity.ann import _hyperplanes

    per_table = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=7 + 7919 * t)
        lits = [
            "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]" for p in planes
        ]
        bucket = " + ".join(
            f"(CASE WHEN list_dot_product(v, {lits[i]}) > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(n_planes)
        )
        per_table.append(
            f"SELECT id, v, n, {t} AS tbl, {bucket} AS bucket FROM vecs"
        )
    union = " UNION ALL ".join(per_table)
    return f"""
WITH all_vecs AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id = 0
),
vecs AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
  FROM all_vecs
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
buckets AS ({union}),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM buckets x JOIN buckets y ON x.tbl = y.tbl AND x.bucket = y.bucket
  WHERE x.id < y.id
),
verified AS (
  SELECT c.id_a, c.id_b,
         list_dot_product(a.v, b.v) / (a.n * b.n) AS cosine
  FROM cand c JOIN vecs a ON a.id = c.id_a JOIN vecs b ON b.id = c.id_b
)
SELECT id_a, id_b, round(cosine, 5) AS cosine
FROM verified WHERE cosine >= {threshold}
"""


def q_knn_join(spark, sf_dir):
    """Batch k-NN join: every query row (vec_id < 5) against the whole
    embedding corpus via LSH bucket equi-join + exact per-query
    ranking. Oracle mirrors the deterministic bucket assignment with
    literal hyperplanes, so the compare is exact."""
    from .similarity import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    return knn_join(queries, emb, k=5, n_planes=2, multiprobe=1, dim=64)


def _sql_knn_join(
    dim: int = 64, n_planes: int = 2, multiprobe: int = 1, k: int = 5
) -> str:
    from .similarity.ann import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed=7)
    lits = [
        "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]" for p in planes
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {lits[i]}) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(min(multiprobe, n_planes))]
    )
    return f"""
WITH vecs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
bucketed AS (SELECT id, v, {bucket} AS bucket FROM vecs),
probes AS (
  SELECT id AS qid, v AS qv, unnest([{probe_list}]) AS bucket
  FROM bucketed WHERE id < 5
),
cand AS (
  SELECT p.qid, b.id,
         round(list_dot_product(p.qv, b.v)
               / (sqrt(list_dot_product(p.qv, p.qv))
                  * sqrt(list_dot_product(b.v, b.v))), 5) AS cosine
  FROM probes p JOIN bucketed b USING (bucket)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
  FROM cand
)
SELECT qid AS query_id, id, cosine, rank FROM ranked WHERE rank <= {k}
"""


# ---- text analysis ---------------------------------------------------

def q_lang_id(spark, sf_dir):
    from .text import language_id

    return (
        language_id(_docs(spark, sf_dir))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sql_lang_id() -> str:
    from .text.analysis import STOPWORDS

    lang_rows = []
    for lang in sorted(STOPWORDS):
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        lang_rows.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"len(list_filter(toks, x -> x IN ({words}))) AS hits FROM base"
        )
    union = " UNION ALL ".join(lang_rows)
    return f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> len(x) >= 1 AND len(x) <= 64) AS toks
  FROM documents
),
hits AS ({union}),
ranked AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
  FROM hits
),
pred AS (
  SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
  FROM ranked WHERE rn = 1
)
SELECT lang_pred, count(*)::BIGINT AS cnt FROM pred GROUP BY lang_pred
"""


def q_pii_redact(spark, sf_dir):
    """PII redaction over docs decorated with deterministic synthetic
    PII (the token-soup corpus has none) — markers + per-kind counts."""
    from .text import redact_pii

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    decorated = docs.select(
        "doc_id",
        F.concat(
            "text",
            F.lit(" contact bob"), F.col("doc_id").cast("string"),
            F.lit("@example.com via 10.0.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" or call 555-123-4567"),
        ).alias("text"),
    )
    return redact_pii(decorated)


def _sql_pii_redact() -> str:
    from .text.cleaning import PII_PATTERNS

    text = ("text || ' contact bob' || doc_id || '@example.com via 10.0.0.'"
            " || (doc_id % 250) || ' or call 555-123-4567'")
    red = text
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(
            f"(len(regexp_split_to_array({text}, '{pat}')) - 1)::BIGINT AS n_{kind}"
        )
        red = f"regexp_replace({red}, '{pat}', '<{kind.upper()}>', 'g')"
    return f"""
SELECT doc_id, {red} AS redacted, {', '.join(counts)}
FROM documents WHERE doc_id < 50
"""


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals: duplicate-bigram fraction and
    top-bigram share per doc."""
    from .text import repetition_features

    return repetition_features(_docs(spark, sf_dir), n=2)


SQL_REPETITION = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> len(x) >= 1 AND len(x) <= 64) AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
              ELSE [] END AS gs
  FROM base
),
flat AS (SELECT doc_id, unnest(gs) AS ng FROM g),
counts AS (SELECT doc_id, ng, count(*)::DOUBLE AS c FROM flat GROUP BY doc_id, ng),
agg AS (
  SELECT doc_id, sum(c) AS total, count(*)::DOUBLE AS distinct_n, max(c) AS top
  FROM counts GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(round(1.0 - a.distinct_n / a.total, 5), 0.0) AS dup_ngram_frac,
       coalesce(round(a.top / a.total, 5), 0.0) AS top_ngram_frac
FROM base b LEFT JOIN agg a USING (doc_id)
"""


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: fraction of each doc's distinct
    5-grams appearing in the 'benchmark' (docs 0-4); benchmark docs
    flag themselves at contamination 1.0."""
    from .text import contamination_check

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    bench = _docs(spark, sf_dir).filter(F.col("doc_id") < 5)
    return contamination_check(docs, bench, n=5, threshold=0.5)


SQL_CONTAMINATION = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> len(x) >= 1 AND len(x) <= 64) AS toks
  FROM documents WHERE doc_id < 100
),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5
              THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  || ' ' || toks[i+3] || ' ' || toks[i+4]
                                  for i in range(1, len(toks) - 3)])
              ELSE [] END AS gs
  FROM base
),
doc_g AS (SELECT doc_id, unnest(gs) AS ng FROM g),
bench_g AS (SELECT DISTINCT ng FROM doc_g WHERE doc_id < 5),
totals AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM doc_g GROUP BY doc_id),
hits AS (
  SELECT d.doc_id, count(*)::BIGINT AS n_contaminated
  FROM doc_g d SEMI JOIN bench_g b ON d.ng = b.ng
  GROUP BY d.doc_id
)
SELECT t.doc_id, t.n_grams,
       coalesce(h.n_contaminated, 0)::BIGINT AS n_contaminated,
       round(coalesce(h.n_contaminated, 0) / t.n_grams::DOUBLE, 5) AS contamination,
       coalesce(h.n_contaminated, 0) / t.n_grams::DOUBLE >= 0.5 AS contaminated
FROM totals t LEFT JOIN hits h USING (doc_id)
"""


def q_sample(spark, sf_dir):
    """Deterministic hash-based sampling (pure function of (id, seed)
    — rerun/partition-invariant, unlike rand())."""
    from .text import deterministic_sample

    return deterministic_sample(_docs(spark, sf_dir), rate=0.2, seed=7).select(
        "doc_id"
    )


SQL_SAMPLE = """
SELECT doc_id FROM documents
WHERE CAST(('0x' || substr(md5('7:' || doc_id), 1, 8)) AS BIGINT)::DOUBLE
      / 4294967296.0 < 0.2
"""


def q_sample_stratified(spark, sf_dir):
    """Per-stratum reproducible rates (language rebalancing shape)."""
    from .text import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), {"en": 0.1, "fr": 1.0}, "lang", seed=7
    ).select("doc_id", "lang")


SQL_SAMPLE_STRATIFIED = """
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5('7:' || doc_id), 1, 8)) AS BIGINT)::DOUBLE
      / 4294967296.0
      < (CASE WHEN lang = 'fr' THEN 1.0 WHEN lang = 'en' THEN 0.1 ELSE 0.0 END)
"""


def q_pack_sequences(spark, sf_dir):
    """Greedy contiguous sequence packing by cumulative token budget
    (2048 tokens/sequence) over per-doc whitespace token counts."""
    from .text import pack_sequences, token_counts

    tc = token_counts(_docs(spark, sf_dir)).select(
        "doc_id", F.col("ws_tokens").alias("n_tokens")
    )
    return pack_sequences(tc, seq_tokens=2048)


SQL_PACK_SEQUENCES = """
WITH tc AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                         x -> len(x) > 0))::BIGINT AS n_tokens
  FROM documents
),
run AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM tc
)
SELECT doc_id, n_tokens,
       (before // 2048)::BIGINT AS seq_id,
       (before % 2048)::BIGINT AS "offset"
FROM run
"""


def q_chunk_docs(spark, sf_dir):
    """Sliding-window chunking of documents into training windows
    (64-token chunks, 16-token overlap): the long-document
    pretraining prep step — pure column expressions, output-sized
    explode, no shuffle."""
    from .text import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), max_tokens=64, overlap=16
    )


# stride = 64-16 = 48; Spark emits starts 0..(n-overlap-1) inclusive by
# stride <=> DuckDB range(0, greatest(n-16, 1), 48) exclusive stop
SQL_CHUNK_DOCS = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
                     t -> len(t) >= 1) AS toks
  FROM documents
),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0),
starts AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(n - 16, 1), 48)) AS start,
         unnest(generate_series(0, len(range(0, greatest(n - 16, 1), 48)) - 1)) AS chunk_id
  FROM nz
)
SELECT doc_id, chunk_id::BIGINT AS chunk_id,
       len(list_slice(toks, start + 1, start + 64))::BIGINT AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk
FROM starts
"""


def q_epoch_shard(spark, sf_dir):
    """Deterministic per-epoch shuffle/shard assignment (epoch 3,
    8 shards): pure function of (doc_id, epoch) — reproducible across
    partitionings and cluster sizes; consumers repartition on shard +
    sort by sort_key to materialize the epoch with one shuffle."""
    from .text import epoch_shard

    return epoch_shard(_docs(spark, sf_dir), n_shards=8, epoch=3)


SQL_EPOCH_SHARD = """
WITH keyed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('e3:' || doc_id), 1, 15)) AS BIGINT) AS sort_key
  FROM documents
)
SELECT doc_id, (sort_key % 8)::BIGINT AS shard, sort_key FROM keyed
"""


def q_token_counts(spark, sf_dir):
    from .text import token_counts

    return token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "ws_tokens", "bpe_ish_tokens"
    )


SQL_TOKEN_COUNTS = """
SELECT doc_id,
       len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                       x -> len(x) > 0))::BIGINT AS ws_tokens,
       len(list_filter(regexp_split_to_array(
             regexp_replace(lower(coalesce(text, '')), '([^a-z0-9\\s])', ' \\1 ', 'g'),
             '\\s+'),
           x -> len(x) > 0))::BIGINT AS bpe_ish_tokens
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    from .text import fingerprint_md5

    return fingerprint_md5(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


SQL_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(list_filter(
           regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           x -> len(x) >= 1 AND len(x) <= 64), ' ')) AS fingerprint
FROM documents
"""


def q_quality(spark, sf_dir):
    from .text import quality_features

    return quality_features(_docs(spark, sf_dir)).select(
        "doc_id", "mean_token_len", "stopword_ratio", "alnum_ratio", "quality_score"
    )


def q_quality_gate(spark, sf_dir):
    """The quality GATE applied (C4/Gopher-style curation step):
    surviving doc_ids under thresholds chosen to be non-vacuous on
    this corpus (token counts 10..99, alnum ratio 0.79..0.85 — both
    rules reject real docs)."""
    from .text import quality_filter

    kept, _counts = quality_filter(
        _docs(spark, sf_dir), min_tokens=30, min_alnum_ratio=0.8
    )
    return kept.select("doc_id")


def _sql_quality_gate() -> str:
    return """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t,
         list_filter(regexp_split_to_array(lower(coalesce(text, ''))
                     , '[^a-z0-9]+'),
                     x -> len(x) >= 1 AND len(x) <= 64) AS toks
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(t)::DOUBLE AS n_chars,
         len(toks)::DOUBLE AS n_tokens,
         list_reduce(list_prepend(0.0, [len(x)::DOUBLE for x in toks]), (a, b) -> a + b) AS tok_chars,
         len(regexp_replace(lower(t), '[^a-z0-9]', '', 'g'))::DOUBLE AS alnum
  FROM base
),
calc AS (
  -- round(.,5) mirrors quality_features' rounded columns: the gate
  -- thresholds compare against the ROUNDED values on the Spark side,
  -- so the oracle must too (boundary values diverge otherwise)
  SELECT doc_id, n_tokens,
         round(CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0.0 END, 5) AS mean_len,
         round(CASE WHEN n_chars > 0 THEN alnum / n_chars ELSE 0.0 END, 5) AS alnum_ratio
  FROM feat
)
SELECT doc_id FROM calc
WHERE NOT (n_tokens < 30 OR n_tokens > 100000
           OR mean_len < 2.0 OR mean_len > 12.0
           OR alnum_ratio < 0.8)
"""


def _sql_quality() -> str:
    from .text.analysis import STOPWORDS

    all_sw = sorted({w for ws in STOPWORDS.values() for w in ws})
    words = ", ".join(f"'{w}'" for w in all_sw)
    return f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t,
         list_filter(regexp_split_to_array(lower(coalesce(text, ''))
                     , '[^a-z0-9]+'),
                     x -> len(x) >= 1 AND len(x) <= 64) AS toks
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(t)::DOUBLE AS n_chars,
         len(toks)::DOUBLE AS n_tokens,
         list_reduce(list_prepend(0.0, [len(x)::DOUBLE for x in toks]), (a, b) -> a + b) AS tok_chars,
         len(list_filter(toks, x -> x IN ({words})))::DOUBLE AS sw_hits,
         len(regexp_replace(lower(t), '[^a-z0-9]', '', 'g'))::DOUBLE AS alnum
  FROM base
),
calc AS (
  SELECT doc_id,
         CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0.0 END AS mean_len,
         CASE WHEN n_tokens > 0 THEN sw_hits / n_tokens ELSE 0.0 END AS sw_ratio,
         CASE WHEN n_chars > 0 THEN alnum / n_chars ELSE 0.0 END AS alnum_ratio,
         n_tokens
  FROM feat
)
SELECT doc_id,
       round(mean_len, 5) AS mean_token_len,
       round(sw_ratio, 5) AS stopword_ratio,
       round(alnum_ratio, 5) AS alnum_ratio,
       round(least(n_tokens / 20.0, 1.0) * 0.4
             + (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 0.3 ELSE 0.0 END)
             + least(sw_ratio * 5.0, 1.0) * 0.1
             + alnum_ratio * 0.2, 5) AS quality_score
FROM calc
"""


def q_lm_quality(spark, sf_dir):
    """CCNet-style n-gram LM perplexity scoring (the filter between
    dedup and sampling in every large pretraining pipeline): train an
    add-k bigram LM on the deterministic reference slice
    (doc_id % 3 == 0 — the gate's stand-in for CCNet's Wikipedia), then
    score EVERY doc by average bigram log-probability. Non-vacuous:
    the scoring set includes the 2/3 of the corpus the model never
    saw, so <unk> mapping and unseen-pair smoothing both fire."""
    from .text.lm import train_bigram_lm, score_bigram_lm

    docs = _docs(spark, sf_dir)
    lm = train_bigram_lm(
        docs.filter(F.col("doc_id") % 3 == 0), vocab_size=200, add_k=0.5
    )
    return score_bigram_lm(docs, lm)


SQL_LM_QUALITY = """
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                     '[^a-z0-9]+'), x -> x <> '') AS toks,
         (doc_id % 3 = 0) AS is_ref
  FROM documents
),
ref_terms AS (
  SELECT unnest(toks) AS term FROM tk WHERE is_ref
),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS c FROM ref_terms GROUP BY term
    ORDER BY c DESC, term ASC LIMIT 200
  )
),
bg_all AS (
  SELECT doc_id, is_ref,
         unnest([struct_pack(w1 := toks[i], w2 := toks[i + 1])
                 for i in range(1, len(toks))]) AS p
  FROM tk WHERE len(toks) >= 2
),
bg AS (
  SELECT doc_id, is_ref,
         CASE WHEN p.w1 IN (SELECT term FROM vocab) THEN p.w1 ELSE '<unk>' END AS w1,
         CASE WHEN p.w2 IN (SELECT term FROM vocab) THEN p.w2 ELSE '<unk>' END AS w2
  FROM bg_all
),
c2 AS (
  SELECT w1, w2, count(*)::DOUBLE AS c2 FROM bg WHERE is_ref GROUP BY w1, w2
),
c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
nv AS (SELECT count(*) + 1 AS v FROM vocab),  -- realized V incl. <unk>
lp AS (
  SELECT b.doc_id,
         ln((coalesce(c2.c2, 0.0) + 0.5)
            / (coalesce(c1.c1, 0.0) + 0.5 * nv.v)) AS lp
  FROM bg b CROSS JOIN nv
  LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
  LEFT JOIN c1 ON b.w1 = c1.w1
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(lp), 5) AS lm_logp
FROM lp GROUP BY doc_id
"""

# shared CTE body: everything up to the per-doc score (the lm_quality
# result), reused verbatim by the bucket gate so both oracles price
# the identical model
_SQL_LM_SCORED_CTE = SQL_LM_QUALITY.strip().removeprefix("WITH").rsplit(
    "SELECT", 1
)[0]


def q_ppl_buckets(spark, sf_dir):
    """CCNet's head/middle/tail perplexity split, per language: score
    every doc under the reference-slice bigram LM, then bucket by
    within-language score terciles. Thresholds are k-th-smallest data
    values (k = ceil(p*n)) — never interpolated — so the oracle
    mirrors them exactly; bucketing is broadcast-join + CASE, no sort
    of the corpus (text/lm.py:ppl_bucket docstring)."""
    from .text.lm import ppl_bucket, score_bigram_lm, train_bigram_lm

    docs = _docs(spark, sf_dir)
    lm = train_bigram_lm(
        docs.filter(F.col("doc_id") % 3 == 0), vocab_size=200, add_k=0.5
    )
    scored = score_bigram_lm(docs, lm).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return ppl_bucket(scored, by="lang").select("doc_id", "lang", "bucket")


SQL_PPL_BUCKETS = f"""
WITH {_SQL_LM_SCORED_CTE},
scored AS (
  SELECT lp.doc_id, round(avg(lp.lp), 5) AS lm_logp
  FROM lp GROUP BY lp.doc_id
),
sl AS (
  SELECT s.doc_id, d.lang, s.lm_logp
  FROM scored s JOIN documents d USING (doc_id)
),
th AS (
  SELECT lang,
         (list(lm_logp ORDER BY lm_logp))
           [ceil(count(*) * (1.0/3.0))::INT] AS t0,
         (list(lm_logp ORDER BY lm_logp))
           [ceil(count(*) * (2.0/3.0))::INT] AS t1
  FROM sl GROUP BY lang
)
SELECT sl.doc_id, sl.lang,
       CASE WHEN sl.lm_logp <= th.t0 THEN 0
            WHEN sl.lm_logp <= th.t1 THEN 1
            ELSE 2 END AS bucket
FROM sl JOIN th USING (lang)
"""


def q_mixture_sample(spark, sf_dir):
    """Source re-weighting to a target mixture (The Pile / DoReMi
    shape): down-sample each source so the expected output mix is
    50/30/20 over src1/src2/src3, retaining the maximum total — the
    binding source keeps rate 1.0, the over-represented ones thin via
    the deterministic unit-hash. Non-vacuous at sf0.01 (25 rows per
    source): src1 binds at rate 1.0, src2/src3 thin to 0.6/0.4 — the
    binding and two distinct thinned regimes all fire."""
    from .text import mixture_sample

    return mixture_sample(
        _docs(spark, sf_dir),
        {"src1": 0.5, "src2": 0.3, "src3": 0.2},
        strata_col="source",
        seed=7,
    ).select("doc_id", "source")


SQL_MIXTURE_SAMPLE = """
WITH n AS (
  SELECT source, count(*)::DOUBLE AS n FROM documents
  WHERE source IN ('src1', 'src2', 'src3') GROUP BY source
),
w AS (
  SELECT * FROM (VALUES ('src1', 0.5), ('src2', 0.3), ('src3', 0.2))
       AS t(source, w)
),
t AS (SELECT min(n.n / w.w) AS t FROM n JOIN w USING (source)),
r AS (
  SELECT n.source, t.t * w.w / n.n AS rate
  FROM n JOIN w USING (source) CROSS JOIN t
)
SELECT d.doc_id, d.source
FROM documents d JOIN r ON d.source = r.source
WHERE CAST(('0x' || substr(md5('7:' || d.doc_id), 1, 8)) AS BIGINT)::DOUBLE
      / 4294967296.0 < r.rate
"""


def q_source_cap(spark, sf_dir):
    """Exact per-source document cap (MassiveText / RefinedWeb domain
    caps): keep the 13 lowest-hash docs of every source — a COUNT
    ceiling, where mixture_sample is a RATE rebalance. Non-vacuous at
    sf0.01: every source holds 25 rows, so all 20 caps bind and the
    oracle must reproduce the md5 hash ORDER exactly, not just the
    cap arithmetic; the salted two-phase rank must agree with the
    oracle's single global rank per source."""
    from .text import cap_per_stratum

    return cap_per_stratum(
        _docs(spark, sf_dir), cap=13, strata_col="source", seed=7
    ).select("doc_id", "source")


SQL_SOURCE_CAP = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('cap7:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 13
"""


# ---- event / transcript sequence operators ----------------------------

def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min timeout) per user — the
    canonical stateful sequence operator for transcript/event data."""
    from .analytics.events import sessionize

    return sessionize(_events(spark, sf_dir), gap_minutes=30.0)


SQL_SESSIONIZE = """
WITH ordered AS (
  SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT event_id, user_id,
       (sum(CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) > 1800.0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS session_id
FROM ordered
"""


def q_tfidf_vectors(spark, sf_dir):
    """L2-normalized classic tf-idf document vectors under the
    engine's own scorer weights (sqrt(tf) * (ln(N/(df+1))+1)) — the
    embedding-free vectorization step for clustering/classification;
    one row per (doc, term) so the oracle hashes every weight."""
    from .text.analysis import tfidf_vectors

    return tfidf_vectors(_docs(spark, sf_dir))


SQL_TFIDF_VECTORS = """
WITH tk AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tk GROUP BY doc_id, term
),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
         sqrt(tf.tf) * (ln(nd.n / (dfq.df + 1.0)) + 1.0) AS w
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
),
nm AS (SELECT doc_id, sqrt(sum(w * w)) AS l2 FROM w GROUP BY doc_id)
SELECT w.doc_id, w.term, round(w.w / nm.l2, 6) AS weight
FROM w JOIN nm USING (doc_id)
"""


def q_session_transcripts(spark, sf_dir):
    """Conversation->document flattening: one row per (user, session)
    with the session's turns in (ts, id) order joined into a single
    transcript string — the step that turns a turn-level event log
    into training examples / documents-shaped corpus input. Session
    boundaries are the 30-min-gap sessionize rule, so the gate
    exercises the lag+cumsum window AND the ordered flatten."""
    from .analytics.events import assemble_transcripts

    return assemble_transcripts(_events(spark, sf_dir), gap_minutes=30.0)


SQL_SESSION_TRANSCRIPTS = """
WITH ordered AS (
  SELECT event_id, user_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
sid AS (
  SELECT event_id, user_id, ts, event_type,
         (sum(CASE WHEN prev_ts IS NULL
                     OR epoch(ts) - epoch(prev_ts) > 1800.0 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS session_id
  FROM ordered
)
SELECT user_id, session_id, count(*)::BIGINT AS n_turns,
       string_agg(event_type, ' | ' ORDER BY ts, event_id) AS transcript
FROM sid GROUP BY user_id, session_id
"""


def q_context_window(spark, sf_dir):
    """Previous-2 context assembly per user (training-example shape:
    item + its context), oldest first, ' | '-joined."""
    from .analytics.events import context_window

    return context_window(_events(spark, sf_dir), k=2)


SQL_CONTEXT_WINDOW = """
SELECT event_id,
       coalesce(string_agg(event_type, ' | ') OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING), '') AS ctx
FROM events
"""


def q_event_windows(spark, sf_dir):
    """Event-time tumbling-window counts (1 hour) per event_type — the
    batch twin of the Structured Streaming watermark path
    (streaming/windows.py; streamed == batch asserted in tests)."""
    from .analytics.events import windowed_counts

    return windowed_counts(_events(spark, sf_dir), window="1 hour")


SQL_EVENT_WINDOWS = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*)::BIGINT AS cnt
FROM events GROUP BY 1, 2
"""


# ---- packed-segment (WAND) query path --------------------------------

_SEG_CACHE: dict[str, object] = {}


def _segments(spark, sf_dir):
    if sf_dir not in _SEG_CACHE:
        import tempfile

        from .index.segments import build_segments

        out = tempfile.mkdtemp(prefix="registry_segs_")
        # store_cols: the docstore lets the packed /mlt and /uf
        # handlers fetch seed text without a flat corpus (wand_mlt /
        # wand_feedback gates) — postings-only gates are unaffected
        _SEG_CACHE[sf_dir] = build_segments(
            _index(spark, sf_dir), f"{out}/idx", seg_size=128, groups=2,
            store_cols=["text", "lang"],
        )
    return _SEG_CACHE[sf_dir]


def q_wand_single(spark, sf_dir):
    """Packed-postings block-max path; same oracle as bm25_single —
    proves the compressed/pruned path is rank-identical."""
    from .index.segments import wand_search

    return wand_search(spark, _segments(spark, sf_dir), [("dup", 1.0)], k=10)


def q_wand_or(spark, sf_dir):
    from .index.segments import wand_search

    return wand_search(
        spark,
        _segments(spark, sf_dir),
        [("dup", 2.0), ("batch", 1.0), ("window", 0.5)],
        k=10,
    )


def q_cursor_page(spark, sf_dir):
    """searchAfter / cursorMark deep paging (Lucene
    IndexSearcher.searchAfter; Solr CursorMark — the deep-paging story
    the reference's Solr tier sits on): page 2 (ranks 11-20) of the
    boosted-OR query over the PACKED index, fetched with page 1's last
    (score, doc_id) as the cursor. The cursor filter runs inside the
    per-segment kernel BEFORE its top-k cut, so every page costs k rows
    per segment at any depth; OFFSET paging would re-fetch offset+k
    rows per segment per page. The oracle states the same page as
    OFFSET 10 over the full deterministic (score desc, doc_id asc)
    ordering — rank identity proves the cursor never drops or repeats
    a doc across the boundary."""
    from .index.segments import wand_search

    terms = [("dup", 2.0), ("batch", 1.0), ("window", 0.5)]
    segs = _segments(spark, sf_dir)
    page1 = wand_search(spark, segs, terms, k=10).collect()  # bounded: k rows
    if not page1:
        raise RuntimeError(
            "cursor_page gate fixture yielded an empty first page — "
            "the boosted-OR terms no longer match this scale factor"
        )
    last = page1[-1]
    return wand_search(
        spark, segs, terms, k=10, after=(last["score"], last["doc_id"])
    )


_SEG_POS_CACHE: dict[str, object] = {}


def _pos_segments(spark, sf_dir):
    """Packed codec-v3 segments WITH positions — the at-scale index for
    phrase queries."""
    if sf_dir not in _SEG_POS_CACHE:
        import tempfile

        from .index.segments import build_segments

        out = tempfile.mkdtemp(prefix="registry_segs_pos_")
        _SEG_POS_CACHE[sf_dir] = build_segments(
            _pos_index(spark, sf_dir), f"{out}/idx", seg_size=128, groups=2
        )
    return _SEG_POS_CACHE[sf_dir]


def q_wand_phrase(spark, sf_dir):
    """Quoted phrase over the PACKED v3 index (positions sub-stream) —
    same oracle as phrase_query, proving the at-scale path is
    rank-identical to the flat positional path."""
    from .index.segments import wand_phrase_search

    return wand_phrase_search(spark, _pos_segments(spark, sf_dir), ["table", "hash"], k=10)


_SEG_PAY_CACHE: dict[str, object] = {}


def _payload_segments(spark, sf_dir):
    """Packed codec-v3 segments with the payload sub-stream, built from
    the same payload-decorated corpus as q_payload_search."""
    if sf_dir not in _SEG_PAY_CACHE:
        import tempfile

        from .analysis.payloads import build_payload_index
        from .analysis.tokenizer import tokens_col
        from .index.segments import build_segments

        docs = _docs(spark, sf_dir)
        w = (F.col("doc_id") % 3 + 1).cast("string")
        decorated = docs.select(
            "doc_id",
            F.array_join(
                F.transform(tokens_col("text"), lambda t: F.concat(t, F.lit("^"), w)),
                " ",
            ).alias("text"),
        )
        pidx = build_payload_index(decorated)
        out = tempfile.mkdtemp(prefix="registry_segs_pay_")
        _SEG_PAY_CACHE[sf_dir] = build_segments(
            pidx, f"{out}/idx", seg_size=128, groups=2
        )
    return _SEG_PAY_CACHE[sf_dir]


def q_wand_payload(spark, sf_dir):
    """PayloadIdf scoring over the PACKED v3 index (payload sub-stream)
    — same oracle as payload_search (PayloadAwareDefaultSimilarity
    .java:10-16 consumed from indexed payloads, at scale)."""
    from .index.segments import wand_search
    from .query.scorer import PayloadIdf

    return wand_search(
        spark, _payload_segments(spark, sf_dir), [("dup", 1.0)], k=10, sim=PayloadIdf
    )


def q_wand_boolean(spark, sf_dir):
    """Parsed boolean query (precedence NOT > AND > OR) over the
    PACKED index: per-segment tree evaluation — same oracle as
    boolean_precedence, proving the packed path covers the boolean
    algebra too."""
    from .index.segments import wand_boolean_search

    return wand_boolean_search(
        spark, _pos_segments(spark, sf_dir), "dup and hash or vector", k=10
    )


def q_wand_not(spark, sf_dir):
    """MUST_NOT over the packed index — same oracle as boolean_not."""
    from .index.segments import wand_boolean_search

    return wand_boolean_search(
        spark, _pos_segments(spark, sf_dir), "dup and not batch", k=10
    )


_SEG_LANG_CACHE: dict[str, object] = {}


def _lang_segments(spark, sf_dir):
    """Packed segments over the lang FIELD's flat index — same doc
    space and seg_size as the main packed index, so per-segment field
    routing stays aligned (wand_boolean_search field_segments)."""
    if sf_dir not in _SEG_LANG_CACHE:
        import tempfile

        from .index.builder import build_index
        from .index.segments import build_segments

        if sf_dir not in _LANG_INDEX_CACHE:
            _LANG_INDEX_CACHE[sf_dir] = build_index(
                _docs(spark, sf_dir), text_col="lang"
            ).persist()
        out = tempfile.mkdtemp(prefix="registry_segs_lang_")
        _SEG_LANG_CACHE[sf_dir] = build_segments(
            _LANG_INDEX_CACHE[sf_dir], f"{out}/idx", seg_size=128, groups=2
        )
    return _SEG_LANG_CACHE[sf_dir]


def q_wand_field(spark, sf_dir):
    """FieldQuery routing on the PACKED path: 'lang:en and dup' with
    the lang clause scored against the lang field's packed index
    (per-field df/dl/avgdl) — same oracle as field_query, proving the
    packed path covers per-field routing too (VERDICT r02 missing #4)."""
    from .index.segments import wand_boolean_search

    return wand_boolean_search(
        spark,
        _pos_segments(spark, sf_dir),
        "lang:en and dup",
        k=10,
        field_segments={"lang": _lang_segments(spark, sf_dir)},
    )


_SEG_DV_CACHE: dict[str, object] = {}


def _dv_segments(spark, sf_dir):
    """Packed segments WITH the n_chars numeric docvalues stream —
    stored-column range queries on the packed path."""
    if sf_dir not in _SEG_DV_CACHE:
        import tempfile

        from .index.segments import build_segments

        out = tempfile.mkdtemp(prefix="registry_segs_dv_")
        _SEG_DV_CACHE[sf_dir] = build_segments(
            _index(spark, sf_dir), f"{out}/idx", seg_size=128, groups=2,
            value_cols=["n_chars"], string_cols=["lang", "source"],
        )
    return _SEG_DV_CACHE[sf_dir]


def q_wand_range(spark, sf_dir):
    """Range terminal on the PACKED path: the SAME stored-column range
    as the flat range_query gate ('n_chars:[100 TO 300] and dup'),
    evaluated from the n_chars docvalues stream packed alongside the
    segments (the Lucene NumericDocValues analogue) — same oracle as
    range_query, so the packed path is value-identical to the flat
    corpus filter. doc_id ranges are intrinsic (tests)."""
    from .index.segments import wand_boolean_search

    return wand_boolean_search(
        spark, _dv_segments(spark, sf_dir), "n_chars:[100 TO 300] and dup", k=10
    )


def q_wand_facet(spark, sf_dir):
    """Facet counts over a query docset on the PACKED path: lang
    counts for docs matching 'dup', read from the lang ordinal
    docvalues stream (SortedDocValues analogue) — same oracle as
    facet_counts, proving match+facet never needs the corpus at query
    time (DiceMoreLikeThisHandler.java:263-271 semantics)."""
    from .index.segments import wand_facet_search

    return wand_facet_search(spark, _dv_segments(spark, sf_dir), "dup", "lang")


def q_collapse_field(spark, sf_dir):
    """Field collapse (Solr CollapsingQParserPlugin, `fq={!collapse
    field=source}`): one representative doc per source — the group's
    best (score desc, doc_id asc) match for 'dup or batch' — then
    top-10 over representatives. Flat path: scored docset joins the
    (doc_id, source) mapping, one max_by agg per group."""
    from .query.collapse import collapse_search

    return collapse_search(
        _index(spark, sf_dir),
        "dup or batch",
        _docs(spark, sf_dir).select("doc_id", "source"),
        "source",
        k=10,
    )


def q_wand_collapse(spark, sf_dir):
    """The same collapse on the PACKED path: group read from the
    source ordinal docvalues stream per segment (kernel emits one
    winner per segment-local ordinal — vocab-bounded, never the match
    set), merged by value across segments. Same oracle as
    collapse_field — the corpus is never touched at query time."""
    from .index.segments import wand_collapse_search

    return wand_collapse_search(
        spark, _dv_segments(spark, sf_dir), "dup or batch", "source", k=10
    )


SQL_COLLAPSE_FIELD = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
a AS (SELECT doc_id, partial AS s FROM partials WHERE term = 'dup'),
b AS (SELECT doc_id, partial AS s FROM partials WHERE term = 'batch'),
un AS (SELECT doc_id, s FROM a UNION ALL SELECT doc_id, s FROM b),
scored AS (SELECT doc_id, round(sum(s), 5) AS score FROM un GROUP BY doc_id),
j AS (
  SELECT d.source, s.doc_id, s.score
  FROM scored s JOIN documents d USING (doc_id)
),
r AS (
  SELECT source, doc_id, score,
         row_number() OVER (
           PARTITION BY source ORDER BY score DESC, doc_id ASC
         ) AS rn
  FROM j
)
SELECT source, doc_id, score FROM r WHERE rn = 1
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_facet_range(spark, sf_dir):
    """Range faceting (Solr facet.range / RangeFacetProcessor):
    n_chars counts in [0,600) gap-100 buckets over docs matching
    'dup' — zero buckets included, the full Solr lattice."""
    from .query.components import facet_range_search

    return facet_range_search(
        _index(spark, sf_dir), "dup",
        _docs(spark, sf_dir).select("doc_id", "n_chars"),
        "n_chars", 0, 600, 100,
    )


def q_wand_facet_range(spark, sf_dir):
    """The same range facet on the PACKED path: buckets computed by
    arithmetic over the n_chars numeric docvalues stream per segment
    (at most n_buckets partial rows each), corpus never touched. Same
    oracle as facet_range."""
    from .index.segments import wand_facet_range_search

    return wand_facet_range_search(
        spark, _dv_segments(spark, sf_dir), "dup", "n_chars", 0, 600, 100
    )


def q_field_stats(spark, sf_dir):
    """Solr StatsComponent: count/min/max/sum/mean/sample-stddev of
    n_chars over docs matching 'dup or batch'."""
    from .query.components import stats_search

    return stats_search(
        _index(spark, sf_dir), "dup or batch",
        _docs(spark, sf_dir).select("doc_id", "n_chars"), "n_chars",
    )


def q_wand_stats(spark, sf_dir):
    """The same stats on the PACKED path: each segment emits ONE
    mergeable moment row (count, sum, sum-of-squares, min, max); mean
    and corrected stddev derive exactly at merge. Same oracle as
    field_stats."""
    from .index.segments import wand_stats_search

    return wand_stats_search(
        spark, _dv_segments(spark, sf_dir), "dup or batch", "n_chars"
    )


SQL_FACET_RANGE = f"""
WITH {TOK_SQL},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'dup'),
j AS (SELECT d.n_chars AS v FROM m JOIN documents d USING (doc_id)),
c AS (
  SELECT CAST(floor(v / 100) AS BIGINT) AS ord, count(*) AS cnt
  FROM j WHERE v >= 0 AND v < 600 GROUP BY 1
),
lat AS (SELECT generate_series AS ord FROM generate_series(0, 5))
SELECT CAST(lat.ord * 100 AS BIGINT) AS bucket,
       CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
FROM lat LEFT JOIN c USING (ord)
ORDER BY bucket
"""


SQL_FIELD_STATS = f"""
WITH {TOK_SQL},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ('dup', 'batch')),
j AS (SELECT d.n_chars AS v FROM m JOIN documents d USING (doc_id))
SELECT CAST(count(*) AS BIGINT) AS cnt,
       CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v,
       CAST(sum(v) AS BIGINT) AS sum_v,
       round(avg(v), 5) AS mean_v,
       round(stddev_samp(v), 5) AS stddev_v
FROM j
"""


def q_facet_query(spark, sf_dir):
    """Solr facet.query (SimpleFacets.getFacetQueryCounts): named
    subquery counts over the 'dup or batch' docset — a term subquery,
    a NOT subquery, and a stored-column range subquery. Flat path:
    main docset compiles once, one bounded semi-join count per name."""
    from .query.components import facet_query_search

    return facet_query_search(
        _index(spark, sf_dir),
        "dup or batch",
        {
            "windowed": "window",
            "not_scan": "not scan",
            "short": "n_chars:[0 TO 250]",
        },
    )


def q_wand_facet_query(spark, sf_dir):
    """The same facet.query on the PACKED path: every subquery's terms
    share the main tree's ONE pruned postings fetch, the kernel
    evaluates main + each subquery per segment over the same decoded
    postings (range subqueries read the n_chars docvalues stream), and
    |facet_queries| count rows per segment merge in one bounded sum.
    Same oracle as facet_query. Also the in-window certification of
    the packed AND/NOT/range kernel shapes (their dedicated gates
    rotated out in r06)."""
    from .index.segments import wand_facet_query_search

    return wand_facet_query_search(
        spark,
        _dv_segments(spark, sf_dir),
        "dup or batch",
        {
            "windowed": "window",
            "not_scan": "not scan",
            "short": "n_chars:[0 TO 250]",
        },
    )


SQL_FACET_QUERY = f"""
WITH {TOK_SQL},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ('dup', 'batch')),
w AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'window'),
s AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'scan')
SELECT 'not_scan' AS name, CAST(count(*) AS BIGINT) AS cnt
FROM m WHERE doc_id NOT IN (SELECT doc_id FROM s)
UNION ALL
SELECT 'short', CAST(count(*) AS BIGINT)
FROM m JOIN documents d USING (doc_id)
WHERE d.n_chars >= 0 AND d.n_chars <= 250
UNION ALL
SELECT 'windowed', CAST(count(*) AS BIGINT) FROM m JOIN w USING (doc_id)
ORDER BY name
"""


def q_stats_facet(spark, sf_dir):
    """Solr stats.facet (StatsComponent per-bucket stats): the
    field_stats aggregate of n_chars computed per lang bucket over
    docs matching 'dup or batch'. Flat path: matched docset joins the
    two columns, ONE groupBy(lang) — |lang vocab| rows out."""
    from .query.components import stats_facet_search

    return stats_facet_search(
        _index(spark, sf_dir),
        "dup or batch",
        _docs(spark, sf_dir).select("doc_id", "n_chars", "lang"),
        "n_chars",
        "lang",
    )


def q_wand_stats_facet(spark, sf_dir):
    """The same stats.facet on the PACKED path: each segment emits one
    mergeable moment row PER lang ordinal (vocab-bounded, never the
    match set); moments merge by (generation, ordinal), join the
    broadcast ordinal dictionary, merge by value, and mean/stddev
    derive exactly. Same oracle as stats_facet. Also the in-window
    certification of the ordinal-docvalues kernel shape (wand_facet
    rotated out in r06)."""
    from .index.segments import wand_stats_facet_search

    return wand_stats_facet_search(
        spark, _dv_segments(spark, sf_dir), "dup or batch", "n_chars", "lang"
    )


SQL_STATS_FACET = f"""
WITH {TOK_SQL},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ('dup', 'batch')),
j AS (
  SELECT d.lang, d.n_chars AS v FROM m JOIN documents d USING (doc_id)
)
SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
       CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v,
       CAST(sum(v) AS BIGINT) AS sum_v,
       round(avg(v), 5) AS mean_v,
       round(stddev_samp(v), 5) AS stddev_v
FROM j GROUP BY lang ORDER BY lang
"""


def q_phrase_slop(spark, sf_dir):
    """Sloppy phrase `"table hash"~2` (ordered SpanNearQuery
    semantics — in-order occurrences, window holds at most 2 extra
    positions) over the flat positional index, scored by member-term
    BM25. Exercises the parser's ~n suffix + the greedy-chain
    higher-order-array plan (sloppy_phrase_match_docs)."""
    from .query.compiler import execute_query

    return execute_query(_pos_index(spark, sf_dir), '"table hash"~2', k=10)


def q_wand_phrase_slop(spark, sf_dir):
    """The same sloppy phrase over the PACKED v3 index: doc-level
    candidate narrowing keeps the rarest-first block-skip decode, then
    the vectorized in-order chain window test runs per segment. Same
    oracle as phrase_slop; also the in-window certification of the
    positional postings sub-stream (wand_phrase rotated out in r06)."""
    from .index.segments import wand_phrase_search

    return wand_phrase_search(
        spark, _pos_segments(spark, sf_dir), ["table", "hash"], k=10, slop=2
    )


SQL_PHRASE_SLOP = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> len(x) >= 1 AND len(x) <= 64) AS toks
  FROM documents
),
pa AS (
  SELECT doc_id,
         unnest([i for i in range(1, len(toks)+1) if toks[i] = 'table']) AS p
  FROM base
),
pb AS (
  SELECT doc_id,
         unnest([i for i in range(1, len(toks)+1) if toks[i] = 'hash']) AS p
  FROM base
),
-- ordered span-near, slop=2: in-order pair with at most 2 extra
-- positions between the terms (gap p_b - p_a - 1 <= 2)
hits AS (
  SELECT DISTINCT pa.doc_id
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id
  WHERE pb.p > pa.p AND pb.p - pa.p <= 3
),
scores AS (
  SELECT doc_id, sum(partial) AS s FROM partials
  WHERE term IN ('table', 'hash') GROUP BY doc_id
)
SELECT h.doc_id, round(coalesce(s.s, 0.0), 5) AS score
FROM hits h LEFT JOIN scores s USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_bpe_pairs(spark, sf_dir):
    """Round-0 BPE tokenizer-training statistics (Sennrich et al.
    2016): occurrence-weighted adjacent character-pair counts, top 20
    by (cnt desc, l, r). Scale shape: the corpus collapses to the
    distinct-word frame FIRST (one map-side-combined shuffle), then
    pair stats are a vocabulary-bounded JVM projection + hash agg —
    registered past the r06 driver window, rotation candidate for
    r07."""
    from .text.bpe import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), limit=20)


SQL_BPE_PAIRS = """
WITH tokw AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                x -> len(x) >= 1 AND len(x) <= 64)) AS word
  FROM documents
),
wc AS (SELECT word, count(*)::BIGINT AS cnt FROM tokw GROUP BY word),
pairs AS (
  SELECT substring(word, CAST(i AS INT), 1) AS l,
         substring(word, CAST(i AS INT) + 1, 1) AS r, cnt
  FROM wc, unnest(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2
)
SELECT l, r, CAST(sum(cnt) AS BIGINT) AS cnt
FROM pairs GROUP BY l, r ORDER BY cnt DESC, l ASC, r ASC LIMIT 20
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): per-doc log importance
    ratio of add-1-smoothed hashed-n-gram bucket models, target = the
    lang='en' slice, raw = the whole pool — the scoring pass of
    importance resampling. Top 20 most-target-like docs. Scale shape:
    two n_buckets-row aggs + one broadcast-join keyed sum; the
    md5-prefix feature hash is reproduced bit-for-bit by the DuckDB
    oracle. Registered past the r06 driver window (r07 rotation
    candidate)."""
    from .text.dsir import dsir_weights

    docs = _docs(spark, sf_dir)
    w = dsir_weights(docs, docs.filter(F.col("lang") == "en"), n_buckets=1024)
    return w.orderBy(F.desc("weight"), F.asc("doc_id")).limit(20)


SQL_DSIR_WEIGHTS = """
WITH base AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
         x -> len(x) >= 1 AND len(x) <= 64) AS toks
  FROM documents
),
nz AS (SELECT * FROM base WHERE len(toks) > 0),
uni AS (SELECT doc_id, unnest(toks) AS f FROM nz),
big AS (
  SELECT doc_id,
         unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS f
  FROM nz WHERE len(toks) >= 2
),
feats AS (
  SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 1024 AS bucket
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
),
tfeats AS (
  SELECT f.bucket FROM feats f JOIN documents d USING (doc_id)
  WHERE d.lang = 'en'
),
rc AS (SELECT bucket, count(*)::DOUBLE AS c FROM feats GROUP BY bucket),
tc AS (SELECT bucket, count(*)::DOUBLE AS c FROM tfeats GROUP BY bucket),
tot AS (SELECT (SELECT count(*) FROM feats)::DOUBLE AS r,
               (SELECT count(*) FROM tfeats)::DOUBLE AS t),
lat AS (SELECT generate_series AS bucket FROM generate_series(0, 1023)),
ratio AS (
  SELECT lat.bucket,
         ln((coalesce(tc.c, 0) + 1) / (tot.t + 1024))
           - ln((coalesce(rc.c, 0) + 1) / (tot.r + 1024)) AS lr
  FROM lat LEFT JOIN rc USING (bucket) LEFT JOIN tc USING (bucket)
  CROSS JOIN tot
)
SELECT f.doc_id, round(sum(r.lr), 5) AS weight
FROM feats f JOIN ratio r USING (bucket)
GROUP BY f.doc_id ORDER BY weight DESC, doc_id ASC LIMIT 20
"""


def q_ccnet_pipeline(spark, sf_dir):
    """The CCNet pipeline (Wenzek et al. 2020) composed END-TO-END:
    paragraph dedup -> language id -> per-language LM perplexity
    buckets, one call (text/ccnet.py). Each stage is already
    individually oracle-gated (dedup_lines, lang_id, lm_quality,
    ppl_buckets); this gate certifies their COMPOSITION — the oracle
    chains all four stages' SQL over the deduped rebuild, so a drift
    in any stage's interaction (e.g. the LM training on pre-dedup
    text) breaks the hash. Self-trained LM for determinism.

    The corpus is decorated with a shared boilerplate PARAGRAPH on
    every third doc (the token-soup corpus has no newlines), so the
    paragraph-dedup stage visibly fires — one canonical copy survives
    — while document bodies stay intact and the perplexity terciles
    stay non-degenerate. Registered past the r06 driver window (r07
    rotation candidate)."""
    from .text.ccnet import ccnet_pipeline

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            "text",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nshared boilerplate paragraph legal disclaimer"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    # ordering lives HERE (bounded gate output), not in the library —
    # ccnet_pipeline no longer carries a corpus-wide cosmetic sort
    return (
        ccnet_pipeline(docs, vocab_size=200, min_chars=3, sep="\n")
        .select("doc_id", "n_kept", "lang_pred", "n_bigrams", "lm_logp", "bucket")
        .orderBy("doc_id")
    )


def _sql_ccnet_pipeline() -> str:
    from .text.analysis import STOPWORDS

    lang_rows = []
    for lang in sorted(STOPWORDS):
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        lang_rows.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"len(list_filter(toks, x -> x IN ({words}))) AS hits FROM base"
        )
    union = " UNION ALL ".join(lang_rows)
    return f"""
WITH src AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0
                      THEN chr(10) ||
                           'shared boilerplate paragraph legal disclaimer'
                      ELSE '' END AS text
  FROM documents
),
e AS (
  SELECT doc_id,
         unnest(generate_series(0, len(string_split(coalesce(text, ''), chr(10))) - 1))
           AS pos,
         unnest(string_split(coalesce(text, ''), chr(10))) AS ln
  FROM src
),
marked AS (
  SELECT doc_id, pos, ln,
         CASE WHEN length(ln) < 3 THEN TRUE
              ELSE row_number() OVER (PARTITION BY ln
                                      ORDER BY doc_id, pos) = 1
         END AS keep
  FROM e
),
rebuilt AS (
  SELECT doc_id, count(*)::BIGINT AS n_kept,
         string_agg(ln, chr(10) ORDER BY pos) AS text
  FROM marked WHERE keep GROUP BY doc_id
),
docs2 AS (
  SELECT d.doc_id, coalesce(r.n_kept, 0)::BIGINT AS n_kept,
         coalesce(r.text, '') AS text
  FROM (SELECT DISTINCT doc_id FROM src) d
  LEFT JOIN rebuilt r USING (doc_id)
),
base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> len(x) >= 1 AND len(x) <= 64) AS toks
  FROM docs2
),
hits AS ({union}),
ranked AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, lang ASC) AS rn
  FROM hits
),
pred AS (
  SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
  FROM ranked WHERE rn = 1
),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                     '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM docs2
),
ref_terms AS (SELECT unnest(toks) AS term FROM tk),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS c FROM ref_terms GROUP BY term
    ORDER BY c DESC, term ASC LIMIT 200
  )
),
bg_all AS (
  SELECT doc_id,
         unnest([struct_pack(w1 := toks[i], w2 := toks[i + 1])
                 for i in range(1, len(toks))]) AS p
  FROM tk WHERE len(toks) >= 2
),
bg AS (
  SELECT doc_id,
         CASE WHEN p.w1 IN (SELECT term FROM vocab) THEN p.w1
              ELSE '<unk>' END AS w1,
         CASE WHEN p.w2 IN (SELECT term FROM vocab) THEN p.w2
              ELSE '<unk>' END AS w2
  FROM bg_all
),
c2 AS (SELECT w1, w2, count(*)::DOUBLE AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
nv AS (SELECT count(*) + 1 AS v FROM vocab),
lp AS (
  SELECT b.doc_id,
         ln((coalesce(c2.c2, 0.0) + 0.5)
            / (coalesce(c1.c1, 0.0) + 0.5 * nv.v)) AS lp
  FROM bg b CROSS JOIN nv
  LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
  LEFT JOIN c1 ON b.w1 = c1.w1
),
scored AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         round(avg(lp), 5) AS lm_logp
  FROM lp GROUP BY doc_id
),
sl AS (
  SELECT s.doc_id, p.lang_pred, s.n_bigrams, s.lm_logp
  FROM scored s JOIN pred p USING (doc_id)
),
th AS (
  SELECT lang_pred,
         (list(lm_logp ORDER BY lm_logp))
           [ceil(count(*) * (1.0/3.0))::INT] AS t0,
         (list(lm_logp ORDER BY lm_logp))
           [ceil(count(*) * (2.0/3.0))::INT] AS t1
  FROM sl GROUP BY lang_pred
)
SELECT d2.doc_id, d2.n_kept, p.lang_pred, sl.n_bigrams, sl.lm_logp,
       CASE WHEN sl.lm_logp IS NULL THEN NULL
            WHEN sl.lm_logp <= th.t0 THEN 0
            WHEN sl.lm_logp <= th.t1 THEN 1
            ELSE 2 END AS bucket
FROM docs2 d2
JOIN pred p USING (doc_id)
LEFT JOIN sl USING (doc_id)
LEFT JOIN th ON sl.lang_pred = th.lang_pred
ORDER BY d2.doc_id
"""


def q_stats_percentiles(spark, sf_dir):
    """Solr StatsComponent percentiles over the 'dup or batch' docset
    — served EXACTLY via a (value, cnt) histogram + the k-th-smallest
    rule (k = ceil(p*n); Solr approximates with t-digest). Flat path:
    one histogram agg + a cumulative pass over the bounded histogram."""
    from .query.components import stats_percentiles_search

    return stats_percentiles_search(
        _index(spark, sf_dir), "dup or batch",
        _docs(spark, sf_dir).select("doc_id", "n_chars"), "n_chars",
        [0.25, 0.5, 0.75, 0.9],
    )


def q_wand_stats_percentiles(spark, sf_dir):
    """The same percentiles on the PACKED path: each segment emits its
    matched docs' value histogram from the numeric docvalues stream
    (bounded by distinct values, never the match set); histograms
    merge by sum and the identical k-th-smallest derivation runs on
    the bounded merged frame. Same oracle as stats_percentiles."""
    from .index.segments import wand_stats_percentiles_search

    return wand_stats_percentiles_search(
        spark, _dv_segments(spark, sf_dir), "dup or batch", "n_chars",
        [0.25, 0.5, 0.75, 0.9],
    )


SQL_STATS_PERCENTILES = f"""
WITH {TOK_SQL},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ('dup', 'batch')),
v AS (SELECT d.n_chars AS value FROM m JOIN documents d USING (doc_id)),
s AS (SELECT list(value ORDER BY value) AS vs, count(*) AS n FROM v)
SELECT p.pct, CAST(s.vs[CAST(ceil(s.n * p.pct) AS INT)] AS BIGINT) AS value
FROM s, (VALUES (0.25), (0.5), (0.75), (0.9)) AS p(pct)
ORDER BY p.pct
"""


def q_terms_enum(spark, sf_dir):
    """Solr TermsComponent (/terms?terms.prefix=s&terms.mincount=2&
    terms.sort=count): dictionary terms under prefix 's' with df >= 2,
    df-desc order — one pruned dictionary scan, postings never
    touched."""
    from .query.components import terms_enum

    return terms_enum(
        _index(spark, sf_dir), prefix="s", limit=10, sort="count", min_count=2
    )


SQL_TERMS_ENUM = f"""
WITH {TOK_SQL}
SELECT term, df, cf FROM dfreq
WHERE term LIKE 's%' AND df >= 2
ORDER BY df DESC, term ASC LIMIT 10
"""


def q_wand_terms_enum(spark, sf_dir):
    """/terms served from the PACKED tier's termstats sidecar (the
    100-TB serve tier has no flat terms frame): the prefix becomes a
    pushed StringStartsWith over range-partitioned term-sorted parquet
    (row-group prune asserted in tests/test_dictionary.py). Same
    oracle as terms_enum — sidecar (term, df, cf) == flat dictionary."""
    from .index.dictionary import wand_terms_enum

    return wand_terms_enum(
        spark, _segments(spark, sf_dir), prefix="s", limit=10,
        sort="count", min_count=2,
    )


def q_highlight(spark, sf_dir):
    """Solr highlighter (hl=true): best 8-token window per matching
    doc for terms {dup, batch}, matches wrapped in <em> tags —
    occurrence-count scoring, earliest-window tie-break, pure JVM
    array expressions (zero UDFs / shuffles). At scale this runs over
    the k-row result page (docstore fetch_docs on the packed path);
    the gate applies it corpus-wide so the oracle checks every doc."""
    from .query.highlight import highlight_snippets

    return highlight_snippets(_docs(spark, sf_dir), ["dup", "batch"], window=8)


SQL_HIGHLIGHT = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
h AS (
  -- a display token hits iff any index-grammar subtoken
  -- (split on [^a-z0-9]+) is a query term
  SELECT doc_id, t,
         list_transform(
           t, x -> CASE WHEN len(list_filter(
                     string_split_regex(x, '[^a-z0-9]+'),
                     y -> y <> '' AND y IN ('dup', 'batch'))) > 0
                   THEN 1 ELSE 0 END
         ) AS hits,
         len(t) AS n
  FROM toks
),
w AS (SELECT doc_id, t, hits, n, least(8, n) AS w FROM h),
s AS (
  SELECT doc_id, t, hits, w,
         list_transform(
           range(1, n - w + 2),
           i -> list_sum(list_slice(hits, i, i + w - 1))
         ) AS scores
  FROM w
),
b AS (
  SELECT doc_id, t, w,
         list_position(scores, list_max(scores)) AS best,
         list_max(scores) AS win_hits,
         list_sum(hits) AS total
  FROM s
)
SELECT doc_id,
       array_to_string(
         list_transform(
           list_slice(t, best, best + w - 1),
           x -> CASE WHEN len(list_filter(
                  string_split_regex(x, '[^a-z0-9]+'),
                  y -> y <> '' AND y IN ('dup', 'batch'))) > 0
                THEN '<em>' || x || '</em>' ELSE x END
         ), ' ') AS snippet,
       CAST(win_hits AS BIGINT) AS hits
FROM b WHERE total > 0
"""


def q_elevation(spark, sf_dir):
    """Query elevation (Solr QueryElevationComponent, elevate.xml +
    forceElevation): docs 499 and 3 pinned to ranks 1-2 in that order
    (real score when matched, 0.0 when not), organic 'dup or batch'
    results follow in score order with the pins removed."""
    from .query.elevation import elevation_search

    return elevation_search(_index(spark, sf_dir), "dup or batch", [499, 3], k=10)


def q_wand_elevation(spark, sf_dir):
    """The same elevation on the PACKED path: organic page over-fetched
    by |pins| via the per-segment boolean fan-out, pinned scores from
    the allowlist kernel (wand_scores_for_ids) — two bounded
    per-segment passes (<=4 jobs with the tiny-frame broadcast
    builds). Same oracle as elevation."""
    from .query.elevation import wand_elevation_search

    return wand_elevation_search(
        spark, _segments(spark, sf_dir), "dup or batch", [499, 3], k=10
    )


SQL_ELEVATION = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
ta AS (SELECT doc_id, partial AS s FROM partials WHERE term = 'dup'),
tb AS (SELECT doc_id, partial AS s FROM partials WHERE term = 'batch'),
un AS (SELECT doc_id, s FROM ta UNION ALL SELECT doc_id, s FROM tb),
scored AS (SELECT doc_id, round(sum(s), 5) AS score FROM un GROUP BY doc_id),
elev(doc_id, rank) AS (VALUES (CAST(499 AS BIGINT), 1), (CAST(3 AS BIGINT), 2)),
pinned AS (
  SELECT e.rank, e.doc_id, coalesce(s.score, 0.0) AS score, TRUE AS elevated
  FROM elev e LEFT JOIN scored s USING (doc_id)
),
org AS (
  SELECT doc_id, score FROM scored WHERE doc_id NOT IN (499, 3)
  ORDER BY score DESC, doc_id ASC LIMIT 8
),
org_r AS (
  SELECT CAST(2 + row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
           AS rank,
         doc_id, score, FALSE AS elevated
  FROM org
)
SELECT rank, doc_id, score, elevated FROM pinned
UNION ALL
SELECT rank, doc_id, score, elevated FROM org_r
ORDER BY rank
"""


def q_grouping(spark, sf_dir):
    """Result grouping (Solr group=true&group.field=source&
    group.limit=2): top-5 source groups by best doc for 'dup or
    batch', each with its top-2 members."""
    from .query.collapse import group_search

    return group_search(
        _index(spark, sf_dir), "dup or batch",
        _docs(spark, sf_dir).select("doc_id", "source"), "source",
        k_groups=5, group_limit=2,
    )


def q_wand_grouping(spark, sf_dir):
    """The same grouping on the PACKED path: per-segment top-2 per
    source ordinal (vocab-bounded partials), cross-segment member
    merge by value, head-ranked groups. Same oracle as grouping."""
    from .index.segments import wand_group_search

    return wand_group_search(
        spark, _dv_segments(spark, sf_dir), "dup or batch", "source",
        k_groups=5, group_limit=2,
    )


SQL_GROUPING = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
ta AS (SELECT doc_id, partial AS s FROM partials WHERE term = 'dup'),
tb AS (SELECT doc_id, partial AS s FROM partials WHERE term = 'batch'),
un AS (SELECT doc_id, s FROM ta UNION ALL SELECT doc_id, s FROM tb),
scored AS (SELECT doc_id, round(sum(s), 5) AS score FROM un GROUP BY doc_id),
j AS (
  SELECT d.source, sc.doc_id, sc.score
  FROM scored sc JOIN documents d USING (doc_id)
),
r AS (
  SELECT source, doc_id, score,
         row_number() OVER (
           PARTITION BY source ORDER BY score DESC, doc_id ASC
         ) AS pos
  FROM j
),
heads AS (SELECT source, doc_id, score FROM r WHERE pos = 1),
g AS (
  SELECT source,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
           AS grp_rank
  FROM heads
  ORDER BY score DESC, doc_id ASC LIMIT 5
)
SELECT g.grp_rank, r.source, CAST(r.pos AS INT) AS pos, r.doc_id, r.score
FROM r JOIN g USING (source)
WHERE r.pos <= 2
ORDER BY g.grp_rank, pos
"""


def q_rerank(spark, sf_dir):
    """Two-pass re-ranking (Solr ReRankQParserPlugin): base
    'dup or batch' retrieves, the top-30 prefix re-scores as
    base + 2.0 * bm25('window'), the re-sorted top-10 is served."""
    from .query.rerank import rerank_search

    return rerank_search(
        _index(spark, sf_dir), "dup or batch", "window",
        k=10, rerank_docs=30, weight=2.0,
    )


def q_wand_rerank(spark, sf_dir):
    """The same rerank on the PACKED path: base top-30 via the
    per-segment boolean fan-out, second pass evaluated per segment
    against the broadcast 30-id allowlist (at most |allowlist| rows
    per segment leave the kernel). Same oracle as rerank."""
    from .index.segments import wand_rerank_search

    return wand_rerank_search(
        spark, _segments(spark, sf_dir), "dup or batch", "window",
        k=10, rerank_docs=30, weight=2.0,
    )


SQL_RERANK = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
a AS (SELECT doc_id, partial AS s FROM partials WHERE term = 'dup'),
b AS (SELECT doc_id, partial AS s FROM partials WHERE term = 'batch'),
un AS (SELECT doc_id, s FROM a UNION ALL SELECT doc_id, s FROM b),
base_scored AS (
  SELECT doc_id, round(sum(s), 5) AS score FROM un GROUP BY doc_id
),
topn AS (
  SELECT doc_id, score FROM base_scored
  ORDER BY score DESC, doc_id ASC LIMIT 30
),
rr AS (
  SELECT doc_id, round(partial, 5) AS rrs FROM partials
  WHERE term = 'window'
),
comb AS (
  SELECT t.doc_id, round(t.score + 2.0 * coalesce(rr.rrs, 0), 5) AS score
  FROM topn t LEFT JOIN rr USING (doc_id)
)
SELECT doc_id, score FROM comb ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_wand_mlt(spark, sf_dir):
    """/mlt served ENTIRELY from segment files (docstore seed text +
    termstats-sidecar df + wand_search execution, seeds excluded) —
    same oracle as mlt_docs, proving the flagship MLT behavior
    (DiceMoreLikeThisHandler.java:67-271) needs no flat corpus at the
    serve tier (VERDICT r03 missing #1)."""
    from .query.handlers import packed_mlt_handler
    from .query.mlt import MLTParams

    return packed_mlt_handler(
        spark,
        _segments(spark, sf_dir),
        [0],
        MLTParams(min_term_freq=1, min_doc_freq=5, max_query_terms=20),
        k=10,
    )["docs"]


def q_wand_feedback(spark, sf_dir):
    """/uf served ENTIRELY from segment files: seed top-5 via the
    per-segment boolean path, extraction from docstore + sidecar, and
    the final seed-MUST + expansion-SHOULD query as ONE boosted
    per-segment job — same oracle as feedback, proving the flagship
    two-phase query (UnsupervisedFeedbackHelper.java:101-131) runs at
    the serve tier too (VERDICT r03 missing #1)."""
    from .query.handlers import packed_feedback_handler
    from .query.mlt import MLTParams

    return packed_feedback_handler(
        spark,
        _segments(spark, sf_dir),
        "dup",
        MLTParams(min_term_freq=1, min_doc_freq=5, max_query_terms=20),
        k=10,
        max_seed_docs=5,
    )["docs"]


_SEG_DEL_CACHE: dict[str, object] = {}


def _del_segments(spark, sf_dir):
    """A second packed index with doc_id % 7 == 3 tombstoned via
    delete_docs — its own directory so the shared _segments cache
    stays pristine for the other wand gates."""
    if sf_dir not in _SEG_DEL_CACHE:
        import tempfile

        from .index.segments import (
            SegmentIndex,
            build_segments,
            delete_docs,
        )

        out = tempfile.mkdtemp(prefix="registry_segs_del_")
        si = build_segments(
            _index(spark, sf_dir), f"{out}/idx", seg_size=128, groups=2
        )
        delete_docs(si.path, [i for i in range(si.n_docs) if i % 7 == 3])
        _SEG_DEL_CACHE[sf_dir] = SegmentIndex.load(si.path)
    return _SEG_DEL_CACHE[sf_dir]


_UPD_CACHE: dict[str, object] = {}


def _upd_compacted(spark, sf_dir):
    """An updatable two-generation packed store over `documents`
    (external key ext_id = the table's doc_id; internal ids are the
    engine's), with doc_id % 11 == 5 REPLACED via ``update_docs``
    (text gains a planted marker term) and then compacted — the full
    Solr updateDocument lifecycle: keymap lookup, tombstone old
    versions, fresh-id new generation, physical purge at merge."""
    if sf_dir not in _UPD_CACHE:
        import tempfile

        from .index.segments import compact_packed
        from .streaming.incremental import (
            packed_generations,
            process_generation,
            update_docs,
        )

        out = tempfile.mkdtemp(prefix="registry_upd_")
        store = f"{out}/store"
        docs = _docs(spark, sf_dir).withColumnRenamed("doc_id", "ext_id")
        # initial internal ids = ext_id (dense); two generations split
        # by parity so the update's tombstones land in BOTH
        for gen in (0, 1):
            process_generation(
                docs.filter(F.col("ext_id") % 2 == gen).withColumn(
                    "doc_id", F.col("ext_id")
                ),
                gen,
                store,
                pack=True,
                seg_size=128,
                seg_groups=2,
                store_cols=["ext_id"],
                key_cols=("ext_id",),
            )
        batch = (
            docs.filter(F.col("ext_id") % 11 == 5)
            .withColumn(
                "text", F.concat(F.col("text"), F.lit(" zephyrupdate zephyrupdate"))
            )
        )
        update_docs(
            spark, store, batch, key_cols=("ext_id",),
            seg_size=128, seg_groups=2, store_cols=["ext_id"],
        )
        _UPD_CACHE[sf_dir] = compact_packed(
            spark, packed_generations(store), f"{out}/compact", groups=2
        )
    return _UPD_CACHE[sf_dir]


def q_wand_update(spark, sf_dir):
    """updateDocument end-to-end: every doc whose ext_id % 11 == 5 was
    replaced (marker term appended) through the keymap/tombstone/
    fresh-id path and the store compacted — the compacted index must
    be query-equivalent to a fresh build over the UPDATED corpus, so
    the oracle runs BM25 over documents with the same CASE rewrite.
    Results map internal ids back to ext_id via the docstore and sort
    by ext_id (internal ids are an engine detail the oracle never
    sees)."""
    from .index.segments import fetch_docs, wand_search

    comp = _upd_compacted(spark, sf_dir)
    hits = wand_search(spark, comp, [("zephyrupdate", 1.0)], k=100_000)
    ids = [int(r["doc_id"]) for r in hits.collect()]
    page = fetch_docs(spark, comp, ids).select("doc_id", "ext_id")
    return (
        hits.join(page, "doc_id")
        .select(F.col("ext_id").cast("long").alias("ext_id"), "score")
        .orderBy("ext_id")
    )


def _sql_wand_update():
    tok_upd = TOK_SQL.replace("documents", "updocs")
    return f"""
WITH updocs AS (
  SELECT doc_id, CASE WHEN doc_id % 11 = 5
         THEN text || ' zephyrupdate zephyrupdate' ELSE text END AS text
  FROM documents
),
{tok_upd}, {BM25_PARTIAL_SQL}
SELECT doc_id AS ext_id, round(partial, 5) AS score
FROM partials WHERE term = 'zephyrupdate'
ORDER BY ext_id
"""


def q_wand_delete(spark, sf_dir):
    """Delete-by-id on the packed index (the Lucene liveDocs analogue,
    VERDICT r04 item #4): doc_id % 7 == 3 tombstoned, then the
    boosted-OR query runs with Lucene stats semantics — df/N keep
    counting tombstoned docs until compaction (IndexReader.docFreq
    ignores liveDocs), so survivors keep their exact scores and the
    oracle scores the FULL corpus, filtering the dead from candidates
    only."""
    from .index.segments import wand_search

    return wand_search(
        spark,
        _del_segments(spark, sf_dir),
        [("dup", 2.0), ("batch", 1.0), ("window", 0.5)],
        k=10,
    )


def q_classic_coord(spark, sf_dir):
    """Classic similarity with coord + queryNorm query-level factors
    (DiceDefaultSimilarity.java:64-74) over a 3-clause OR."""
    from .query.scorer import classic_coord_search

    return classic_coord_search(
        _index(spark, sf_dir),
        [("dup", 1.0), ("batch", 1.0), ("vector", 2.0)],
        k=10,
    )


SQL_CLASSIC_COORD = f"""
WITH {TOK_SQL},
qt AS (
  SELECT * FROM (VALUES ('dup', 1.0), ('batch', 1.0), ('vector', 2.0))
    t(term, boost)
),
idfs AS (
  SELECT qt.term, qt.boost, ln(stats.n / (d.df + 1.0)) + 1.0 AS idf
  FROM qt JOIN dfreq d USING (term) CROSS JOIN stats
),
qn AS (SELECT 1.0 / sqrt(sum((idf * boost) * (idf * boost))) AS qn FROM idfs),
parts AS (
  SELECT tf.doc_id, sqrt(tf.tf) * i.idf * i.idf * i.boost / sqrt(dl.dl) AS p
  FROM tf JOIN idfs i USING (term) JOIN dl USING (doc_id)
),
scored AS (SELECT doc_id, sum(p) AS s, count(*) AS matched FROM parts GROUP BY doc_id)
SELECT doc_id, round((matched / 3.0) * qn.qn * s, 5) AS score
FROM scored CROSS JOIN qn
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_range_query(spark, sf_dir):
    """Range terminal (grammar extension; the reference @Ignores its
    range test): numeric inclusive range ANDed with a scored term —
    range matches are constant-score 1.0."""
    from .query.compiler import execute_query

    return execute_query(
        _index(spark, sf_dir), "n_chars:[100 TO 300] and dup", k=10
    )


SQL_RANGE_QUERY = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
in_range AS (
  SELECT doc_id, 1.0 AS s FROM documents WHERE n_chars BETWEEN 100 AND 300
),
term_scored AS (
  SELECT doc_id, partial AS s FROM partials WHERE term = 'dup'
)
SELECT r.doc_id, round(r.s + t.s, 5) AS score
FROM in_range r JOIN term_scored t USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_boosted_fn(spark, sf_dir):
    """BoostedQuery: BM25 OR over two terms with a multiplicative
    function boost (doc_id % 7 + 1) applied BEFORE ranking — the boost
    decides which docs make the top-k (MoreLikeThisHelper.java:131-145)."""
    from .query.handlers import boosted_search

    return boosted_search(
        _index(spark, sf_dir),
        [("dup", 1.0), ("batch", 1.0)],
        boost_fn=(F.col("doc_id") % 7 + 1).cast("double"),
        k=10,
    )


SQL_BOOSTED_FN = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
scored AS (
  SELECT doc_id, sum(partial) AS s
  FROM partials WHERE term IN ('dup', 'batch') GROUP BY doc_id
)
SELECT doc_id, round(s * (doc_id % 7 + 1), 5) AS score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_wand_boosted_fn(spark, sf_dir):
    """BoostedQuery on the PACKED path (serve-tier twin of boosted_fn):
    same BM25 OR, multiplicative ValueSource over the n_chars
    docvalues stream — fn(v) = v % 7 + 1 applied BEFORE ranking, per
    MoreLikeThisHelper.java:131-145. Proves function boosts never need
    the flat corpus at query time: the value comes from the packed
    NumericDocValues analogue, the scorer reads the full per-segment
    match (block-max bounds are invalid under an unbounded
    multiplier, segments.py _collect_topk)."""
    import numpy as np

    from .index.segments import wand_search

    return wand_search(
        spark,
        _dv_segments(spark, sf_dir),
        [("dup", 1.0), ("batch", 1.0)],
        k=10,
        boost_fn=("n_chars", lambda v: np.mod(v, 7.0) + 1.0),
    )


SQL_WAND_BOOSTED_FN = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
scored AS (
  SELECT doc_id, sum(partial) AS s
  FROM partials WHERE term IN ('dup', 'batch') GROUP BY doc_id
)
SELECT s.doc_id, round(s.s * (d.n_chars % 7 + 1), 5) AS score
FROM scored s JOIN documents d USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_mlt_docs(spark, sf_dir):
    """Full MLT: top-10 similar docs for seed 0, seed excluded."""
    from .query.mlt import MLTParams, more_like_this

    return more_like_this(
        _index(spark, sf_dir),
        [0],
        MLTParams(min_term_freq=1, min_doc_freq=5, max_query_terms=20),
        k=10,
    )


SQL_MLT_DOCS = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
seed_tf AS (
  SELECT term, sum(tf)::BIGINT AS tf FROM tf WHERE doc_id = 0 GROUP BY term
),
cand AS (
  SELECT s.term, s.tf * (ln(stats.n / (d.df + 1.0)) + 1.0) AS weight
  FROM seed_tf s JOIN dfreq d USING (term) CROSS JOIN stats
  WHERE s.tf >= 1 AND d.df >= 5
),
top AS (SELECT * FROM cand ORDER BY weight DESC, term ASC LIMIT 20),
veclen AS (SELECT sqrt(sum(weight * weight)) AS v FROM top),
boosts AS (SELECT term, round(weight / veclen.v, 5) AS boost FROM top CROSS JOIN veclen),
scored AS (
  SELECT p.doc_id, round(sum(b.boost * p.partial), 5) AS score
  FROM partials p JOIN boosts b USING (term)
  WHERE p.doc_id <> 0
  GROUP BY p.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
"""


# ---- phrase query (positional index) ----------------------------------

_POS_INDEX_CACHE: dict[str, object] = {}


def _pos_index(spark, sf_dir):
    if sf_dir not in _POS_INDEX_CACHE:
        from .index.builder import build_index

        _POS_INDEX_CACHE[sf_dir] = build_index(
            _docs(spark, sf_dir), positions=True
        ).persist()
    return _POS_INDEX_CACHE[sf_dir]


def q_phrase(spark, sf_dir):
    """Quoted-phrase query over the positional index: exact adjacency
    via position-list intersection, scored by member-term BM25."""
    from .query.compiler import execute_query

    return execute_query(_pos_index(spark, sf_dir), '"table hash"', k=10)


SQL_PHRASE = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> len(x) >= 1 AND len(x) <= 64) AS toks
  FROM documents
),
bigrams AS (
  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS bg
  FROM base WHERE len(toks) >= 2
),
hits AS (SELECT DISTINCT doc_id FROM bigrams WHERE bg = 'table hash'),
scores AS (
  SELECT doc_id, sum(partial) AS s FROM partials
  WHERE term IN ('table', 'hash') GROUP BY doc_id
)
SELECT h.doc_id, round(coalesce(s.s, 0.0), 5) AS score
FROM hits h LEFT JOIN scores s USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


# ---- per-field routing ------------------------------------------------

_LANG_INDEX_CACHE: dict[str, object] = {}


def _lang_index(spark, sf_dir):
    from .index.builder import build_index

    if sf_dir not in _LANG_INDEX_CACHE:
        _LANG_INDEX_CACHE[sf_dir] = build_index(
            _docs(spark, sf_dir), text_col="lang"
        ).persist()
    return _LANG_INDEX_CACHE[sf_dir]


def q_field_query(spark, sf_dir):
    """FieldQuery routing: 'lang:en and dup' — the lang clause scores
    against a per-field index (per-field df/dl/avgdl, the per-field
    similarity mechanism), intersected with the text clause."""
    from .query.compiler import QueryCompiler
    from .query.parser import parse_query

    compiler = QueryCompiler(
        _index(spark, sf_dir), field_indexes={"lang": _lang_index(spark, sf_dir)}
    )
    tree, _ = parse_query("lang:en and dup")
    scored = compiler.compile(tree)
    return (
        scored.select("doc_id", F.round("score", 5).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


SQL_FIELD_QUERY = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
-- lang field: every doc has exactly 1 token => dl=1, avgdl=1, tf=1,
-- so the BM25 tf-part is exactly 1 and the clause score is the idf
lang_df AS (SELECT count(*)::DOUBLE AS df FROM documents WHERE lang = 'en'),
lang_scored AS (
  SELECT d.doc_id,
         ln(1.0 + (stats.n - lang_df.df + 0.5) / (lang_df.df + 0.5)) AS s
  FROM documents d CROSS JOIN lang_df CROSS JOIN stats
  WHERE d.lang = 'en'
),
text_scored AS (
  SELECT doc_id, sum(partial) AS s FROM partials WHERE term = 'dup' GROUP BY doc_id
)
SELECT l.doc_id, round(l.s + t.s, 5) AS score
FROM lang_scored l JOIN text_scored t USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_join_query(spark, sf_dir):
    """Cross-core join (Solr {!join from=source to=source}): docs
    whose source appears among the sources of the 'dup and batch'
    match set — constant-score semi-join, Solr's join semantics."""
    from .query.joins import join_query

    d = _docs(spark, sf_dir)
    return join_query(
        _index(spark, sf_dir), "dup and batch",
        d.select("doc_id", "source"), "source", d, "source",
    )


def q_wand_join(spark, sf_dir):
    """The same join on the PACKED tier: the FROM key set comes from
    the source ordinal-docvalues facet partials (per-segment,
    vocab-bounded — the FROM corpus is never read), then the same
    broadcast semi-join. Same oracle as join_query."""
    from .query.joins import wand_join_query

    return wand_join_query(
        spark, _dv_segments(spark, sf_dir), "dup and batch", "source",
        _docs(spark, sf_dir), "source",
    )


SQL_JOIN_QUERY = f"""
WITH {TOK_SQL},
m AS (
  SELECT doc_id FROM tf WHERE term = 'dup'
  INTERSECT
  SELECT doc_id FROM tf WHERE term = 'batch'
),
keys AS (SELECT DISTINCT d.source FROM m JOIN documents d USING (doc_id))
SELECT doc_id FROM documents WHERE source IN (SELECT source FROM keys)
ORDER BY doc_id
"""


def q_dismax(spark, sf_dir):
    """DisMax (Solr DisMaxQParserPlugin): terms {en, dup} each score
    against BOTH the text and lang fields (per-field statistics);
    per (doc, term) the best field wins plus tie=0.3 times the rest,
    per doc the terms sum. 'en' scores through the lang field where
    it is a whole-field token; 'dup' through text."""
    from .query.joins import dismax_search

    return dismax_search(
        {"": _index(spark, sf_dir), "lang": _lang_index(spark, sf_dir)},
        [("en", 1.0), ("dup", 1.0)],
        k=10, tie=0.3,
    )


SQL_DISMAX = f"""
WITH {TOK_SQL}, {BM25_PARTIAL_SQL},
qt(term) AS (VALUES ('en'), ('dup')),
text_p AS (
  SELECT doc_id, term, partial AS s FROM partials
  WHERE term IN ('en', 'dup')
),
-- lang field: dl=1, avgdl=1, tf=1 => the BM25 tf-part is exactly 1
-- and the clause score is the lang-field idf (same recipe the
-- field_query oracle uses)
lang_df AS (
  SELECT qt.term, count(*)::DOUBLE AS df
  FROM documents d JOIN qt ON d.lang = qt.term GROUP BY qt.term
),
lang_p AS (
  SELECT d.doc_id, d.lang AS term,
         ln(1.0 + (stats.n - ld.df + 0.5) / (ld.df + 0.5)) AS s
  FROM documents d JOIN lang_df ld ON d.lang = ld.term CROSS JOIN stats
),
un AS (SELECT * FROM text_p UNION ALL SELECT * FROM lang_p),
pt AS (
  SELECT doc_id, term, max(s) AS mx, sum(s) AS sm
  FROM un GROUP BY doc_id, term
),
dm AS (SELECT doc_id, mx + 0.3 * (sm - mx) AS d FROM pt)
SELECT doc_id, round(sum(d), 5) AS score FROM dm GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


# ---- pivot rollup -----------------------------------------------------

def q_pivot_rollup(spark, sf_dir):
    from .analytics.jointcounts import pivot_counts

    return pivot_counts(_docs(spark, sf_dir), ["lang", "source"], min_count=2)


SQL_PIVOT_ROLLUP = """
SELECT lang, source, count(*)::BIGINT AS cnt,
       (CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END
        + CASE WHEN source IS NOT NULL THEN 1 ELSE 0 END) AS depth
FROM documents GROUP BY ROLLUP(lang, source) HAVING count(*) >= 2
"""


def q_suggest_case_variant(spark, sf_dir):
    """Case-variant suggester: merge hits across {scan, SCAN, Scan}."""
    from .suggest import case_variant_suggest, high_frequency_dictionary

    hf = high_frequency_dictionary(_index(spark, sf_dir), threshold=0.5)
    title = hf.select(
        F.concat(
            F.upper(F.substring("phrase", 1, 1)), F.expr("substring(phrase, 2)")
        ).alias("phrase"),
        (F.col("freq") + 1).alias("freq"),
    )
    return case_variant_suggest(hf.unionByName(title), "Scan", popular=True)


SQL_SUGGEST_CASE_VARIANT = f"""
WITH {TOK_SQL},
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
hf AS (SELECT term AS phrase, df AS freq FROM dfreq CROSS JOIN n WHERE df >= 0.5 * n.n),
dict AS (
  SELECT phrase, freq FROM hf
  UNION ALL
  SELECT upper(substr(phrase,1,1)) || substr(phrase,2), freq + 1 FROM hf
),
hits AS (SELECT * FROM dict WHERE phrase IN ('scan', 'SCAN', 'Scan')),
merged AS (
  SELECT lower(phrase) AS key,
         max(struct_pack(freq := freq, phrase := phrase)) AS best,
         sum(freq)::BIGINT AS count
  FROM hits GROUP BY lower(phrase)
)
SELECT key, best.phrase AS suggestion, best.freq AS freq, count
FROM merged ORDER BY count DESC, key ASC
"""


def q_payload_search(spark, sf_dir):
    """PayloadIdf scoring over a payload-decorated corpus (every token
    of doc d carries weight d%3+1)."""
    from .analysis.payloads import build_payload_index
    from .analysis.tokenizer import tokens_col
    from .query.scorer import PayloadIdf, search_terms

    docs = _docs(spark, sf_dir)
    w = (F.col("doc_id") % 3 + 1).cast("string")
    decorated = docs.select(
        "doc_id",
        F.array_join(
            F.transform(tokens_col("text"), lambda t: F.concat(t, F.lit("^"), w)),
            " ",
        ).alias("text"),
    )
    pidx = build_payload_index(decorated)
    return search_terms(pidx, [("dup", 1.0)], k=10, sim=PayloadIdf)


SQL_PAYLOAD_SEARCH = f"""
WITH {TOK_SQL},
hits AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'dup'),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
df AS (SELECT count(*)::DOUBLE AS df FROM hits)
SELECT h.doc_id,
       round((h.doc_id % 3 + 1) * (ln(n.n / (df.df + 1.0)) + 1.0), 5) AS score
FROM hits h CROSS JOIN n CROSS JOIN df
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_simhash(spark, sf_dir):
    """64-bit simhash fingerprints. Fully oracle-checked: the token
    hash is md5-derived (top 16 hex chars as two 32-bit halves), so
    DuckDB recomputes the identical fingerprint with hex-nibble bit
    extraction + HUGEINT packing (SQL_SIMHASH)."""
    from .dedup import simhash64

    return simhash64(_docs(spark, sf_dir))


# Recompute the fingerprint bit-for-bit in SQL: bit b (LSB=0) of the
# 64-bit hash int(md5[:16], 16) lives in hex char 16 - b//4 (1-indexed),
# sub-bit b%4; sign-of-weighted-sum per bit, packed via HUGEINT into a
# signed int64 (two's complement) to match Spark's long.
SQL_SIMHASH = f"""
WITH {TOK_SQL},
hashed AS (SELECT doc_id, tf, md5(term) AS h FROM tf),
bitsum AS (
  SELECT doc_id, bb.bit,
         sum(((((strpos('0123456789abcdef', substr(h, CAST(16 - bb.bit // 4 AS INT), 1)) - 1)
               >> (bb.bit % 4)) & 1) * 2 - 1) * tf) AS s
  FROM hashed CROSS JOIN range(0, 64) bb(bit)
  GROUP BY doc_id, bb.bit
),
packed AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::HUGEINT << CAST(bit AS INT)) ELSE 0::HUGEINT END) AS p
  FROM bitsum GROUP BY doc_id
)
SELECT doc_id,
       (CASE WHEN p >= 9223372036854775808::HUGEINT
             THEN p - 18446744073709551616::HUGEINT ELSE p END)::BIGINT AS simhash
FROM packed
"""


def q_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH approximate top-k. Fully oracle-checked: the
    hyperplanes are deterministic (splitmix64, seed=7), so the oracle
    SQL embeds them as literals and recomputes bucket assignment,
    multiprobe set, and exact candidate cosines (see _sql_ann_lsh)."""
    from .similarity import cosine_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 7).first()["embedding"])
    return cosine_topk_lsh(emb, q, k=10, n_planes=2, multiprobe=2)


def _sql_ann_lsh(dim: int = 64, n_planes: int = 2, multiprobe: int = 2) -> str:
    """Mirror of cosine_topk_lsh(n_planes=2, multiprobe=2, seed=7) for
    the fixed driver embedding dim (64). Buckets = sign bits of
    projections onto literal hyperplanes; probes = query bucket plus
    single-bit flips; exact cosine rank on candidates."""
    from .similarity.ann import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed=7)
    lits = [
        "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]" for p in planes
    ]
    bucket_of = lambda v: " + ".join(  # noqa: E731
        f"(CASE WHEN list_dot_product({v}, {lits[i]}) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    probe_list = ", ".join(
        ["qb.b"] + [f"xor(qb.b, {1 << i})" for i in range(min(multiprobe, n_planes))]
    )
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
qb AS (SELECT {bucket_of('qv')} AS b FROM q),
bucketed AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {bucket_of('embedding::DOUBLE[]')} AS bucket
  FROM embeddings
),
cand AS (
  SELECT * FROM bucketed CROSS JOIN qb WHERE bucket IN ({probe_list})
)
SELECT c.vec_id AS id,
       round(list_dot_product(c.v, q.qv)
             / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 5)
         AS cosine
FROM cand c CROSS JOIN q
ORDER BY cosine DESC, id ASC LIMIT 10
"""


def q_classic_lossy_norm(spark, sf_dir):
    """Classic similarity with LUCENE'S 1-byte norm quantization
    (SmallFloat byte315, DefaultSimilarity.encodeNormValue:
    lengthNorm rounds through the 255-value codec) — the last
    deliberate divergence, now available as an opt-in mode; the
    oracle mirrors the codec via the literal decode table and the
    largest-representable-<=x rule."""
    from .query.scorer import Similarity, search_terms

    return search_terms(
        _index(spark, sf_dir),
        [("dup", 1.0)],
        k=10,
        sim=Similarity(kind="classic", lossy_norm=True),
    )


def _sql_classic_lossy_norm() -> str:
    from .query.scorer import byte315_table

    lits = "[" + ", ".join(repr(v) for v in byte315_table()) + "]::DOUBLE[]"
    xf = "CAST(CAST(1.0 / sqrt(dl.dl) AS REAL) AS DOUBLE)"
    cnt = f"len(list_filter(tbl.a, x -> x <= {xf}))"
    return f"""
WITH {TOK_SQL},
tbl AS (SELECT {lits} AS a),
scored AS (
  SELECT tf.doc_id,
         sqrt(tf.tf) * (ln(stats.n / (d.df + 1.0)) + 1.0)
           * (CASE WHEN {cnt} = 0 THEN tbl.a[1] ELSE tbl.a[{cnt}] END) AS s
  FROM tf JOIN dl USING (doc_id) JOIN dfreq d USING (term)
  CROSS JOIN stats CROSS JOIN tbl
  WHERE term = 'dup'
)
SELECT doc_id, round(s, 5) AS score FROM scored
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_ann_ivf(spark, sf_dir):
    """IVF (inverted-file) approximate top-k via the MATERIALIZED
    serving path (VERDICT r04 item #3): the corpus is assigned once
    and written partitionBy(bucket) (write_ivf_index — the inverted
    file), then the query probes nprobe cells through a PARTITION
    filter, so the scan reads only those cell directories instead of
    re-assigning the whole corpus (plan/files-read asserted in
    tests/test_pipeline_ops). Fully oracle-checked: the gate uses the
    DATA-INDEPENDENT deterministic codebook (splitmix64, seed=11), so
    the oracle SQL embeds the centroids as literals and recomputes
    assignment, probe set, and candidate cosines (the trained
    spherical-k-means codebook is pytest-covered:
    test_pipeline_ops)."""
    import tempfile

    from .similarity import cosine_topk_ivf_served, write_ivf_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 7).first()["embedding"])
    path = os.path.join(tempfile.mkdtemp(prefix="ivf_gate_"), "ivf")
    write_ivf_index(emb, path, n_centroids=8, dim=len(q))
    return cosine_topk_ivf_served(spark, path, q, k=10, nprobe=3)


def _sql_ann_ivf(dim: int = 64, n_centroids: int = 8, nprobe: int = 3) -> str:
    """Mirror of cosine_topk_ivf's random-codebook path for the fixed
    driver embedding dim: literal centroids; per-vector assignment =
    max dot (ties -> lowest centroid id, matching array_position's
    first-max); probes = nprobe centroids nearest the query; exact
    cosine rank on candidates."""
    from .similarity.ann import ivf_centroids_random

    cents = ivf_centroids_random(dim, n_centroids, seed=11)
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ", ".join(repr(float(x)) for x in c)
        )
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents AS (SELECT * FROM (VALUES {rows}) c(cid, cv)),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
qprobe AS (
  SELECT cid FROM cents CROSS JOIN q
  ORDER BY list_dot_product(cv, qv) DESC, cid ASC LIMIT {nprobe}
),
dots AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cid,
         list_dot_product(e.embedding::DOUBLE[], c.cv) AS d
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, v, cid AS bucket FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
    FROM dots
  ) WHERE rn = 1
),
cand AS (
  SELECT a.vec_id, a.v FROM assigned a
  WHERE a.bucket IN (SELECT cid FROM qprobe)
)
SELECT c.vec_id AS id,
       round(list_dot_product(c.v, q.qv)
             / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 5)
         AS cosine
FROM cand c CROSS JOIN q
ORDER BY cosine DESC, id ASC LIMIT 10
"""


# ---- score explain (Lucene Explanation / Solr debugQuery=true) ------

def q_explain_score(spark, sf_dir):
    """Per-(doc, term) score decomposition for a boosted OR query —
    the IndexSearcher.explain surface Solr renders under
    debugQuery=true, and the harness every reference similarity
    change (DiceDefaultSimilarity.java etc.) is validated with.
    Same single isin-pruned scan as scoring; zero joins."""
    from .query.scorer import explain_terms

    return explain_terms(_index(spark, sf_dir), [("dup", 2.0), ("batch", 1.0)])


SQL_EXPLAIN_SCORE = f"""
WITH {TOK_SQL},
qt AS (SELECT 'dup' AS term, 2.0::DOUBLE AS boost
       UNION ALL SELECT 'batch', 1.0::DOUBLE)
SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, qt.boost,
       round(ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)), 5) AS idf,
       round((tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)), 5) AS tf_norm,
       1.0::DOUBLE AS norm,
       round(qt.boost * (
         ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * ((tf.tf * (1.2 + 1.0))
              / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)))
       ), 5) AS partial
FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) JOIN qt USING (term)
CROSS JOIN stats
"""


EXT_QUERIES = {
    "phrase_query": q_phrase,
    "field_query": q_field_query,
    "pivot_rollup": q_pivot_rollup,
    "suggest_case_variant": q_suggest_case_variant,
    "payload_search": q_payload_search,
    "simhash": q_simhash,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "classic_lossy_norm": q_classic_lossy_norm,
    "fq_termfreq": q_fq_termfreq,
    "fq_fieldlen": q_fq_fieldlen,
    "fq_fieldval": q_fq_fieldval,
    "fq_termintersect": q_fq_termintersect,
    "fq_termoverlap": q_fq_termoverlap,
    "spellcheck": q_spellcheck,
    "wand_spellcheck": q_wand_spellcheck,
    "wand_suggest": q_wand_suggest,
    "wand_terms_enum": q_wand_terms_enum,
    "spellcheck_collate": q_spellcheck_collate,
    "suggest_canonical": q_suggest_canonical,
    "sessionize": q_sessionize,
    "context_window": q_context_window,
    "event_windows": q_event_windows,
    "nb_classify": q_nb_classify,
    "stumps": q_stumps,
    "joint_probability": q_joint_probability,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_sig": q_dedup_minhash_sig,
    "ngram_jaccard": q_ngram_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "dedup_apply": q_dedup_apply,
    "dup_spans": q_dup_spans,
    "dedup_substring": q_dedup_substring,
    "dedup_lines": q_dedup_lines,
    "emb_near_dup": q_emb_near_dup,
    "knn_join": q_knn_join,
    "ann_cosine": q_ann_cosine,
    "lang_id": q_lang_id,
    "pii_redact": q_pii_redact,
    "sample": q_sample,
    "sample_stratified": q_sample_stratified,
    "pack_sequences": q_pack_sequences,
    "chunk_docs": q_chunk_docs,
    "epoch_shard": q_epoch_shard,
    "repetition": q_repetition,
    "contamination": q_contamination,
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "quality": q_quality,
    "quality_gate": q_quality_gate,
    "lm_quality": q_lm_quality,
    "ppl_buckets": q_ppl_buckets,
    "mixture_sample": q_mixture_sample,
    "source_cap": q_source_cap,
    "session_transcripts": q_session_transcripts,
    "tfidf_vectors": q_tfidf_vectors,
    "wand_single": q_wand_single,
    "wand_or": q_wand_or,
    "cursor_page": q_cursor_page,
    "wand_phrase": q_wand_phrase,
    "wand_payload": q_wand_payload,
    "wand_boolean": q_wand_boolean,
    "wand_not": q_wand_not,
    "wand_field": q_wand_field,
    "wand_range": q_wand_range,
    "wand_facet": q_wand_facet,
    "collapse_field": q_collapse_field,
    "wand_collapse": q_wand_collapse,
    "rerank": q_rerank,
    "wand_rerank": q_wand_rerank,
    "facet_range": q_facet_range,
    "wand_facet_range": q_wand_facet_range,
    "field_stats": q_field_stats,
    "wand_stats": q_wand_stats,
    "facet_query": q_facet_query,
    "wand_facet_query": q_wand_facet_query,
    "stats_facet": q_stats_facet,
    "wand_stats_facet": q_wand_stats_facet,
    "phrase_slop": q_phrase_slop,
    "wand_phrase_slop": q_wand_phrase_slop,
    "bpe_pairs": q_bpe_pairs,
    "dsir_weights": q_dsir_weights,
    "ccnet_pipeline": q_ccnet_pipeline,
    "stats_percentiles": q_stats_percentiles,
    "wand_stats_percentiles": q_wand_stats_percentiles,
    "highlight": q_highlight,
    "terms_enum": q_terms_enum,
    "elevation": q_elevation,
    "wand_elevation": q_wand_elevation,
    "grouping": q_grouping,
    "wand_grouping": q_wand_grouping,
    "join_query": q_join_query,
    "wand_join": q_wand_join,
    "dismax": q_dismax,
    "wand_mlt": q_wand_mlt,
    "wand_feedback": q_wand_feedback,
    "wand_delete": q_wand_delete,
    "wand_update": q_wand_update,
    "wand_boosted_fn": q_wand_boosted_fn,
    "classic_coord": q_classic_coord,
    "boosted_fn": q_boosted_fn,
    "range_query": q_range_query,
    "mlt_docs": q_mlt_docs,
    "explain_score": q_explain_score,
}


def _sql_wand_delete():
    from .registry import _sql_topk_for_terms

    return _sql_topk_for_terms(
        [("dup", 2.0), ("batch", 1.0), ("window", 0.5)],
        k=10,
        extra_where=" AND (doc_id % 7) <> 3",
    )


def _sql_cursor_page():
    # page 2 == OFFSET 10 of the full deterministic ordering: the
    # oracle never sees the cursor, only the ordering it must preserve
    from .registry import _sql_topk_for_terms

    return _sql_topk_for_terms(
        [("dup", 2.0), ("batch", 1.0), ("window", 0.5)], k=10, offset=10
    )


def ext_oracle_sql() -> dict[str, str]:
    from .registry import (
        SQL_BM25_SINGLE,
        SQL_BM25_OR_BOOSTED,
        SQL_BOOLEAN_NOT as SQL_BOOLEAN_NOT_REF,
        SQL_BOOLEAN_PRECEDENCE as SQL_BOOLEAN_PRECEDENCE_REF,
        SQL_FACET_COUNTS as SQL_FACET_COUNTS_REF,
        SQL_FEEDBACK as SQL_FEEDBACK_REF,
    )

    return {
        "phrase_query": SQL_PHRASE,
        "field_query": SQL_FIELD_QUERY,
        "pivot_rollup": SQL_PIVOT_ROLLUP,
        "suggest_case_variant": SQL_SUGGEST_CASE_VARIANT,
        "payload_search": SQL_PAYLOAD_SEARCH,
        "simhash": SQL_SIMHASH,
        "ann_lsh": _sql_ann_lsh(),
        "ann_ivf": _sql_ann_ivf(),
        "classic_lossy_norm": _sql_classic_lossy_norm(),
        "fq_termfreq": SQL_FQ_TERMFREQ,
        "fq_fieldlen": SQL_FQ_FIELDLEN,
        "fq_fieldval": SQL_FQ_FIELDVAL,
        "fq_termintersect": SQL_FQ_TERMINTERSECT,
        "fq_termoverlap": SQL_FQ_TERMOVERLAP,
        "spellcheck": SQL_SPELLCHECK,
        # packed-tier dictionary twins: value-identical to the flat
        # surfaces by construction, so they share the SAME oracles
        "wand_spellcheck": SQL_SPELLCHECK,
        "wand_suggest": SQL_SUGGEST_CANONICAL,
        "wand_terms_enum": SQL_TERMS_ENUM,
        "spellcheck_collate": SQL_SPELLCHECK_COLLATE,
        "suggest_canonical": SQL_SUGGEST_CANONICAL,
        "sessionize": SQL_SESSIONIZE,
        "context_window": SQL_CONTEXT_WINDOW,
        "event_windows": SQL_EVENT_WINDOWS,
        "nb_classify": SQL_NB_CLASSIFY,
        "stumps": SQL_STUMPS,
        "joint_probability": SQL_JOINT_PROBABILITY,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_minhash_sig": SQL_DEDUP_MINHASH_SIG,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "dedup_clusters": _sql_dedup_clusters(),
        "dedup_apply": _sql_dedup_apply(),
        "dup_spans": SQL_DUP_SPANS,
        "dedup_substring": SQL_DEDUP_SUBSTRING,
        "dedup_lines": SQL_DEDUP_LINES,
        "emb_near_dup": _sql_emb_near_dup(),
        "knn_join": _sql_knn_join(),
        "ann_cosine": SQL_ANN_COSINE,
        "lang_id": _sql_lang_id(),
        "pii_redact": _sql_pii_redact(),
        "sample": SQL_SAMPLE,
        "sample_stratified": SQL_SAMPLE_STRATIFIED,
        "pack_sequences": SQL_PACK_SEQUENCES,
        "chunk_docs": SQL_CHUNK_DOCS,
        "epoch_shard": SQL_EPOCH_SHARD,
        "repetition": SQL_REPETITION,
        "contamination": SQL_CONTAMINATION,
        "token_counts": SQL_TOKEN_COUNTS,
        "fingerprint": SQL_FINGERPRINT,
        "quality": _sql_quality(),
        "quality_gate": _sql_quality_gate(),
        "lm_quality": SQL_LM_QUALITY,
        "ppl_buckets": SQL_PPL_BUCKETS,
        "mixture_sample": SQL_MIXTURE_SAMPLE,
        "source_cap": SQL_SOURCE_CAP,
        "session_transcripts": SQL_SESSION_TRANSCRIPTS,
        "tfidf_vectors": SQL_TFIDF_VECTORS,
        "wand_single": SQL_BM25_SINGLE,
        "wand_or": SQL_BM25_OR_BOOSTED,
        "cursor_page": _sql_cursor_page(),
        "wand_phrase": SQL_PHRASE,
        "wand_payload": SQL_PAYLOAD_SEARCH,
        "wand_boolean": SQL_BOOLEAN_PRECEDENCE_REF,
        "wand_not": SQL_BOOLEAN_NOT_REF,
        "wand_field": SQL_FIELD_QUERY,
        "wand_range": SQL_RANGE_QUERY,
        "wand_facet": SQL_FACET_COUNTS_REF,
        "collapse_field": SQL_COLLAPSE_FIELD,
        "wand_collapse": SQL_COLLAPSE_FIELD,
        "rerank": SQL_RERANK,
        "wand_rerank": SQL_RERANK,
        "facet_range": SQL_FACET_RANGE,
        "wand_facet_range": SQL_FACET_RANGE,
        "field_stats": SQL_FIELD_STATS,
        "wand_stats": SQL_FIELD_STATS,
        "facet_query": SQL_FACET_QUERY,
        "wand_facet_query": SQL_FACET_QUERY,
        "stats_facet": SQL_STATS_FACET,
        "wand_stats_facet": SQL_STATS_FACET,
        "phrase_slop": SQL_PHRASE_SLOP,
        "wand_phrase_slop": SQL_PHRASE_SLOP,
        "bpe_pairs": SQL_BPE_PAIRS,
        "dsir_weights": SQL_DSIR_WEIGHTS,
        "ccnet_pipeline": _sql_ccnet_pipeline(),
        "stats_percentiles": SQL_STATS_PERCENTILES,
        "wand_stats_percentiles": SQL_STATS_PERCENTILES,
        "highlight": SQL_HIGHLIGHT,
        "terms_enum": SQL_TERMS_ENUM,
        "elevation": SQL_ELEVATION,
        "wand_elevation": SQL_ELEVATION,
        "grouping": SQL_GROUPING,
        "wand_grouping": SQL_GROUPING,
        "join_query": SQL_JOIN_QUERY,
        "wand_join": SQL_JOIN_QUERY,
        "dismax": SQL_DISMAX,
        "wand_mlt": SQL_MLT_DOCS,
        "wand_feedback": SQL_FEEDBACK_REF,
        "wand_delete": _sql_wand_delete(),
        "wand_update": _sql_wand_update(),
        "wand_boosted_fn": SQL_WAND_BOOSTED_FN,
        "classic_coord": SQL_CLASSIC_COORD,
        "boosted_fn": SQL_BOOSTED_FN,
        "range_query": SQL_RANGE_QUERY,
        "mlt_docs": SQL_MLT_DOCS,
        "explain_score": SQL_EXPLAIN_SCORE,
    }
