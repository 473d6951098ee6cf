"""Codec v3: positions + payloads in packed segments.

Phrase and payload queries must run on the at-scale WAND/packed path,
rank-identical to the flat index (round-1 verdict item #2):
- PayloadAwareDefaultSimilarity.java:10-16 / MLTQuery.java:60-67 —
  payload scoring consumes indexed payloads;
- RecursiveDescentParser.java:90-107 — quoted-phrase semantics.
"""

import os

import numpy as np
import pandas as pd
import pytest
from conftest import count_jobs, tier
from pyspark.sql import functions as F

from solrplugins_spark.analysis.payloads import build_payload_index
from solrplugins_spark.index.builder import build_index
from solrplugins_spark.index.codec import (
    decode_payloads,
    decode_positions,
    encode_payloads,
    encode_positions,
)
from solrplugins_spark.index.segments import (
    _sidecar_dfs,
    build_segments,
    delete_docs,
    wand_phrase_search,
    wand_search,
)
from solrplugins_spark.query.compiler import execute_query
from solrplugins_spark.query.scorer import (
    ClassicDice,
    PayloadIdf,
    PayloadOnly,
    search_terms,
)


# ---- codec round-trips ------------------------------------------------

def test_positions_roundtrip():
    rng = np.random.default_rng(3)
    tfs = rng.integers(1, 9, size=300)
    pos_lists = [
        np.sort(rng.choice(5000, size=int(t), replace=False)) for t in tfs
    ]
    data, pos_off = encode_positions(pos_lists, tfs)
    flat = decode_positions(data, tfs)
    assert np.array_equal(flat, np.concatenate(pos_lists))
    # block offsets: 300 docs -> 3 blocks of 128; offsets ascending
    assert len(pos_off) == 3 and pos_off[0] == 0
    assert list(pos_off) == sorted(pos_off)


def test_positions_roundtrip_empty_and_single():
    data, off = encode_positions([], np.array([], np.int64))
    assert data == b"" and len(off) == 0
    data, off = encode_positions([np.array([7])], np.array([1]))
    assert list(decode_positions(data, np.array([1]))) == [7]


def test_payload_roundtrip():
    p = np.array([1.5, 0.25, 3.75, 1e-9])
    assert np.array_equal(decode_payloads(encode_payloads(p)), p)


# ---- packed vs flat rank-identity ------------------------------------

@pytest.fixture(scope="module")
def pos_index(spark, tiny_corpus):
    return build_index(tiny_corpus, positions=True).persist()


@pytest.fixture(scope="module")
def pos_segments(pos_index, tmp_path_factory):
    out = tmp_path_factory.mktemp("segv3") / "idx"
    return build_segments(pos_index, str(out), seg_size=128, groups=2)


def _phrase_from_corpus(tiny_corpus_pd):
    """First adjacent token pair of doc 0 — guaranteed present."""
    toks = tiny_corpus_pd.iloc[0]["text"].lower().split()
    return [toks[0], toks[1]]


def test_packed_phrase_matches_flat(spark, pos_index, pos_segments, tiny_corpus_pd):
    phrase = _phrase_from_corpus(tiny_corpus_pd)
    flat = execute_query(pos_index, f'"{phrase[0]} {phrase[1]}"', k=10).toPandas()
    packed = wand_phrase_search(spark, pos_segments, phrase, k=10).toPandas()
    assert len(flat) > 0, "fixture phrase must match at least the seed doc"
    assert list(packed["doc_id"]) == list(flat["doc_id"])
    assert np.allclose(packed["score"], flat["score"], atol=1e-5)


def test_packed_phrase_unknown_term_empty(spark, pos_segments):
    got = wand_phrase_search(spark, pos_segments, ["zzznope", "batch"], k=10)
    assert got.count() == 0


def test_packed_phrase_three_terms(spark, pos_index, pos_segments, tiny_corpus_pd):
    toks = tiny_corpus_pd.iloc[0]["text"].lower().split()
    phrase = toks[:3]
    flat = execute_query(
        pos_index, '"' + " ".join(phrase) + '"', k=10
    ).toPandas()
    packed = wand_phrase_search(spark, pos_segments, phrase, k=10).toPandas()
    assert list(packed["doc_id"]) == list(flat["doc_id"])
    assert np.allclose(packed["score"], flat["score"], atol=1e-5)


# rare-term docs of the head-term index: "rare head" in RARE_BEFORE,
# "rare tail head" in the others; "head" is in every one of 2,048 docs
RARE_BEFORE = (5, 700, 1030, 2000)
RARE_APART = (300, 1500)


@pytest.fixture(scope="module")
def head_segments(spark, tmp_path_factory):
    """Two segments of 1,024 docs, so the head term spans 8 posting
    blocks per segment and "rare" sits in 3 docs of each."""
    rows = []
    for d in range(2048):
        if d in RARE_BEFORE:
            text = "rare head tail"
        elif d in RARE_APART:
            text = "rare tail head"
        else:
            text = "filler head tail" + (" misc" if d % 7 == 0 else "")
        rows.append((d, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = tmp_path_factory.mktemp("segv3_head") / "idx"
    return build_segments(
        build_index(docs, positions=True), str(out), seg_size=1024, groups=1
    )


def test_phrase_decode_stays_pruned(spark, head_segments, monkeypatch):
    """A rare + head phrase never decodes the head term in full, as a
    phrase search or as a clause of a boolean query: the rare term
    decodes first and fixes the candidates, and the head term decodes
    only the blocks that hold them (3 of its 8 per segment)."""
    from solrplugins_spark.index import segments as S

    full, blocks = [], []
    real_full, real_blocks = S.decode_postings, S.decode_blocks

    def decode_postings(data):
        out = real_full(data)
        full.append(len(out[0]))
        return out

    def decode_blocks(data, block_ids, *args):
        blocks.append(len(block_ids))
        return real_blocks(data, block_ids, *args)

    # the local tier runs the kernels in this process, where the
    # counting decoders are installed
    tier(monkeypatch, None)
    monkeypatch.setattr(S, "decode_postings", decode_postings)
    monkeypatch.setattr(S, "decode_blocks", decode_blocks)
    for name, run in {
        "phrase": lambda: S.wand_phrase_search(
            spark, head_segments, ["rare", "head"], k=10),
        "boolean": lambda: S.wand_boolean_search(
            spark, head_segments, '"rare head" or misc', k=10),
    }.items():
        full.clear()
        blocks.clear()
        got = [r["doc_id"] for r in run().collect()]
        assert got[: len(RARE_BEFORE)] == list(RARE_BEFORE), name
        assert full and max(full) < 1024, (name, full)
        assert blocks and max(blocks) <= 3, (name, blocks)


@pytest.fixture(scope="module")
def payload_setup(spark, tmp_path_factory):
    rows = []
    rng = np.random.default_rng(11)
    vocab = [f"t{i}" for i in range(40)]
    for d in range(300):
        toks = rng.choice(vocab, size=12)
        w = (d % 5) + 1
        rows.append((d, " ".join(f"{t}^{w}.0" for t in toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pidx = build_payload_index(docs).persist()
    out = tmp_path_factory.mktemp("segpay") / "idx"
    seg = build_segments(pidx, str(out), seg_size=64, groups=2)
    return pidx, seg


def test_packed_payload_matches_flat(spark, payload_setup):
    pidx, seg = payload_setup
    for sim in (PayloadIdf, PayloadOnly):
        flat = search_terms(pidx, [("t3", 1.0)], k=10, sim=sim).toPandas()
        packed = wand_search(spark, seg, [("t3", 1.0)], k=10, sim=sim).toPandas()
        assert list(packed["doc_id"]) == list(flat["doc_id"]), sim
        assert np.allclose(packed["score"], flat["score"], atol=1e-5), sim


def _corpus_terms(tiny_corpus_pd, n=2):
    """Terms actually present in the transcripts fixture."""
    return tiny_corpus_pd.iloc[0]["text"].lower().split()[:n]


def test_packed_classic_matches_flat(spark, pos_index, pos_segments, tiny_corpus_pd):
    t0, t1 = _corpus_terms(tiny_corpus_pd)
    flat = search_terms(
        pos_index, [(t0, 2.0), (t1, 1.0)], k=10, sim=ClassicDice
    ).toPandas()
    packed = wand_search(
        spark, pos_segments, [(t0, 2.0), (t1, 1.0)], k=10, sim=ClassicDice
    ).toPandas()
    assert len(flat) > 0
    assert list(packed["doc_id"]) == list(flat["doc_id"])
    assert np.allclose(packed["score"], flat["score"], atol=1e-5)


def test_packed_bm25_still_matches_flat(spark, pos_index, pos_segments, tiny_corpus_pd):
    """v3 layout must not perturb the pruned BM25 path."""
    t0, t1 = _corpus_terms(tiny_corpus_pd)
    flat = search_terms(pos_index, [(t0, 1.0), (t1, 0.5)], k=10).toPandas()
    packed = wand_search(
        spark, pos_segments, [(t0, 1.0), (t1, 0.5)], k=10
    ).toPandas()
    assert len(flat) > 0
    assert list(packed["doc_id"]) == list(flat["doc_id"])
    assert np.allclose(packed["score"], flat["score"], atol=1e-5)


# ---- termstats sidecar (one-job queries) ------------------------------

def test_termstats_sidecar(pos_segments, pos_index, tiny_corpus_pd):
    t0 = _corpus_terms(tiny_corpus_pd)[0]
    dfs = _sidecar_dfs(pos_segments, [t0, "zzznope"])
    assert dfs is not None and "zzznope" not in dfs
    want = {
        r["term"]: r["df"]
        for r in pos_index.terms.filter(F.col("term") == t0).collect()
    }
    assert dfs[t0] == want[t0]


# ---- block-level packed compaction ------------------------------------

def test_compact_packed_matches_batch(spark, tiny_corpus, tiny_corpus_pd, tmp_path):
    """Binary-level sorted segment merge: two generation indexes
    (disjoint doc halves, positions included) compacted into one must
    answer BM25 and PHRASE queries identically to a from-scratch batch
    build over the whole corpus."""
    from pyspark.sql import functions as F

    from solrplugins_spark.index.segments import compact_packed, wand_search

    mid = int(tiny_corpus_pd["doc_id"].median())
    gen_a = tiny_corpus.filter(F.col("doc_id") <= mid)
    gen_b = tiny_corpus.filter(F.col("doc_id") > mid)
    segs = []
    for i, gen in enumerate((gen_a, gen_b)):
        gidx = build_index(gen, positions=True)
        segs.append(
            build_segments(gidx, str(tmp_path / f"gen{i}"), seg_size=128, groups=2)
        )
    compacted = compact_packed(spark, segs, str(tmp_path / "compacted"))

    batch_idx = build_index(tiny_corpus, positions=True)
    batch_seg = build_segments(
        batch_idx, str(tmp_path / "batch"), seg_size=128, groups=2
    )
    assert compacted.n_docs == batch_seg.n_docs
    assert abs(compacted.avgdl - batch_seg.avgdl) < 1e-9

    t0, t1 = _corpus_terms(tiny_corpus_pd)
    got = wand_search(spark, compacted, [(t0, 1.0), (t1, 0.5)], k=10).toPandas()
    want = wand_search(spark, batch_seg, [(t0, 1.0), (t1, 0.5)], k=10).toPandas()
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert np.allclose(got["score"], want["score"], atol=1e-9)

    phrase = _phrase_from_corpus(tiny_corpus_pd)
    gp = wand_phrase_search(spark, compacted, phrase, k=10).toPandas()
    wp = wand_phrase_search(spark, batch_seg, phrase, k=10).toPandas()
    assert len(wp) > 0
    assert list(gp["doc_id"]) == list(wp["doc_id"])
    assert np.allclose(gp["score"], wp["score"], atol=1e-9)


# ---- packed boolean queries --------------------------------------------

@pytest.mark.parametrize(
    "q",
    [
        "{t0} and {t1}",
        "{t0} and not {t1}",
        "{t0} and {t1} or {t2}",
        "not {t0}",
        "{t0} {t1}",  # adjacency = OR
        "*:*",  # match-all, score 0
        "{t0} and *:*",
    ],
)
def test_packed_boolean_matches_flat(spark, pos_index, pos_segments, tiny_corpus_pd, q):
    from solrplugins_spark.index.segments import wand_boolean_search

    toks = tiny_corpus_pd.iloc[0]["text"].lower().split()
    query = q.format(t0=toks[0], t1=toks[1], t2=toks[2])
    flat = execute_query(pos_index, query, k=10).toPandas()
    packed = wand_boolean_search(spark, pos_segments, query, k=10).toPandas()
    assert len(flat) > 0, query
    assert list(packed["doc_id"]) == list(flat["doc_id"]), query
    assert np.allclose(packed["score"], flat["score"], atol=1e-5), query


def test_packed_mixed_phrase_boolean(spark, pos_index, pos_segments, tiny_corpus_pd):
    """Quoted phrase composed with boolean algebra runs FULLY packed:
    '"t0 t1" and t2' / 'or' / 'not' all rank-identical to flat."""
    from solrplugins_spark.index.segments import wand_boolean_search

    toks = tiny_corpus_pd.iloc[0]["text"].lower().split()
    for q in (
        f'"{toks[0]} {toks[1]}" and {toks[2]}',
        f'"{toks[0]} {toks[1]}" or {toks[3]}',
        f'"{toks[0]} {toks[1]}" and not {toks[3]}',
    ):
        flat = execute_query(pos_index, q, k=10).toPandas()
        packed = wand_boolean_search(spark, pos_segments, q, k=10).toPandas()
        assert list(packed["doc_id"]) == list(flat["doc_id"]), q
        assert np.allclose(packed["score"], flat["score"], atol=1e-5), q


def test_wand_query_is_one_action(spark, pos_segments, tmp_path):
    """The round-1 wart was a per-query stats ACTION (postings-metadata
    groupBy+collect). With the termstats sidecar + explicit read
    schemas, a WAND query is one action: the only Spark jobs are the
    AQE stage-jobs of the single collect (<=2: shuffle stage + result),
    and strictly fewer than the sidecar-less fallback path."""
    import shutil

    def count_wand_jobs(group, seg):
        return count_jobs(
            spark,
            lambda: wand_search(spark, seg, [("zephyrblade", 1.0)], k=10).collect(),
            group,
        )

    with_sidecar = count_wand_jobs("wand-jobs-sidecar", pos_segments)
    assert with_sidecar <= 2, f"sidecar path ran {with_sidecar} jobs"

    # copy the index minus the sidecar -> the fallback stats job returns
    nosc = tmp_path / "nosidecar"
    shutil.copytree(pos_segments.path, nosc)
    shutil.rmtree(nosc / "termstats")
    from solrplugins_spark.index.segments import SegmentIndex

    seg2 = SegmentIndex(
        path=str(nosc), n_docs=pos_segments.n_docs, avgdl=pos_segments.avgdl,
        n_segments=pos_segments.n_segments, seg_size=pos_segments.seg_size,
    )
    without = count_wand_jobs("wand-jobs-fallback", seg2)
    assert with_sidecar < without, (with_sidecar, without)


def test_boolean_query_without_sidecar_equals_sidecar_answer(
    spark, pos_segments, tiny_corpus_pd, tmp_path
):
    """An index without the termstats sidecar serves a boolean query
    too: one postings-metadata job sums its dfs, and its rows equal
    the sidecar answer."""
    import shutil

    from solrplugins_spark.index.segments import SegmentIndex, wand_boolean_search

    nosc = tmp_path / "nosidecar"
    shutil.copytree(pos_segments.path, nosc)
    shutil.rmtree(nosc / "termstats")
    seg2 = SegmentIndex(
        path=str(nosc), n_docs=pos_segments.n_docs, avgdl=pos_segments.avgdl,
        n_segments=pos_segments.n_segments, seg_size=pos_segments.seg_size,
    )
    t0, t1 = _corpus_terms(tiny_corpus_pd)
    for q in (f"{t0} or {t1}", f'"{t0} {t1}" or zephyrblade', f"{t0} and not {t1}"):
        want = wand_boolean_search(spark, pos_segments, q, k=10).toPandas()
        got = wand_boolean_search(spark, seg2, q, k=10).toPandas()
        assert len(want), q
        pd.testing.assert_frame_equal(got, want), q


def test_compact_packed_resume(spark, tiny_corpus, tiny_corpus_pd, tmp_path):
    """A killed compaction resumes from the manifest: completed groups
    are untouched (mtime preserved), missing groups are rebuilt, and
    the result answers queries identically to a clean run."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from solrplugins_spark.index.segments import compact_packed, wand_search

    mid = int(tiny_corpus_pd["doc_id"].median())
    segs = []
    for i, gen in enumerate(
        (
            tiny_corpus.filter(F.col("doc_id") <= mid),
            tiny_corpus.filter(F.col("doc_id") > mid),
        )
    ):
        gidx = build_index(gen)
        segs.append(
            build_segments(gidx, str(tmp_path / f"rg{i}"), seg_size=128, groups=2)
        )
    out = str(tmp_path / "resumable")
    full = compact_packed(spark, segs, out, groups=2)
    t0, t1 = _corpus_terms(tiny_corpus_pd)
    want = wand_search(spark, full, [(t0, 1.0), (t1, 0.5)], k=10).toPandas()

    # simulate a crash after group 0: drop group 1's output + manifest entry
    mpath = os.path.join(out, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["completed_groups"] = [0]
    m["lineage"] = m["lineage"][:1]
    m.pop("termstats", None)
    with open(mpath, "w") as f:
        json.dump(m, f)
    shutil.rmtree(os.path.join(out, "postings", "group=1"))
    shutil.rmtree(os.path.join(out, "doclens", "group=1"))
    g0_mtime = os.path.getmtime(os.path.join(out, "postings", "group=0"))

    resumed = compact_packed(spark, segs, out, groups=2)
    assert os.path.getmtime(os.path.join(out, "postings", "group=0")) == g0_mtime
    got = wand_search(spark, resumed, [(t0, 1.0), (t1, 0.5)], k=10).toPandas()
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert np.allclose(got["score"], want["score"], atol=1e-12)


def test_phrase_across_generations_matches_compacted(
    spark, tiny_corpus, tiny_corpus_pd, tmp_path
):
    """Phrase queries over UNCOMPACTED generations (global stats) equal
    the compacted index — querying never waits for compaction."""
    from pyspark.sql import functions as F

    from solrplugins_spark.index.segments import (
        compact_packed,
        wand_phrase_search,
        wand_phrase_search_multi,
    )

    mid = int(tiny_corpus_pd["doc_id"].median())
    segs = []
    for i, gen in enumerate(
        (
            tiny_corpus.filter(F.col("doc_id") <= mid),
            tiny_corpus.filter(F.col("doc_id") > mid),
        )
    ):
        gidx = build_index(gen, positions=True)
        segs.append(
            build_segments(gidx, str(tmp_path / f"pg{i}"), seg_size=128, groups=2)
        )
    phrase = _phrase_from_corpus(tiny_corpus_pd)
    multi = wand_phrase_search_multi(spark, segs, phrase, k=10).toPandas()
    compacted = compact_packed(spark, segs, str(tmp_path / "pc"))
    single = wand_phrase_search(spark, compacted, phrase, k=10).toPandas()
    assert len(single) > 0
    assert list(multi["doc_id"]) == list(single["doc_id"])
    assert np.allclose(multi["score"], single["score"], atol=1e-9)


def test_packed_docvalues_ranges_match_flat(spark, tiny_index, tmp_path):
    """Stored-column and doc_id ranges on the packed path equal the
    flat compiler's constant-score range semantics; missing docvalues
    streams fail fast with an actionable error."""
    import pandas as pd
    import pytest as _pytest

    from solrplugins_spark.index.segments import (
        SegmentIndex,
        build_segments,
        wand_boolean_search,
    )
    from solrplugins_spark.query.compiler import execute_query

    # tiny corpus has no numeric col besides doc_id — derive one
    docs2 = tiny_index.docs.withColumn(
        "nch", F.length("text").cast("long")
    )
    from solrplugins_spark.index.builder import build_index

    idx = build_index(docs2).persist()
    out = str(tmp_path / "dv")
    seg = build_segments(idx, out, seg_size=64, groups=2, value_cols=["nch"])
    assert seg.value_cols == ("nch",)
    assert SegmentIndex.load(out).value_cols == ("nch",)

    for q in (
        "nch:[100 TO 160] and w0001",
        "nch:{100 TO 160} and w0001",
        "doc_id:[10 TO 120] and w0001",
        "nch:[* TO 140] and w0001",
    ):
        got = wand_boolean_search(spark, seg, q, k=10).toPandas()
        want = execute_query(idx, q, k=10).toPandas()
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    with _pytest.raises(ValueError, match="docvalues"):
        wand_boolean_search(spark, seg, "other:[1 TO 2] and w0001", k=5)
    with _pytest.raises(AssertionError, match="value_cols"):
        build_segments(idx, out, seg_size=64, groups=2)  # resume mismatch


def test_per_field_k1b_flat_and_packed_agree(spark, tiny_corpus, tmp_path):
    """Per-field k1/b (the SchemaSimilarityFactory override mechanism,
    reference README.md:25): a FieldQuery clause scores with its
    field's similarity on BOTH paths, and flat == packed."""
    from solrplugins_spark.index.builder import build_index
    from solrplugins_spark.index.segments import build_segments, wand_boolean_search
    from solrplugins_spark.query.compiler import QueryCompiler
    from solrplugins_spark.query.parser import parse_query
    from solrplugins_spark.query.scorer import Similarity

    idx = build_index(tiny_corpus).persist()
    # route "body:" to the text index itself: tf/dl vary there, so a
    # k1/b override measurably changes scores (single-token fields like
    # role have tf=dl=avgdl=1, where BM25 is k1/b-invariant)
    lang_idx = idx
    lang_sim = Similarity(kind="bm25", k1=0.4, b=0.2)

    def flat(q, field_sims):
        comp = QueryCompiler(
            idx, field_indexes={"body": lang_idx}, field_sims=field_sims
        )
        tree, _ = parse_query(q)
        return (
            comp.compile(tree)
            .select("doc_id", F.round("score", 5).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10)
            .toPandas()
        )

    q = "body:w0001 and w0002"
    base = flat(q, {})
    tuned = flat(q, {"body": lang_sim})
    # the override must actually change scores (lang tf/dl vary)
    assert not base["score"].equals(tuned["score"])

    seg = build_segments(idx, str(tmp_path / "m"), seg_size=64, groups=2)
    lseg = build_segments(lang_idx, str(tmp_path / "l"), seg_size=64, groups=2)
    packed = wand_boolean_search(
        spark, seg, q, k=10,
        field_segments={"body": lseg}, field_sims={"body": lang_sim},
    ).toPandas()
    pd.testing.assert_frame_equal(packed, tuned, check_dtype=False)

    with pytest.raises(ValueError, match="BM25 variants"):
        wand_boolean_search(
            spark, seg, q, k=10, field_segments={"body": lseg},
            field_sims={"body": Similarity(kind="classic")},
        )


def test_wand_facet_search_matches_flat(spark, tiny_corpus, tmp_path):
    """Packed match+facet (ordinal docvalues) equals the flat semi-join
    + groupBy facet over the same query docset; missing streams fail
    fast."""
    from solrplugins_spark.index.builder import build_index
    from solrplugins_spark.index.segments import build_segments, wand_facet_search
    from solrplugins_spark.query.compiler import compile_ast
    from solrplugins_spark.query.parser import parse_query

    idx = build_index(tiny_corpus).persist()
    seg = build_segments(
        idx, str(tmp_path / "f"), seg_size=64, groups=2, string_cols=["role"]
    )
    for q in ("w0001", "w0001 and not w0002", "zephyrblade or w0004"):
        got = (
            wand_facet_search(spark, seg, q, "role").orderBy("role").toPandas()
        )
        tree, _ = parse_query(q)
        match = compile_ast(idx, tree).select("doc_id")
        want = (
            tiny_corpus.join(match, "doc_id", "left_semi")
            .groupBy("role")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("role")
            .toPandas()
        )
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True), want.reset_index(drop=True),
            check_dtype=False,
        )
    with pytest.raises(ValueError, match="string_cols"):
        wand_facet_search(spark, seg, "w0001", "tool")


def test_compact_carries_docvalues(spark, tiny_corpus_pd, tmp_path):
    """Numeric + ordinal docvalues streams survive compaction: ranges
    and facets over the compacted index equal a from-scratch build of
    the full corpus (ordinals remapped to the merged dictionary)."""
    from solrplugins_spark.index.builder import build_index
    from solrplugins_spark.index.segments import (
        build_segments,
        compact_packed,
        wand_boolean_search,
        wand_facet_search,
    )

    pdf = tiny_corpus_pd.copy()
    pdf["nch"] = pdf["text"].str.len().astype("int64")
    half_a = spark.createDataFrame(pdf[pdf["doc_id"] < 200])
    half_b = spark.createDataFrame(pdf[pdf["doc_id"] >= 200])
    kw = dict(seg_size=64, groups=2, value_cols=["nch"], string_cols=["role"])
    seg_a = build_segments(build_index(half_a), str(tmp_path / "a"), **kw)
    seg_b = build_segments(build_index(half_b), str(tmp_path / "b"), **kw)
    compacted = compact_packed(spark, [seg_a, seg_b], str(tmp_path / "c"))
    assert compacted.value_cols == ("nch",)
    assert compacted.string_cols == ("role",)

    full = spark.createDataFrame(pdf)
    seg_full = build_segments(build_index(full), str(tmp_path / "full"), **kw)

    q = "nch:[100 TO 160] and w0001"
    got = wand_boolean_search(spark, compacted, q, k=10).toPandas()
    want = wand_boolean_search(spark, seg_full, q, k=10).toPandas()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    gotf = (
        wand_facet_search(spark, compacted, "w0001", "role")
        .orderBy("role").toPandas().reset_index(drop=True)
    )
    wantf = (
        wand_facet_search(spark, seg_full, "w0001", "role")
        .orderBy("role").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(gotf, wantf, check_dtype=False)


def test_packed_docstore_fetch(spark, tiny_corpus, tmp_path):
    """Stored-field retrieval (ir.document analogue): fetch_docs
    returns exact rows for a top-k page with partition-pruned point
    reads; indexes without a docstore fail fast."""
    from solrplugins_spark.index.builder import build_index
    from solrplugins_spark.index.segments import (
        build_segments,
        fetch_docs,
        wand_search,
    )

    idx = build_index(tiny_corpus).persist()
    seg = build_segments(
        idx, str(tmp_path / "ds"), seg_size=64, groups=2,
        store_cols=["conv_id", "turn_idx", "text"],
    )
    assert seg.store_cols == ("conv_id", "text", "turn_idx")

    top = wand_search(spark, seg, [("w0001", 1.0)], k=5).toPandas()
    ids = [int(d) for d in top["doc_id"]]
    got = fetch_docs(spark, seg, ids).orderBy("doc_id").toPandas()
    want = (
        tiny_corpus.filter(F.col("doc_id").isin(ids))
        .select("doc_id", "conv_id", "text", "turn_idx")
        .orderBy("doc_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        got[want.columns.tolist()].reset_index(drop=True),
        want.reset_index(drop=True),
        check_dtype=False,
    )
    # the rows a partition-pruned Spark point read of the docstore
    # returns, column order and types included
    base = os.path.join(seg.path, "docstore")
    scan = (
        spark.read.option("basePath", base)
        .schema(seg.store_schema + ", seg int, group int")
        .parquet(base)
        .filter(F.col("seg").isin(sorted({d // seg.seg_size for d in ids})))
        .filter(F.col("doc_id").isin(ids))
        .drop("seg", "group")
    )
    held = fetch_docs(spark, seg, ids)
    assert held.schema == scan.schema
    assert held.collect() == scan.orderBy("doc_id").collect()

    seg_plain = build_segments(idx, str(tmp_path / "plain"), seg_size=64, groups=2)
    with pytest.raises(ValueError, match="docstore"):
        fetch_docs(spark, seg_plain, [1])

    # the driver-side point read (zero Spark jobs — the serving hot
    # path for seed texts) returns the identical rows
    from solrplugins_spark.index.segments import fetch_docs_local

    local = fetch_docs_local(seg, ids)
    pd.testing.assert_frame_equal(
        local[want.columns.tolist()].reset_index(drop=True),
        want.reset_index(drop=True),
        check_dtype=False,
    )
    sub = fetch_docs_local(seg, ids, columns=["text"])
    assert list(sub.columns) == ["doc_id", "text"]
    pd.testing.assert_frame_equal(
        sub, want[["doc_id", "text"]].reset_index(drop=True), check_dtype=False
    )
    assert fetch_docs_local(seg, [10**9]).empty
    with pytest.raises(ValueError, match="docstore"):
        fetch_docs_local(seg_plain, [1])


def test_fetch_docs_local_excludes_tombstones(spark, tiny_corpus, tmp_path):
    """Tombstoned ids are not retrievable via the driver-side point
    read — same liveDocs contract as fetch_docs."""
    from solrplugins_spark.index.builder import build_index
    from solrplugins_spark.index.segments import (
        build_segments,
        delete_docs,
        fetch_docs,
        fetch_docs_local,
    )

    idx = build_index(tiny_corpus).persist()
    seg = build_segments(
        idx, str(tmp_path / "dst"), seg_size=64, groups=2, store_cols=["text"]
    )
    delete_docs(seg.path, [3, 5])
    ids = [2, 3, 4, 5, 6]
    local = fetch_docs_local(seg, ids)
    via_spark = fetch_docs(spark, seg, ids).orderBy("doc_id").toPandas()
    assert list(local["doc_id"]) == [2, 4, 6]
    pd.testing.assert_frame_equal(
        local[via_spark.columns.tolist()], via_spark, check_dtype=False
    )


def test_compact_carries_docstore(spark, tiny_corpus_pd, tmp_path):
    """store_cols survive compaction like the docvalues streams do —
    /select keeps serving stored fields after generations merge."""
    from solrplugins_spark.index.builder import build_index
    from solrplugins_spark.index.segments import (
        build_segments,
        compact_packed,
        fetch_docs,
    )

    half_a = spark.createDataFrame(tiny_corpus_pd[tiny_corpus_pd["doc_id"] < 200])
    half_b = spark.createDataFrame(tiny_corpus_pd[tiny_corpus_pd["doc_id"] >= 200])
    kw = dict(seg_size=64, groups=2, store_cols=["text"])
    seg_a = build_segments(build_index(half_a), str(tmp_path / "a"), **kw)
    seg_b = build_segments(build_index(half_b), str(tmp_path / "b"), **kw)
    compacted = compact_packed(spark, [seg_a, seg_b], str(tmp_path / "c"))
    assert compacted.store_cols == ("text",)

    ids = [5, 150, 250, 399]
    got = fetch_docs(spark, compacted, ids).orderBy("doc_id").toPandas()
    want = (
        tiny_corpus_pd[tiny_corpus_pd["doc_id"].isin(ids)][["doc_id", "text"]]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["doc_id", "text"]].reset_index(drop=True), want, check_dtype=False
    )


def test_packed_select_handler_multi_generation(
    spark, tiny_corpus, tiny_corpus_pd, tmp_path
):
    """VERDICT r03 item #6: the full /select response (match + facet +
    stored fields) served from TWO uncompacted generations must equal
    the response from one batch-built index — scoring via global
    stats, docstore union, per-generation ordinal dictionaries merged
    by value. Serving never waits for compaction."""
    from pyspark.sql import functions as F

    from solrplugins_spark.index.segments import build_segments
    from solrplugins_spark.query.handlers import packed_select_handler

    kw = dict(
        seg_size=128, groups=2, string_cols=["role"],
        store_cols=["conv_id", "text"],
    )
    mid = int(tiny_corpus_pd["doc_id"].median())
    segs = []
    for i, gen in enumerate(
        (
            tiny_corpus.filter(F.col("doc_id") <= mid),
            tiny_corpus.filter(F.col("doc_id") > mid),
        )
    ):
        segs.append(
            build_segments(build_index(gen), str(tmp_path / f"selgen{i}"), **kw)
        )
    batch = build_segments(
        build_index(tiny_corpus), str(tmp_path / "selbatch"), **kw
    )

    toks = tiny_corpus_pd.iloc[0]["text"].lower().split()
    query = f"{toks[0]} and not {toks[1]} or {toks[2]}"
    got = packed_select_handler(spark, segs, query, k=6, facet_fields=["role"])
    want = packed_select_handler(spark, batch, query, k=6, facet_fields=["role"])
    g, w = got["docs"].toPandas(), want["docs"].toPandas()
    assert list(g["doc_id"]) == list(w["doc_id"])
    assert np.allclose(g["score"], w["score"], atol=1e-9)
    assert list(g["text"]) == list(w["text"])  # stored fields union
    gf = got["facet_role"].toPandas().set_index("role")["cnt"]
    wf = want["facet_role"].toPandas().set_index("role")["cnt"]
    assert dict(gf) == dict(wf) and gf.sum() > 0


def test_packed_feedback_multi_generation(spark, tiny_corpus, tiny_corpus_pd, tmp_path):
    """The boosted feedback final query also serves from generation
    lists (sum-of-sidecars stats reach the boosted path through
    _prepare_boolean)."""
    from pyspark.sql import functions as F

    from solrplugins_spark.index.segments import build_segments
    from solrplugins_spark.query.handlers import packed_feedback_handler
    from solrplugins_spark.query.mlt import MLTParams

    kw = dict(seg_size=128, groups=2, store_cols=["text"])
    mid = int(tiny_corpus_pd["doc_id"].median())
    segs = [
        build_segments(build_index(gen), str(tmp_path / f"ufgen{i}"), **kw)
        for i, gen in enumerate(
            (
                tiny_corpus.filter(F.col("doc_id") <= mid),
                tiny_corpus.filter(F.col("doc_id") > mid),
            )
        )
    ]
    batch = build_segments(build_index(tiny_corpus), str(tmp_path / "ufbatch"), **kw)
    params = MLTParams(min_term_freq=1, min_doc_freq=2, max_query_terms=10)
    toks = tiny_corpus_pd.iloc[0]["text"].lower().split()
    got = packed_feedback_handler(spark, segs, toks[0], params, k=8)["docs"].toPandas()
    want = packed_feedback_handler(spark, batch, toks[0], params, k=8)["docs"].toPandas()
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert np.allclose(got["score"], want["score"], atol=1e-9)


def test_docstore_schema_recorded_and_point_read_runs_no_job(
    spark, tiny_corpus, tmp_path
):
    """build_segments records the docstore DDL in the manifest so
    fetch_docs answers under it — the point read is driver-side, ZERO
    Spark jobs to fetch and collect — load() round-trips it, and
    compaction carries the projected schema."""
    from solrplugins_spark.index.segments import (
        SegmentIndex,
        build_segments,
        compact_packed,
        fetch_docs,
    )

    idx = build_index(tiny_corpus)
    seg = build_segments(
        idx, str(tmp_path / "ss"), seg_size=64, groups=2,
        store_cols=["conv_id", "text"],
    )
    assert seg.store_schema is not None and "text string" in seg.store_schema
    assert SegmentIndex.load(str(tmp_path / "ss")).store_schema == seg.store_schema

    fetch_docs(spark, seg, [0, 1]).collect()  # warm (files listed once)
    rows = []
    n = count_jobs(
        spark, lambda: rows.extend(fetch_docs(spark, seg, [0, 1]).collect()),
        "fd_probe",
    )
    assert len(rows) == 2
    assert n == 0, n
    from pyspark.sql.types import _parse_datatype_string

    assert fetch_docs(spark, seg, [0, 1]).schema == _parse_datatype_string(
        seg.store_schema)

    compacted = compact_packed(spark, [seg], str(tmp_path / "ss_c"))
    assert compacted.store_schema == seg.store_schema


def test_describe_index(spark, tiny_corpus, tmp_path):
    """Ops introspection: manifest stats + lineage + per-stream bytes,
    driver-side only."""
    from solrplugins_spark.index.segments import build_segments, describe_index

    seg = build_segments(
        build_index(tiny_corpus), str(tmp_path / "desc"), seg_size=64,
        groups=2, store_cols=["text"],
    )
    d = describe_index(str(tmp_path / "desc"))
    assert d["complete"] and d["n_docs"] == seg.n_docs
    assert d["store_cols"] == ["text"]
    assert d["stream_bytes"]["postings"] > 0 and d["stream_bytes"]["docstore"] > 0
    assert d["total_bytes"] == sum(d["stream_bytes"].values())
    assert len(d["lineage"]) == 2 and all("segments" in e for e in d["lineage"])
    import json as _json

    _json.dumps(d)  # JSON-serializable for ops tooling
    with pytest.raises(FileNotFoundError):
        describe_index(str(tmp_path / "nope"))


# ---- single-stage serving strategy ------------------------------------


def test_single_stage_strategy_parity_and_plan(
    spark, pos_index, pos_segments, tiny_corpus_pd, monkeypatch
):
    """The SAME per-segment kernels run three ways: the driver-local
    tier (byte-budgeted pyarrow read), coalesce(1)+mapInPandas (no
    exchange — serving latency on small indexes over the local budget)
    and groupBy(seg).applyInPandas (the 10^12-doc default). Results
    must be identical across all three. Every answer is a local
    relation; the single-stage request is ONE job whose kernel stage
    has no exchange and reads the term-pruned postings with the term
    filter pushed to parquet."""
    from solrplugins_spark.index import segments as segmod
    from solrplugins_spark.index.segments import wand_search

    terms = [(t, 1.0) for t in _corpus_terms(tiny_corpus_pd, n=2)]

    def plan_of(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    # small index under the byte budget -> driver-local tier
    df_local = wand_search(spark, pos_segments, terms, k=10)
    plan = plan_of(df_local)
    assert "LocalTableScan" in plan, plan
    assert "Scan parquet" not in plan, plan
    local = df_local.toPandas()

    # budget 0 + small index -> single-stage strategy
    tier(monkeypatch, 0)
    pairs = [(pos_segments, sorted(t for t, _ in terms))]
    serving = segmod._serving_plan(pairs, False)
    assert serving.strategy == "single_stage", serving
    out = {}
    n = count_jobs(
        spark, lambda: out.update(df=wand_search(spark, pos_segments, terms, k=10)),
        "single-stage",
    )
    assert n == 1, n
    plan = plan_of(out["df"])
    assert "LocalTableScan" in plan and "Scan parquet" not in plan, plan
    single = out["df"].toPandas()
    # the kernels' input and stage: term filter pushed to parquet;
    # scan -> coalesce(1) -> mapInPandas with zero exchanges
    unified = segmod._stack(
        segmod._unified_parts(spark, [(0, pos_segments)], pairs[0][1], serving), serving
    )
    assert "PushedFilters: [In(term" in plan_of(unified), plan_of(unified)
    stage = segmod._apply_per_segment(
        unified, serving, lambda pdf: pdf, "seg int", merge=lambda res: res
    )
    assert "Exchange" not in plan_of(stage), plan_of(stage)

    # force the exchange strategy on the same index
    tier(monkeypatch, 0, exchange=True)
    exchanged = wand_search(spark, pos_segments, terms, k=10).toPandas()

    assert list(single["doc_id"]) == list(exchanged["doc_id"])
    assert list(local["doc_id"]) == list(exchanged["doc_id"])
    assert np.allclose(single["score"], exchanged["score"], atol=1e-12)
    assert np.allclose(local["score"], exchanged["score"], atol=1e-12)


_KERNEL_FIELDS = [
    ("gen", "bigint", False), ("seg", "int", True), ("_kind", "string", False),
    ("fld", "string", False), ("term", "string", True), ("df", "bigint", True),
    ("block_last", "array<bigint>", True), ("block_max", "array<int>", True),
    ("block_off", "array<bigint>", True), ("doc_lo", "bigint", True),
    ("data", "binary", True),
]
_SUB_FIELDS = [
    ("pos_off", "array<bigint>", True), ("pos_data", "binary", True),
    ("pay_data", "binary", True),
]


def _fields(df) -> list:
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]


def _canon_rows(tbl) -> list:
    """Rows of a kernel-input Arrow table, comparable across the Spark
    strategies (toArrow) and the local tier: arrays -> tuples,
    sorted."""

    def canon(v):
        return tuple(v) if isinstance(v, list) else v

    cols = [tbl[c].to_pylist() for c in tbl.column_names]
    return sorted((tuple(canon(v) for v in r) for r in zip(*cols)), key=repr)


def test_spark_kernel_input_matches_local(spark, pos_index, tiny_corpus_pd, tmp_path):
    """The Arrow table the Spark strategies hand the kernels (the
    stacked frame as toArrow reads it, the rows applyInArrow groups)
    keeps its column types and nullability (pinned below) and has the
    local tier's columns, Arrow types and rows for the same request —
    across two generations, a field tag, a tombstone stream, numeric
    and ordinal docvalues and the positions sub-streams."""
    from solrplugins_spark.index import segments as segmod

    seg = build_segments(
        pos_index, str(tmp_path / "u"), seg_size=128, groups=2,
        string_cols=["role"], value_cols=["turn_idx"],
    )
    delete_docs(seg.path, [3, 130, 131])
    seg = segmod.SegmentIndex.load(seg.path)
    gens = [(0, seg), (1, seg)]
    terms = _corpus_terms(tiny_corpus_pd, n=2) + ["it's \\ a \"quoted\" term"]

    def kernel_input(plan, subs):
        return segmod._stack(
            segmod._unified_parts(spark, gens, terms, plan, with_subs=subs, field="f")
            + segmod._dv_parts(spark, gens, "turn_idx", plan)
            + segmod._dv_parts(spark, gens, "role", plan, subdir="docvalues_str"),
            plan,
        )

    for subs in (False, True):
        u = kernel_input(segmod._Plan("exchange", None), subs)
        assert _fields(u) == _KERNEL_FIELDS + (_SUB_FIELDS if subs else [])
        spark_tbl = u.toArrow()
        local = kernel_input(segmod._Plan("local", None), subs)
        assert local.column_names == spark_tbl.column_names == [f[0] for f in _fields(u)]
        assert local.schema.types == spark_tbl.schema.types
        assert set(local["_kind"].to_pylist()) == {"post", "dl", "del", "dv"}
        assert set(local["gen"].to_pylist()) == {0, 1}
        assert _canon_rows(spark_tbl) == _canon_rows(local)


def test_exchange_strategy_parity_all_surfaces(
    spark, tiny_corpus, tiny_corpus_pd, tmp_path, monkeypatch
):
    """Every converted serving surface must produce identical results
    on the local tier and BOTH Spark strategies (single-stage, what
    small test indexes get at budget 0, vs the at-scale groupBy(seg)
    exchange) — covers the surfaces (facets, phrase, multi-gen, the
    bag shapes that score the full match, delete) that the small-index
    plan would otherwise leave exchange-untested."""
    import shutil

    from solrplugins_spark.index.builder import build_index
    from solrplugins_spark.index.segments import (
        build_segments,
        delete_by_query,
        live_docs,
        wand_boolean_search,
        wand_facet_search,
        wand_phrase_search,
        wand_phrase_search_multi,
        wand_search_multi,
    )

    tier(monkeypatch, 0)
    idx = build_index(tiny_corpus, positions=True)
    seg = build_segments(
        idx, str(tmp_path / "x"), seg_size=64, groups=2,
        string_cols=["role"],
    )
    row = tiny_corpus_pd.iloc[0]
    toks = [t for t in row["text"].lower().split() if len(t) > 1]
    phrase = toks[:2]
    q = f"{toks[0]} OR {toks[1]}"
    # the bag shapes that score the full match: mm=2, a classic
    # similarity, a boost_fn and a page-2 cursor
    bag = [(toks[0], 1.0), (toks[1], 2.0), (toks[2], 0.5)]
    p1 = wand_search(spark, seg, bag, k=5).collect()
    cursor = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))

    def run_all():
        return {
            "facet": wand_facet_search(spark, seg, q, "role")
            .toPandas().sort_values("role").reset_index(drop=True),
            "phrase": wand_phrase_search(spark, seg, phrase, k=10).toPandas(),
            "phrase_multi": wand_phrase_search_multi(
                spark, [seg], phrase, k=10
            ).toPandas(),
            "multi": wand_search_multi(
                spark, [seg], [(toks[0], 1.0), (toks[1], 2.0)], k=10
            ).toPandas(),
            "boolean": wand_boolean_search(spark, seg, q, k=10).toPandas(),
            "bag_mm2": wand_search(
                spark, seg, bag, k=10, min_should_match=2
            ).toPandas(),
            "bag_classic": wand_search(
                spark, seg, bag, k=10, sim=ClassicDice
            ).toPandas(),
            "bag_boost_fn": wand_search(
                spark, seg, bag, k=10,
                boost_fn=("doc_id", lambda v: np.mod(v, 7.0) + 1.0),
            ).toPandas(),
            "bag_page2": wand_search(
                spark, seg, bag, k=5, after=cursor
            ).toPandas(),
        }

    tier(monkeypatch, None)
    local = run_all()
    tier(monkeypatch, 0)
    single = run_all()
    tier(monkeypatch, 0, exchange=True)
    exchanged = run_all()
    assert len(single["bag_mm2"]) and len(single["bag_page2"])
    for name in single:
        pd.testing.assert_frame_equal(single[name], exchanged[name]), name
        pd.testing.assert_frame_equal(single[name], local[name]), name

    # delete_by_query's per-segment match job on the exchange path
    info = delete_by_query(spark, str(tmp_path / "x"), f'"{phrase[0]} {phrase[1]}"')
    assert info["n_new"] >= 1
    assert live_docs(str(tmp_path / "x"))["n_deleted"] == info["n_new"]
    shutil.rmtree(str(tmp_path / "x"), ignore_errors=True)


def test_fetch_docs_local_mixed_store_cols_raises(spark, tiny_corpus, tmp_path):
    """Same contract as fetch_docs: generations with different
    store_cols must fail fast, not pd.concat into a silent NaN-filled
    column union."""
    from solrplugins_spark.index.builder import build_index
    from solrplugins_spark.index.segments import build_segments, fetch_docs_local

    idx = build_index(tiny_corpus).persist()
    a = build_segments(
        idx, str(tmp_path / "a"), seg_size=64, groups=2, store_cols=["text"]
    )
    b = build_segments(
        idx, str(tmp_path / "b"), seg_size=64, groups=2,
        store_cols=["text", "role"],
    )
    with pytest.raises(ValueError, match="identical store_cols"):
        fetch_docs_local([a, b], [1, 2])
