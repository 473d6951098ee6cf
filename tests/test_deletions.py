"""Deletions on the packed index — the Lucene liveDocs analogue.

The reference assumes Solr's delete-by-id beneath every handler
(Lucene IndexWriter.deleteDocuments + liveDocs-checked scorers;
segment merges purge deleted docs physically). Here:

- ``delete_docs`` appends per-segment sorted varint tombstone streams
  under deletes/ (append-only, resumable via the manifest);
- every packed query surface strips tombstoned docs at
  postings-decode time, with Lucene stats semantics until compaction
  (n_docs/avgdl/df keep counting deleted docs, so surviving docs'
  scores are UNCHANGED — the exact oracle used below: results on the
  deleted index equal the undeleted index's results minus the dead);
- ``compact_packed`` physically drops tombstoned docs (postings,
  docstore, sidecar df, stats) and clears the stream — after which
  the index is query-equivalent to a from-scratch build over the
  surviving corpus (doc ids preserved, never renumbered).
"""

import shutil

import numpy as np
import pandas as pd
import pytest
from conftest import tier

from solrplugins_spark.index.builder import build_index
from solrplugins_spark.index.segments import (
    SegmentIndex,
    _sidecar_dfs,
    build_segments,
    compact_packed,
    delete_docs,
    describe_index,
    fetch_docs,
    live_docs,
    wand_boolean_search,
    wand_facet_search,
    wand_phrase_search,
    wand_search,
    wand_search_multi,
)

TERMS = [("w0001", 1.0), ("w0002", 0.6)]
SEG_KW = dict(
    seg_size=64,
    groups=2,
    value_cols=["nch"],
    string_cols=["role"],
    store_cols=["role", "text"],
)


def _with_nch(tiny_corpus_pd):
    pdf = tiny_corpus_pd.copy()
    pdf["nch"] = pdf["text"].str.len().astype("int64")
    return pdf


@pytest.fixture(scope="module")
def del_setup(spark, tiny_corpus_pd, tmp_path_factory):
    root = tmp_path_factory.mktemp("dels")
    pdf = _with_nch(tiny_corpus_pd)
    idx = build_index(spark.createDataFrame(pdf), positions=True).persist()
    base = build_segments(idx, str(root / "base"), **SEG_KW)
    full = wand_search(spark, base, TERMS, k=400).toPandas()
    # dead set: the query's TOP docs (forces the block-max pruning
    # path to re-fill the top-k from survivors) plus a spread
    dead = sorted(
        set(int(d) for d in full["doc_id"].head(3))
        | {i for i in range(400) if i % 7 == 3}
    )
    shutil.copytree(root / "base", root / "del")
    info = delete_docs(str(root / "del"), dead)
    assert info["n_new"] == len(dead)
    return {
        "root": root,
        "pdf": pdf,
        "idx": idx,
        "base": base,
        "deleted": SegmentIndex.load(str(root / "del")),
        "dead": set(dead),
        "dead_list": dead,
    }


def _minus_dead(full_pdf: pd.DataFrame, dead: set, k: int) -> pd.DataFrame:
    out = full_pdf[~full_pdf["doc_id"].isin(dead)].head(k)
    return out.reset_index(drop=True)


# ---- API ---------------------------------------------------------------


def test_delete_docs_api(spark, del_setup, tmp_path):
    src = del_setup["root"] / "base"
    shutil.copytree(src, tmp_path / "i")
    p = str(tmp_path / "i")
    r1 = delete_docs(p, [5, 9, 70])
    assert r1["n_new"] == 3
    # repeated ids union (no double count); new ids append
    r2 = delete_docs(p, [9, 70, 71])
    assert r2["n_new"] == 1
    lv = live_docs(p)
    assert lv["n_deleted"] == 4
    assert lv["n_live"] == lv["n_docs"] - 4
    assert lv["per_segment"] == {0: 2, 1: 2}
    d = describe_index(p)
    assert d["n_deleted"] == 4 and "deletes" in d["stream_bytes"]
    with pytest.raises(ValueError, match="negative"):
        delete_docs(p, [-1])
    # ids a generation doesn't hold are harmless no-op tombstones
    delete_docs(p, [10**9])
    assert delete_docs(p, [])["n_new"] == 0


# ---- query-time liveDocs (tombstones present, not yet compacted) -------


def test_wand_search_excludes_dead_scores_unchanged(spark, del_setup):
    """Lucene semantics: df/N still count the dead, so survivors keep
    their exact scores — the deleted index's top-k IS the undeleted
    top-k with dead rows removed (incl. the block-max pruned path,
    which re-fills from survivors because the liveDocs strip happens
    at decode time, before theta forms)."""
    full = wand_search(spark, del_setup["base"], TERMS, k=400).toPandas()
    want = _minus_dead(full, del_setup["dead"], 10)
    got = wand_search(spark, del_setup["deleted"], TERMS, k=10).toPandas()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert not set(got["doc_id"]) & del_setup["dead"]


def test_wand_search_mm_excludes_dead(spark, del_setup):
    full = wand_search(
        spark, del_setup["base"], TERMS, k=400, min_should_match=2
    ).toPandas()
    want = _minus_dead(full, del_setup["dead"], 10)
    got = wand_search(
        spark, del_setup["deleted"], TERMS, k=10, min_should_match=2
    ).toPandas()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_boolean_and_not_exclude_dead(spark, del_setup):
    for q in ("w0001 and not w0002", "w0002 or zephyrblade", "not w0001"):
        full = wand_boolean_search(spark, del_setup["base"], q, k=400).toPandas()
        want = _minus_dead(full, del_setup["dead"], 10)
        got = wand_boolean_search(spark, del_setup["deleted"], q, k=10).toPandas()
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=q)


def test_range_query_excludes_dead(spark, del_setup):
    q = "nch:[40 TO 90] and w0001"
    full = wand_boolean_search(spark, del_setup["base"], q, k=400).toPandas()
    want = _minus_dead(full, del_setup["dead"], 10)
    got = wand_boolean_search(spark, del_setup["deleted"], q, k=10).toPandas()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_phrase_excludes_dead(spark, del_setup):
    # adjacent pair from a DEAD doc's text: its own hit must vanish
    dead_id = del_setup["dead_list"][0]
    toks = del_setup["pdf"].iloc[dead_id]["text"].split()
    phrase = toks[:2]
    full = wand_phrase_search(spark, del_setup["base"], phrase, k=400).toPandas()
    want = _minus_dead(full, del_setup["dead"], 10)
    got = wand_phrase_search(spark, del_setup["deleted"], phrase, k=10).toPandas()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert dead_id not in set(got["doc_id"])


def test_facet_excludes_dead(spark, del_setup):
    from pyspark.sql import functions as F

    from solrplugins_spark.query.compiler import compile_ast
    from solrplugins_spark.query.parser import parse_query

    q = "w0001 or w0002"
    got = (
        wand_facet_search(spark, del_setup["deleted"], q, "role")
        .orderBy("role")
        .toPandas()
        .reset_index(drop=True)
    )
    tree, _ = parse_query(q)
    match = compile_ast(del_setup["idx"], tree).select("doc_id").toPandas()
    live_match = set(match["doc_id"]) - del_setup["dead"]
    pdf = del_setup["pdf"]
    want = (
        pdf[pdf["doc_id"].isin(live_match)]
        .groupby("role", as_index=False)
        .size()
        .rename(columns={"size": "cnt"})
        .sort_values("role")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_fetch_docs_excludes_dead(spark, del_setup):
    dead_id = del_setup["dead_list"][0]
    live_id = next(i for i in range(400) if i not in del_setup["dead"])
    got = fetch_docs(
        spark, del_setup["deleted"], [dead_id, live_id]
    ).toPandas()
    assert set(got["doc_id"]) == {live_id}


def test_multi_generation_delete_one_gen(spark, del_setup, tmp_path):
    """Tombstones in ONE streamed generation: multi-gen serving strips
    only that generation's docs; stats still span both."""
    pdf = del_setup["pdf"]
    a = spark.createDataFrame(pdf[pdf["doc_id"] < 200])
    b = spark.createDataFrame(pdf[pdf["doc_id"] >= 200])
    kw = dict(seg_size=64, groups=2)
    seg_a = build_segments(build_index(a), str(tmp_path / "a"), **kw)
    seg_b = build_segments(build_index(b), str(tmp_path / "b"), **kw)
    full = wand_search_multi(spark, [seg_a, seg_b], TERMS, k=400).toPandas()
    dead = [int(d) for d in full["doc_id"].head(4) if int(d) < 200][:2]
    assert dead, "need dead docs in generation A"
    shutil.copytree(tmp_path / "a", tmp_path / "a_del")
    delete_docs(str(tmp_path / "a_del"), dead)
    got = wand_search_multi(
        spark,
        [SegmentIndex.load(str(tmp_path / "a_del")), seg_b],
        TERMS,
        k=10,
    ).toPandas()
    want = _minus_dead(full, set(dead), 10)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_payload_similarity_excludes_dead(spark, tmp_path):
    from solrplugins_spark.analysis.payloads import build_payload_index
    from solrplugins_spark.query.scorer import PayloadIdf

    rows = []
    rng = np.random.default_rng(11)
    vocab = [f"t{i}" for i in range(40)]
    for d in range(300):
        toks = rng.choice(vocab, size=12)
        w = (d % 5) + 1
        rows.append((d, " ".join(f"{t}^{w}.0" for t in toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pidx = build_payload_index(docs).persist()
    seg = build_segments(pidx, str(tmp_path / "p"), seg_size=64, groups=2)
    full = wand_search(spark, seg, [("t3", 1.0)], k=300, sim=PayloadIdf).toPandas()
    dead = [int(d) for d in full["doc_id"].head(2)]
    shutil.copytree(tmp_path / "p", tmp_path / "pd")
    delete_docs(str(tmp_path / "pd"), dead)
    got = wand_search(
        spark,
        SegmentIndex.load(str(tmp_path / "pd")),
        [("t3", 1.0)],
        k=10,
        sim=PayloadIdf,
    ).toPandas()
    want = _minus_dead(full, set(dead), 10)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize("budget", [None, 0], ids=["local", "spark"])
def test_delete_by_query(spark, del_setup, tmp_path, monkeypatch, budget):
    """Solr deleteByQuery: the packed boolean evaluator picks the dead
    set; queries afterwards exclude exactly the matched docs; a rerun
    is a no-op (already-tombstoned docs never match again). Checked on
    the local tier and on the Spark path (budget 0)."""
    from solrplugins_spark.index.segments import delete_by_query

    tier(monkeypatch, budget)

    src = del_setup["root"] / "base"
    shutil.copytree(src, tmp_path / "q")
    p = str(tmp_path / "q")
    q = "w0002 and nch:[0 TO 80]"
    full_match = wand_boolean_search(
        spark, SegmentIndex.load(p), q, k=400
    ).toPandas()
    info = delete_by_query(spark, p, q)
    assert info["n_new"] == len(full_match)
    si = SegmentIndex.load(p)
    assert wand_boolean_search(spark, si, q, k=400).count() == 0
    # survivors of a broader query = broader matches minus the purged
    broad_full = wand_boolean_search(
        spark, SegmentIndex.load(str(src)), "w0002", k=400
    ).toPandas()
    got = wand_boolean_search(spark, si, "w0002", k=400).toPandas()
    want = broad_full[
        ~broad_full["doc_id"].isin(set(full_match["doc_id"]))
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # idempotent
    assert delete_by_query(spark, p, q)["n_new"] == 0
    # bounded-driver contract
    with pytest.raises(ValueError, match="max_ids"):
        delete_by_query(spark, p, "not zzzznotaterm", max_ids=5)


# ---- compaction: physical purge ---------------------------------------


@pytest.fixture(scope="module")
def compacted(spark, del_setup):
    comp = compact_packed(
        spark, [del_setup["deleted"]], str(del_setup["root"] / "comp"), groups=2
    )
    # fresh from-scratch build over ONLY the survivors (original doc
    # ids preserved — the id space keeps its gaps)
    pdf = del_setup["pdf"]
    live_pdf = pdf[~pdf["doc_id"].isin(del_setup["dead"])]
    fresh_idx = build_index(
        spark.createDataFrame(live_pdf), positions=True
    ).persist()
    fresh = build_segments(fresh_idx, str(del_setup["root"] / "fresh"), **SEG_KW)
    return comp, fresh


def test_compact_purges_physically(spark, del_setup, compacted):
    comp, _ = compacted
    import os

    assert not os.path.isdir(os.path.join(comp.path, "deletes"))
    lv = live_docs(comp.path)
    assert lv["n_deleted"] == 0
    n_dead = len(del_setup["dead"])
    assert comp.n_docs == 400 - n_dead
    assert describe_index(comp.path)["n_deleted"] == 0
    # postings physically dropped: a full-k scan never surfaces a dead doc
    res = wand_search(spark, comp, TERMS, k=400).toPandas()
    assert not set(res["doc_id"]) & del_setup["dead"]
    # docstore rows gone
    dead_id = del_setup["dead_list"][0]
    assert len(fetch_docs(spark, comp, [dead_id]).toPandas()) == 0


def test_compacted_equals_fresh_build_of_survivors(spark, del_setup, compacted):
    """The gold oracle: after the purge, every surface must answer
    exactly like an index built from scratch over the surviving docs —
    same df, same N, same avgdl, same ranks, same scores."""
    comp, fresh = compacted
    assert comp.n_docs == fresh.n_docs
    assert np.isclose(comp.avgdl, fresh.avgdl)
    # sidecar df reflects the purge
    for t in ("w0001", "w0002"):
        assert _sidecar_dfs(comp, [t]) == _sidecar_dfs(fresh, [t])

    got = wand_search(spark, comp, TERMS, k=10).toPandas()
    want = wand_search(spark, fresh, TERMS, k=10).toPandas()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    for q in (
        "w0001 and not w0002",
        "nch:[40 TO 90] and w0001",
        "w0002 or zephyrblade",
    ):
        got = wand_boolean_search(spark, comp, q, k=10).toPandas()
        want = wand_boolean_search(spark, fresh, q, k=10).toPandas()
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=q)

    gotf = (
        wand_facet_search(spark, comp, "w0001 or w0002", "role")
        .orderBy("role").toPandas().reset_index(drop=True)
    )
    wantf = (
        wand_facet_search(spark, fresh, "w0001 or w0002", "role")
        .orderBy("role").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(gotf, wantf, check_dtype=False)

    live_id = next(i for i in range(400) if i not in del_setup["dead"])
    gots = fetch_docs(spark, comp, [live_id]).toPandas()
    wants = fetch_docs(spark, fresh, [live_id]).toPandas()
    pd.testing.assert_frame_equal(
        gots.sort_index(axis=1), wants.sort_index(axis=1), check_dtype=False
    )


def test_compacted_match_all_and_ranges_skip_tombstone_slots(spark, del_setup, compacted):
    """TOMBSTONE sentinel semantics: match-all (*:*) and doc_id /
    docvalues ranges never resurrect a purged doc, while legitimate
    dl=0 (empty-text) docs keep their doc_id-range behavior."""
    comp, _ = compacted
    res = wand_boolean_search(
        spark, comp, "doc_id:[0 TO 399] and not w0001", k=400
    ).toPandas()
    assert not set(res["doc_id"]) & del_setup["dead"]
    res2 = wand_boolean_search(spark, comp, "nch:[0 TO 10000]", k=400).toPandas()
    assert not set(res2["doc_id"]) & del_setup["dead"]


def test_second_delete_round_and_recompaction(spark, del_setup, compacted):
    """delete -> compact -> delete again -> compact again: tombstone
    sentinels survive the ordinal remap, stats stay consistent, and
    the result still equals a fresh build over the final survivors."""
    comp, _ = compacted
    pdf = del_setup["pdf"]
    survivors = [i for i in range(400) if i not in del_setup["dead"]]
    dead2 = survivors[::9][:8]
    root = del_setup["root"]
    shutil.copytree(comp.path, root / "comp2src")
    delete_docs(str(root / "comp2src"), dead2)
    comp2 = compact_packed(
        spark,
        [SegmentIndex.load(str(root / "comp2src"))],
        str(root / "comp2"),
        groups=2,
    )
    all_dead = del_setup["dead"] | set(dead2)
    live_pdf = pdf[~pdf["doc_id"].isin(all_dead)]
    fresh2_idx = build_index(spark.createDataFrame(live_pdf), positions=True)
    fresh2 = build_segments(fresh2_idx, str(root / "fresh2"), **SEG_KW)
    assert comp2.n_docs == fresh2.n_docs
    assert np.isclose(comp2.avgdl, fresh2.avgdl)
    got = wand_search(spark, comp2, TERMS, k=10).toPandas()
    want = wand_search(spark, fresh2, TERMS, k=10).toPandas()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    gotf = (
        wand_facet_search(spark, comp2, "w0001", "role")
        .orderBy("role").toPandas().reset_index(drop=True)
    )
    wantf = (
        wand_facet_search(spark, fresh2, "w0001", "role")
        .orderBy("role").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(gotf, wantf, check_dtype=False)


def test_compact_two_generations_with_deletes(spark, del_setup, tmp_path):
    """Streamed generations each carrying tombstones compact into one
    purged index equal to a fresh build over the union of survivors."""
    pdf = del_setup["pdf"]
    a = spark.createDataFrame(pdf[pdf["doc_id"] < 200])
    b = spark.createDataFrame(pdf[pdf["doc_id"] >= 200])
    kw = dict(seg_size=64, groups=2, string_cols=["role"])
    seg_a = build_segments(build_index(a), str(tmp_path / "a"), **kw)
    seg_b = build_segments(build_index(b), str(tmp_path / "b"), **kw)
    dead_a, dead_b = [3, 66, 130], [203, 266, 330]
    delete_docs(seg_a.path, dead_a)
    delete_docs(seg_b.path, dead_b)
    comp = compact_packed(
        spark,
        [SegmentIndex.load(seg_a.path), SegmentIndex.load(seg_b.path)],
        str(tmp_path / "c"),
        groups=2,
    )
    dead = set(dead_a) | set(dead_b)
    live_pdf = pdf[~pdf["doc_id"].isin(dead)]
    fresh = build_segments(
        build_index(spark.createDataFrame(live_pdf)), str(tmp_path / "fresh"), **kw
    )
    assert comp.n_docs == fresh.n_docs
    assert np.isclose(comp.avgdl, fresh.avgdl)
    got = wand_search(spark, comp, TERMS, k=10).toPandas()
    want = wand_search(spark, fresh, TERMS, k=10).toPandas()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    gotf = (
        wand_facet_search(spark, comp, "w0001", "role")
        .orderBy("role").toPandas().reset_index(drop=True)
    )
    wantf = (
        wand_facet_search(spark, fresh, "w0001", "role")
        .orderBy("role").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(gotf, wantf, check_dtype=False)


def test_compact_mass_deletion_every_segment(spark, del_setup, tmp_path):
    """Mass-compaction shape (r05 review item #7): EVERY segment
    carries tombstones, so the stats-recovery pass touches all of
    them. Recovery runs as one per-segment Spark agg
    (segments._recover_stats) — each task decodes a single segment's
    doclen rows and the driver receives exactly two numbers, never
    the concatenated doclen streams — and the recovered n_docs/avgdl
    must still equal a fresh build over the survivors."""
    base = del_setup["base"]
    n_segs = (base.n_docs + base.seg_size - 1) // base.seg_size
    shutil.copytree(del_setup["root"] / "base", tmp_path / "all")
    dead = [s * base.seg_size + off for s in range(n_segs) for off in (1, 2)]
    delete_docs(str(tmp_path / "all"), dead)
    lv = live_docs(str(tmp_path / "all"))
    assert set(lv["per_segment"]) == set(range(n_segs))
    comp = compact_packed(
        spark,
        [SegmentIndex.load(str(tmp_path / "all"))],
        str(tmp_path / "comp"),
        groups=2,
    )
    pdf = del_setup["pdf"]
    live_pdf = pdf[~pdf["doc_id"].isin(set(dead))]
    fresh = build_segments(
        build_index(spark.createDataFrame(live_pdf), positions=True),
        str(tmp_path / "fresh"),
        **SEG_KW,
    )
    assert comp.n_docs == fresh.n_docs == 400 - len(dead)
    assert np.isclose(comp.avgdl, fresh.avgdl)
    got = wand_search(spark, comp, TERMS, k=10).toPandas()
    want = wand_search(spark, fresh, TERMS, k=10).toPandas()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
