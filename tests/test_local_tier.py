"""r07 driver-local serving tier: every packed surface must return
row-identical results whether the byte-budgeted local tier engages
(default) or the distributed fan-out runs
(SOLRPLUGINS_LOCAL_TIER_MAX_BYTES=0) — same kernels, same inputs, so
any drift is a frame-assembly bug."""

import os

import pytest
from conftest import count_jobs

from solrplugins_spark.index import segments as S
from solrplugins_spark.index.builder import build_index, mint_doc_ids


@pytest.fixture(scope="module")
def lt(spark, tmp_path_factory):
    from solrplugins_spark.corpus import transcripts

    docs = mint_doc_ids(transcripts(spark, 3000, 20, partitions=4)).persist()
    docs.count()
    idx = build_index(docs, positions=True).persist()
    out = tmp_path_factory.mktemp("local_tier") / "idx"
    seg = S.build_segments(
        idx, str(out), seg_size=512, groups=2,
        string_cols=["role"], store_cols=["text"], value_cols=["turn_idx"],
    )
    phrase = docs.select("text").first()["text"].lower().split()[:2]
    return {"docs": docs, "idx": idx, "seg": seg, "phrase": phrase}


def _both(fn):
    """Rows with the local tier on (64 MB default) vs forced off."""
    os.environ["SOLRPLUGINS_LOCAL_TIER_MAX_BYTES"] = str(64 << 20)
    try:
        local = [tuple(r) for r in fn().collect()]
    finally:
        os.environ["SOLRPLUGINS_LOCAL_TIER_MAX_BYTES"] = "0"
    try:
        dist = [tuple(r) for r in fn().collect()]
    finally:
        os.environ["SOLRPLUGINS_LOCAL_TIER_MAX_BYTES"] = str(64 << 20)
        del os.environ["SOLRPLUGINS_LOCAL_TIER_MAX_BYTES"]
    return local, dist


CASES = {
    "wand_or": lambda spark, f: S.wand_search(
        spark, f["seg"],
        [("zephyrblade", 2.0), ("w0003", 1.0), ("w0100", 0.5)], k=10),
    "wand_mm2": lambda spark, f: S.wand_search(
        spark, f["seg"], [("w0000", 1.0), ("w0003", 1.0)], k=10,
        min_should_match=2),
    "wand_boost_fn": lambda spark, f: S.wand_search(
        spark, f["seg"], [("w0003", 1.0)], k=10,
        boost_fn=("turn_idx", lambda v: 1.0 + v / 100.0)),
    "phrase": lambda spark, f: S.wand_phrase_search(
        spark, f["seg"], f["phrase"], k=10),
    "phrase_slop": lambda spark, f: S.wand_phrase_search(
        spark, f["seg"], f["phrase"], k=10, slop=2),
    "boolean_not_range": lambda spark, f: S.wand_boolean_search(
        spark, f["seg"], "w0003 and not w0000 or turn_idx:[0 TO 5]", k=10),
    "facet": lambda spark, f: S.wand_facet_search(
        spark, f["seg"], "zephyrblade or w0003", "role").orderBy("role"),
    "collapse": lambda spark, f: S.wand_collapse_search(
        spark, f["seg"], "zephyrblade or w0003", "role", k=10),
    "facet_range": lambda spark, f: S.wand_facet_range_search(
        spark, f["seg"], "zephyrblade", "turn_idx", 0, 24, 4),
    "stats": lambda spark, f: S.wand_stats_search(
        spark, f["seg"], "zephyrblade or w0003", "turn_idx"),
    "facet_query": lambda spark, f: S.wand_facet_query_search(
        spark, f["seg"], "zephyrblade or w0003",
        {"w3": "w0003", "early": "turn_idx:[0 TO 5]", "nz": "not zephyrblade"}),
    "stats_facet": lambda spark, f: S.wand_stats_facet_search(
        spark, f["seg"], "zephyrblade or w0003", "turn_idx", "role"),
    "percentiles": lambda spark, f: S.wand_stats_percentiles_search(
        spark, f["seg"], "zephyrblade or w0003", "turn_idx",
        [0.25, 0.5, 0.95]),
    "group": lambda spark, f: S.wand_group_search(
        spark, f["seg"], "zephyrblade or w0003", "role",
        k_groups=3, group_limit=2),
    "rerank": lambda spark, f: S.wand_rerank_search(
        spark, f["seg"], "zephyrblade or w0003", "w0100",
        k=10, rerank_docs=30, weight=2.0),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_local_equals_distributed(spark, lt, name):
    local, dist = _both(lambda: CASES[name](spark, lt))
    assert local == dist, name
    assert local, f"{name}: empty result frame defeats the comparison"


def test_cursor_page_local_equals_distributed(spark, lt):
    p1 = S.wand_search(
        spark, lt["seg"], [("w0000", 1.0), ("zephyrblade", 2.0)], k=10
    ).collect()
    cur = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
    local, dist = _both(
        lambda: S.wand_search(
            spark, lt["seg"], [("w0000", 1.0), ("zephyrblade", 2.0)],
            k=10, after=cur,
        )
    )
    assert local == dist and local


def test_tombstones_local_equals_distributed(spark, lt, tmp_path):
    import shutil

    path = str(tmp_path / "delidx")
    shutil.copytree(lt["seg"].path, path)
    seg = S.SegmentIndex.load(path)
    top = S.wand_search(spark, seg, [("w0003", 1.0)], k=5).collect()
    S.delete_docs(path, [int(r["doc_id"]) for r in top[:3]])
    local, dist = _both(
        lambda: S.wand_search(spark, seg, [("w0003", 1.0)], k=10)
    )
    assert local == dist and local
    deleted = {int(r["doc_id"]) for r in top[:3]}
    assert not deleted & {d for d, _ in local}


def test_local_tier_engages_on_small_index(spark, lt):
    """The decision itself: a tiny index must pass the byte budget
    (estimate present and under the default), and budget 0 must force
    the distributed frame."""
    est = S._local_estimate([(lt["seg"], ["w0003"])], False)
    assert est is not None and 0 < est <= S.LOCAL_TIER_MAX_BYTES
    assert S._tier([(lt["seg"], ["w0003"])], False)[0]
    os.environ["SOLRPLUGINS_LOCAL_TIER_MAX_BYTES"] = "0"
    try:
        assert not S._tier([(lt["seg"], ["w0003"])], False)[0]
    finally:
        del os.environ["SOLRPLUGINS_LOCAL_TIER_MAX_BYTES"]


def test_stats_single_doc_stddev_null_local_equals_distributed(spark, lt):
    """r07 driver-side stats finalization: the n==1 corrected-variance
    NULL rule must match the Spark tail exactly. zephyrblade is a
    planted rare term; find a single-match query via a unique doc."""
    one = S.wand_search(spark, lt["seg"], [("zephyrblade", 1.0)], k=1).collect()
    did = int(one[0]["doc_id"])
    q = f"zephyrblade and doc_id:[{did} TO {did}]"
    local, dist = _both(
        lambda: S.wand_stats_search(spark, lt["seg"], q, "turn_idx")
    )
    assert local == dist and local
    assert local[0][0] == 1 and local[0][5] is None  # cnt == 1, stddev NULL


def test_packed_mlt_handler_local_zero_jobs(spark, lt):
    """r07: the /mlt seed-exclusion + re-top-k tail finalizes
    driver-side when the expansion search came from the local tier —
    zero Spark jobs, rows identical to the Spark filter/orderBy/limit
    tail of the distributed path."""
    from solrplugins_spark.query.handlers import packed_mlt_handler
    from solrplugins_spark.query.mlt import MLTParams

    params = MLTParams(min_doc_freq=2, max_query_terms=20)
    fn = lambda: packed_mlt_handler(spark, lt["seg"], [7], params, k=10)["docs"]
    local, dist = _both(fn)
    assert local == dist and local
    assert count_jobs(spark, lambda: fn().collect(), "mlt0") == 0
