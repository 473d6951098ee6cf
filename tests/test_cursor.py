"""searchAfter / cursorMark deep paging.

Lucene IndexSearcher.searchAfter and Solr's CursorMark (the serving
tier the reference's plugins run inside paginates with cursorMark —
deep OFFSET paging is the documented Solr anti-pattern): pages fetched
with a (score, doc_id) cursor must tile the full deterministic
(score desc, doc_id asc) ordering — no drops, no repeats — on BOTH the
flat and packed paths, through score ties at the page boundary, and
across multiple generations with global stats.

The packed top-k collector applies the cursor BEFORE the per-segment
top-k cut (segments.py::_collect_topk), so every page costs k rows per
segment at any depth; these tests page to exhaustion to prove no doc
is lost to an earlier page's truncation.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from solrplugins_spark.index.builder import build_index
from solrplugins_spark.index.segments import (
    build_segments,
    wand_search,
    wand_search_multi,
)
from solrplugins_spark.query.scorer import search_terms


@pytest.fixture(scope="module")
def cur_segments(tiny_index, tmp_path_factory):
    out = tmp_path_factory.mktemp("cursor") / "idx"
    return build_segments(tiny_index, str(out), seg_size=128, groups=2)


@pytest.fixture(scope="module")
def hot_terms(tiny_index):
    """Highest-df corpus terms — guarantees enough hits to page deep."""
    rows = tiny_index.terms.orderBy(F.desc("df"), F.asc("term")).limit(3).collect()
    assert rows[-1]["df"] >= 40, "fixture needs deep result lists"
    return [(r["term"], 1.0 + 0.5 * i) for i, r in enumerate(rows)]


def _page_all(fetch, page_k, max_pages=50):
    """Drain a cursor-paged result: fetch(after) -> pandas page."""
    pages, after = [], None
    for _ in range(max_pages):
        page = fetch(after)
        if len(page) == 0:
            break
        assert len(page) <= page_k
        pages.append(page)
        last = page.iloc[-1]
        after = (float(last["score"]), int(last["doc_id"]))
    else:
        raise AssertionError("cursor failed to exhaust")
    return pd.concat(pages, ignore_index=True) if pages else pd.DataFrame()


def test_flat_cursor_tiles_full_ordering(tiny_index, hot_terms):
    full = search_terms(tiny_index, hot_terms, k=100_000).toPandas()
    tiled = _page_all(
        lambda a: search_terms(tiny_index, hot_terms, k=17, after=a).toPandas(),
        page_k=17,
    )
    pd.testing.assert_frame_equal(tiled, full)


def test_packed_cursor_tiles_full_ordering(spark, cur_segments, hot_terms):
    full = wand_search(spark, cur_segments, hot_terms, k=100_000).toPandas()
    tiled = _page_all(
        lambda a: wand_search(spark, cur_segments, hot_terms, k=17, after=a).toPandas(),
        page_k=17,
    )
    assert len(full) > 34, "need >2 pages to exercise the boundary"
    pd.testing.assert_frame_equal(tiled, full)


def test_packed_page2_matches_flat_page2(spark, tiny_index, cur_segments, hot_terms):
    def page2(fetch):
        p1 = fetch(None)
        last = p1.iloc[-1]
        return fetch((float(last["score"]), int(last["doc_id"])))

    flat = page2(lambda a: search_terms(tiny_index, hot_terms, k=10, after=a).toPandas())
    packed = page2(lambda a: wand_search(spark, cur_segments, hot_terms, k=10, after=a).toPandas())
    assert list(packed["doc_id"]) == list(flat["doc_id"])
    assert np.allclose(packed["score"], flat["score"], atol=1e-9)


def test_cursor_through_score_ties(spark, tmp_path):
    """25 identical docs -> one giant score tie; paging must advance on
    doc_id alone and tile 0..24 exactly."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(25)], "doc_id long, text string"
    )
    idx = build_index(docs)
    seg = build_segments(idx, str(tmp_path / "ties"), seg_size=8, groups=2)
    for fetch in (
        lambda a: search_terms(idx, [("alpha", 1.0)], k=10, after=a).toPandas(),
        lambda a: wand_search(spark, seg, [("alpha", 1.0)], k=10, after=a).toPandas(),
    ):
        tiled = _page_all(fetch, page_k=10)
        assert list(tiled["doc_id"]) == list(range(25))
        assert tiled["score"].nunique() == 1


def test_cursor_past_end_is_empty(spark, cur_segments, hot_terms):
    full = wand_search(spark, cur_segments, hot_terms, k=100_000).toPandas()
    last = full.iloc[-1]
    nxt = wand_search(
        spark, cur_segments, hot_terms, k=10,
        after=(float(last["score"]), int(last["doc_id"])),
    )
    assert nxt.count() == 0


def test_cursor_keep_matches_decimal_reference():
    """Property: the kernel's keep-mask equals a pure-Decimal HALF_UP
    reference (the exact arithmetic Spark's F.round performs) for
    doubles engineered to sit ON and AROUND .5-quantum boundaries —
    where numpy's half-even rounding disagrees with HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from solrplugins_spark.index.segments import _cursor_keep

    rt = 5
    q = Decimal(1).scaleb(-rt)

    def spark_round(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    # scores near k * 1e-5 +/- {0, half-quantum, epsilon} boundaries
    base = st.integers(min_value=0, max_value=200_000)
    jitter = st.sampled_from(
        [0.0, 0.5e-5, 0.5e-5 - 1e-12, 0.5e-5 + 1e-12, 0.9999e-5, 1e-12]
    )
    score = st.tuples(base, jitter).map(lambda t: t[0] * 1e-5 + t[1])

    @settings(max_examples=300, deadline=None)
    @given(
        scores=st.lists(score, min_size=1, max_size=30),
        cursor=score,
        d_a=st.integers(min_value=0, max_value=20),
    )
    def run(scores, cursor, d_a):
        arr = np.asarray(scores, np.float64)
        docs = np.arange(len(arr), dtype=np.int64)
        s_a = spark_round(cursor)  # cursors are always client-rounded
        got = _cursor_keep(arr, docs, s_a, d_a, rt)
        want = np.array(
            [
                (spark_round(v) < s_a)
                or (spark_round(v) == s_a and d > d_a)
                for v, d in zip(arr, docs)
            ]
        )
        assert np.array_equal(got, want)

    run()


def test_multi_generation_cursor(spark, tiny_corpus_pd, cur_segments, tmp_path):
    """Cursor pages over two generations (disjoint halves, global
    stats) equal the single compacted index's pages."""
    half_a = spark.createDataFrame(tiny_corpus_pd[tiny_corpus_pd["doc_id"] < 200])
    half_b = spark.createDataFrame(tiny_corpus_pd[tiny_corpus_pd["doc_id"] >= 200])
    seg_a = build_segments(build_index(half_a), str(tmp_path / "a"), seg_size=64, groups=2)
    seg_b = build_segments(build_index(half_b), str(tmp_path / "b"), seg_size=64, groups=2)
    terms = [("w0000", 2.0), ("w0005", 1.0)]

    single = _page_all(
        lambda a: wand_search(spark, cur_segments, terms, k=13, after=a).toPandas(),
        page_k=13,
    )
    multi = _page_all(
        lambda a: wand_search_multi(spark, [seg_a, seg_b], terms, k=13, after=a).toPandas(),
        page_k=13,
    )
    assert len(single) > 13
    pd.testing.assert_frame_equal(multi, single)


def test_spark_round_matches_decimal_reference():
    """Property: the shared vectorized _spark_round equals the pure
    Decimal HALF_UP-on-shortest-repr reference (Spark F.round /
    BigDecimal.valueOf) for EVERY element — including doubles
    engineered onto .5-quantum boundaries where np.round (half-even)
    disagrees — and accepts np.float64 scalars regardless of numpy's
    repr format (numpy>=2.0 repr(np.float64) regression)."""
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from solrplugins_spark.index.segments import _spark_round

    rt = 5
    q = Decimal(1).scaleb(-rt)

    def ref(x: float) -> float:
        return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))

    base = st.integers(min_value=0, max_value=200_000)
    jitter = st.sampled_from(
        [0.0, 0.5e-5, 0.5e-5 - 1e-12, 0.5e-5 + 1e-12, 0.9999e-5, 1e-12]
    )
    score = st.tuples(base, jitter).map(lambda t: t[0] * 1e-5 + t[1])

    @settings(max_examples=300, deadline=None)
    @given(scores=st.lists(score, min_size=1, max_size=50))
    def run(scores):
        arr = np.asarray(scores, np.float64)
        got = _spark_round(arr, rt)
        want = np.array([ref(v) for v in scores], np.float64)
        assert np.array_equal(got, want)

    run()
    # golden half-even vs HALF_UP disagreement: 0.125 is EXACT in
    # binary, np.round (half-even) gives 0.12, Spark HALF_UP 0.13
    assert np.round(np.array([0.125]), 2)[0] == 0.12
    assert _spark_round(np.array([0.125]), 2)[0] == 0.13
    # np.float64 scalar input (numpy 2.x repr regression path)
    assert _spark_round(np.full(1, np.float64(4.5e-05)), 5)[0] == 5e-05

    # high magnitude (|scaled| ULP > 1e-6, e.g. boosted scores times
    # large docvalues): the tie band is ULP-relative, so .5-boundary
    # reprs at ANY magnitude still take the exact Decimal path — a
    # fixed 1e-6 band missed these above |score| ~ 1e4 at rt=5
    big_base = st.integers(min_value=10**9, max_value=10**14)
    big_score = st.tuples(big_base, jitter).map(lambda t: t[0] * 1e-5 + t[1])

    @settings(max_examples=200, deadline=None)
    @given(scores=st.lists(big_score, min_size=1, max_size=20))
    def run_big(scores):
        arr = np.asarray(scores, np.float64)
        got = _spark_round(arr, rt)
        want = np.array([ref(v) for v in scores], np.float64)
        assert np.array_equal(got, want)

    run_big()
    # dense brute sweep across the 6th-decimal boundary at 1e6
    for i in range(100):
        v = float(f"1000000.0000{i:02d}5")
        assert _spark_round(np.array([v]), rt)[0] == ref(v), v
