"""Solr search components: range faceting (facet.range /
RangeFacetProcessor) and field stats (StatsComponent /
StatsValuesFactory). Flat and packed must agree exactly, include the
full zero-bucket lattice, and reproduce a brute-force recompute —
including the corrected (sample) stddev formula."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from solrplugins_spark.index.builder import build_index
from solrplugins_spark.index.segments import (
    build_segments,
    wand_facet_range_search,
    wand_stats_search,
)
from solrplugins_spark.query.components import facet_range_search, stats_search
from solrplugins_spark.query.compiler import execute_query


@pytest.fixture(scope="module")
def comp_segments(tiny_index, tmp_path_factory):
    out = tmp_path_factory.mktemp("components") / "idx"
    return build_segments(
        tiny_index, str(out), seg_size=128, groups=2, value_cols=["turn_idx"]
    )


@pytest.fixture(scope="module")
def hot_term(tiny_index):
    return tiny_index.terms.orderBy(F.desc("df"), F.asc("term")).limit(1).collect()[0]["term"]


def _matched_vals(tiny_index, tiny_corpus_pd, query):
    matched = execute_query(tiny_index, query, k=10**6).toPandas()["doc_id"]
    return tiny_corpus_pd.set_index("doc_id").loc[matched, "turn_idx"].to_numpy()


def test_flat_facet_range_matches_brute(tiny_index, tiny_corpus, tiny_corpus_pd, hot_term):
    got = facet_range_search(
        tiny_index, hot_term, tiny_corpus.select("doc_id", "turn_idx"),
        "turn_idx", 0, 20, 5,
    ).toPandas()
    vals = _matched_vals(tiny_index, tiny_corpus_pd, hot_term)
    want_counts = [
        int(((vals >= lo) & (vals < lo + 5)).sum()) for lo in range(0, 20, 5)
    ]
    assert list(got["bucket"]) == [0, 5, 10, 15]
    assert list(got["cnt"]) == want_counts
    assert int(got["cnt"].sum()) == len(vals)  # [0,20) covers turn_idx fully


def test_packed_facet_range_matches_flat(spark, tiny_index, tiny_corpus, comp_segments, hot_term):
    flat = facet_range_search(
        tiny_index, hot_term, tiny_corpus.select("doc_id", "turn_idx"),
        "turn_idx", 0, 24, 4,
    ).toPandas()
    packed = wand_facet_range_search(
        spark, comp_segments, hot_term, "turn_idx", 0, 24, 4
    ).toPandas()
    pd.testing.assert_frame_equal(packed, flat)
    # turn_idx < 20, so the [20,24) bucket exists and is zero — the
    # full Solr lattice, not just observed buckets
    assert list(flat["bucket"]) == [0, 4, 8, 12, 16, 20]
    assert int(flat.iloc[-1]["cnt"]) == 0


def test_flat_stats_matches_brute(tiny_index, tiny_corpus, tiny_corpus_pd, hot_term):
    got = stats_search(
        tiny_index, hot_term, tiny_corpus.select("doc_id", "turn_idx"), "turn_idx"
    ).toPandas()
    vals = _matched_vals(tiny_index, tiny_corpus_pd, hot_term).astype(np.float64)
    assert len(got) == 1
    r = got.iloc[0]
    assert r["cnt"] == len(vals) and r["min_v"] == vals.min() and r["max_v"] == vals.max()
    assert r["sum_v"] == vals.sum()
    assert abs(r["mean_v"] - round(vals.mean(), 5)) < 1e-9
    assert abs(r["stddev_v"] - round(vals.std(ddof=1), 5)) < 1e-9


def test_packed_stats_matches_flat(spark, tiny_index, tiny_corpus, comp_segments, hot_term):
    flat = stats_search(
        tiny_index, hot_term, tiny_corpus.select("doc_id", "turn_idx"), "turn_idx"
    ).toPandas()
    packed = wand_stats_search(
        spark, comp_segments, hot_term, "turn_idx"
    ).toPandas()
    pd.testing.assert_frame_equal(packed, flat)


def test_no_matches(spark, tiny_index, tiny_corpus, comp_segments):
    stats = stats_search(
        tiny_index, "zzznope", tiny_corpus.select("doc_id", "turn_idx"), "turn_idx"
    )
    assert stats.count() == 0
    assert wand_stats_search(spark, comp_segments, "zzznope", "turn_idx").count() == 0
    lattice = wand_facet_range_search(
        spark, comp_segments, "zzznope", "turn_idx", 0, 20, 5
    ).toPandas()
    assert list(lattice["cnt"]) == [0, 0, 0, 0]


def test_validation(spark, tiny_index, tiny_corpus, comp_segments):
    with pytest.raises(ValueError, match="gap"):
        facet_range_search(
            tiny_index, "alpha", tiny_corpus.select("doc_id", "turn_idx"),
            "turn_idx", 0, 20, 0,
        )
    with pytest.raises(ValueError, match="numeric docvalues stream"):
        wand_stats_search(spark, comp_segments, "alpha", "nope_col")


def test_terms_enum_count_and_index_sort(tiny_index, tiny_corpus_pd):
    from solrplugins_spark.query.components import terms_enum

    got = terms_enum(tiny_index, prefix="w", limit=5, sort="count").toPandas()
    assert len(got) == 5 and got["term"].str.startswith("w").all()
    assert list(got["df"]) == sorted(got["df"], reverse=True)
    # brute-force df for the top term
    top = got.iloc[0]
    df = sum(
        top["term"] in str(t).lower().split() for t in tiny_corpus_pd["text"]
    )
    assert int(top["df"]) == df
    idx_sorted = terms_enum(tiny_index, prefix="w", limit=5, sort="index").toPandas()
    assert list(idx_sorted["term"]) == sorted(idx_sorted["term"])


def test_terms_enum_mincount_and_validation(tiny_index):
    from solrplugins_spark.query.components import terms_enum

    got = terms_enum(tiny_index, prefix="w", limit=50, min_count=5).toPandas()
    assert (got["df"] >= 5).all()
    with pytest.raises(ValueError, match="terms.sort"):
        terms_enum(tiny_index, sort="nope")


def test_single_match_stats_stddev_is_null(spark, tiny_index, tiny_corpus, comp_segments):
    """Exactly one matching doc: corrected stddev is undefined ->
    NULL on BOTH paths (Spark's raw stddev_samp NaN is normalized),
    matching SQL engines' stddev_samp."""
    one = tiny_index.terms.filter(F.col("df") == 1).limit(1).collect()
    if not one:
        pytest.skip("fixture has no df=1 term")
    term = one[0]["term"]
    flat = stats_search(
        tiny_index, term, tiny_corpus.select("doc_id", "turn_idx"), "turn_idx"
    ).toPandas()
    packed = wand_stats_search(spark, comp_segments, term, "turn_idx").toPandas()
    for got in (flat, packed):
        assert len(got) == 1 and got.iloc[0]["cnt"] == 1
        assert pd.isna(got.iloc[0]["stddev_v"])
    pd.testing.assert_frame_equal(packed, flat)


def test_facet_range_non_aligned_end(spark, tiny_index, tiny_corpus, tiny_corpus_pd, comp_segments, hot_term):
    """end not gap-aligned: values in [end, last_bucket_hi) must NOT
    leak into the last bucket — [start, end) is the contract."""
    flat = facet_range_search(
        tiny_index, hot_term, tiny_corpus.select("doc_id", "turn_idx"),
        "turn_idx", 0, 10, 3,
    ).toPandas()
    packed = wand_facet_range_search(
        spark, comp_segments, hot_term, "turn_idx", 0, 10, 3
    ).toPandas()
    pd.testing.assert_frame_equal(packed, flat)
    # last bucket [9, 12) clipped at end=10: only value 9 counts
    vals = _matched_vals(tiny_index, tiny_corpus_pd, hot_term)
    assert int(flat.iloc[-1]["cnt"]) == int((vals == 9).sum())
    assert int(flat["cnt"].sum()) == int((vals < 10).sum())


def test_stats_stddev_cancellation_clamped(spark, tmp_path):
    """Constant large-magnitude column: the packed merged-moment
    variance operand ss - s^2/n goes fractionally NEGATIVE in float64
    (-4.0 for v=100000001, n=3), which unclamped serves NaN where the
    flat stddev_samp twin (and every SQL oracle) serves 0.0. The
    F.greatest clamp must make packed == flat == 0.0."""
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array([0, 1, 2], dtype="int64"),
            "text": ["alpha x", "alpha y", "alpha z"],
            "bigval": pd.array([100000001] * 3, dtype="int64"),
        }
    )
    # precondition: the cancellation really is negative in float64
    vals = np.full(3, 100000001, np.float64)
    assert (vals * vals).sum() - vals.sum() ** 2 / 3 < 0
    corpus = spark.createDataFrame(pdf)
    idx = build_index(corpus)
    seg = build_segments(
        idx, str(tmp_path / "clampidx"), seg_size=128, groups=1,
        value_cols=["bigval"],
    )
    packed = wand_stats_search(spark, seg, "alpha", "bigval").toPandas()
    flat = stats_search(
        idx, "alpha", corpus.select("doc_id", "bigval"), "bigval"
    ).toPandas()
    assert len(packed) == 1
    assert packed.iloc[0]["stddev_v"] == 0.0  # not NaN
    pd.testing.assert_frame_equal(packed, flat)


# ---- facet.query + stats.facet ----------------------------------------

from solrplugins_spark.index.segments import (
    wand_facet_query_search,
    wand_stats_facet_search,
)
from solrplugins_spark.query.components import (
    facet_query_search,
    stats_facet_search,
)


@pytest.fixture(scope="module")
def sf_segments(tiny_index, tmp_path_factory):
    out = tmp_path_factory.mktemp("stats_facet") / "idx"
    return build_segments(
        tiny_index, str(out), seg_size=128, groups=2,
        value_cols=["turn_idx"], string_cols=["role"],
    )


@pytest.fixture(scope="module")
def rare_term(tiny_index):
    return (
        tiny_index.terms.filter(F.col("df") == 1)
        .orderBy("term").limit(1).collect()[0]["term"]
    )


def test_facet_query_flat_matches_brute(
    tiny_index, tiny_corpus_pd, hot_term, rare_term
):
    fqs = {
        "has_rare": rare_term,
        "not_self": f"not {hot_term}",
        "early": "turn_idx:[0 TO 4]",
        "nothing": "zzznosuchterm",
    }
    got = facet_query_search(tiny_index, hot_term, fqs).toPandas()
    main = set(
        execute_query(tiny_index, hot_term, k=10**6).toPandas()["doc_id"]
    )
    pdf = tiny_corpus_pd

    def docs_of(term):
        from solrplugins_spark.analysis.tokenizer import tokenize_pandas
        import pandas as _pd

        return {
            d
            for d, text in zip(pdf["doc_id"], pdf["text"])
            if term in list(tokenize_pandas(_pd.Series([text]))[0])
        }

    want = {
        "early": len(
            main & set(pdf[pdf["turn_idx"] <= 4]["doc_id"])
        ),
        "has_rare": len(main & docs_of(rare_term)),
        "not_self": 0,
        "nothing": 0,
    }
    assert list(got["name"]) == sorted(fqs)
    assert {n: c for n, c in zip(got["name"], got["cnt"])} == want


def test_facet_query_packed_matches_flat(
    spark, tiny_index, sf_segments, hot_term, rare_term
):
    fqs = {
        "has_rare": rare_term,
        "not_self": f"not {hot_term}",
        "early": "turn_idx:[0 TO 4]",
        "nothing": "zzznosuchterm",
    }
    flat = facet_query_search(tiny_index, hot_term, fqs).toPandas()
    packed = wand_facet_query_search(
        spark, sf_segments, hot_term, fqs
    ).toPandas()
    pd.testing.assert_frame_equal(flat, packed)


def test_facet_query_rejects_phrase_and_empty(spark, tiny_index, sf_segments):
    with pytest.raises(ValueError, match="at least one"):
        facet_query_search(tiny_index, "w0000", {})
    with pytest.raises(ValueError, match="phrase"):
        wand_facet_query_search(
            spark, sf_segments, "w0000", {"p": '"w0000 w0001"'}
        )
    with pytest.raises(ValueError, match="term clause for field 'role'"):
        wand_facet_query_search(spark, sf_segments, "w0000", {"r": "role:user"})


def test_stats_facet_flat_matches_brute(
    tiny_index, tiny_corpus, tiny_corpus_pd, hot_term
):
    got = stats_facet_search(
        tiny_index, hot_term,
        tiny_corpus.select("doc_id", "turn_idx", "role"),
        "turn_idx", "role",
    ).toPandas()
    main = execute_query(tiny_index, hot_term, k=10**6).toPandas()["doc_id"]
    j = tiny_corpus_pd.set_index("doc_id").loc[main, ["turn_idx", "role"]]
    want = (
        j.groupby("role")["turn_idx"]
        .agg(["count", "min", "max", "sum", "mean", "std"])
        .sort_index()
    )
    assert list(got["role"]) == list(want.index)
    assert list(got["cnt"]) == list(want["count"])
    assert list(got["min_v"]) == list(want["min"])
    assert list(got["max_v"]) == list(want["max"])
    assert list(got["sum_v"]) == list(want["sum"])
    np.testing.assert_allclose(got["mean_v"], want["mean"], atol=1e-5)
    np.testing.assert_allclose(got["stddev_v"], want["std"], atol=1e-5)


def test_stats_facet_packed_matches_flat(
    spark, tiny_index, tiny_corpus, sf_segments, hot_term
):
    for q in [hot_term, f"{hot_term} or w0001", f"not {hot_term}"]:
        flat = stats_facet_search(
            tiny_index, q,
            tiny_corpus.select("doc_id", "turn_idx", "role"),
            "turn_idx", "role",
        ).toPandas()
        packed = wand_stats_facet_search(
            spark, sf_segments, q, "turn_idx", "role"
        ).toPandas()
        pd.testing.assert_frame_equal(flat, packed, check_dtype=False)


def test_stats_facet_single_doc_bucket_null_stddev(
    spark, tiny_index, tiny_corpus, sf_segments, rare_term
):
    """A 1-match bucket serves stddev NULL (not NaN) on BOTH tiers —
    the corrected sample formula is undefined at n=1."""
    flat = stats_facet_search(
        tiny_index, rare_term,
        tiny_corpus.select("doc_id", "turn_idx", "role"),
        "turn_idx", "role",
    ).toPandas()
    packed = wand_stats_facet_search(
        spark, sf_segments, rare_term, "turn_idx", "role"
    ).toPandas()
    assert len(flat) == 1 and flat["cnt"].iloc[0] == 1
    assert pd.isna(flat["stddev_v"].iloc[0])
    pd.testing.assert_frame_equal(flat, packed, check_dtype=False)


# ---- stats.percentiles ------------------------------------------------

from solrplugins_spark.index.segments import wand_stats_percentiles_search
from solrplugins_spark.query.components import stats_percentiles_search


def test_percentiles_flat_matches_brute(
    tiny_index, tiny_corpus, tiny_corpus_pd, hot_term
):
    import math

    pcts = [0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
    got = stats_percentiles_search(
        tiny_index, hot_term,
        tiny_corpus.select("doc_id", "turn_idx"), "turn_idx", pcts,
    ).toPandas()
    vals = sorted(_matched_vals(tiny_index, tiny_corpus_pd, hot_term))
    want = {p: vals[math.ceil(p * len(vals)) - 1] for p in pcts}
    assert list(got["pct"]) == sorted(pcts)
    assert {p: v for p, v in zip(got["pct"], got["value"])} == want
    # p=1.0 is the max by the k-th-smallest rule
    assert got[got["pct"] == 1.0]["value"].iloc[0] == max(vals)


def test_percentiles_packed_matches_flat(
    spark, tiny_index, tiny_corpus, comp_segments, hot_term
):
    for q in [hot_term, f"{hot_term} or w0001", f"not {hot_term}"]:
        flat = stats_percentiles_search(
            tiny_index, q,
            tiny_corpus.select("doc_id", "turn_idx"), "turn_idx",
            [0.25, 0.5, 0.75],
        ).toPandas()
        packed = wand_stats_percentiles_search(
            spark, comp_segments, q, "turn_idx", [0.25, 0.5, 0.75]
        ).toPandas()
        pd.testing.assert_frame_equal(flat, packed, check_dtype=False)


def test_percentiles_validate_range(tiny_index, tiny_corpus, hot_term):
    with pytest.raises(ValueError, match="percentiles must be"):
        stats_percentiles_search(
            tiny_index, hot_term,
            tiny_corpus.select("doc_id", "turn_idx"), "turn_idx", [0.0],
        )
    with pytest.raises(ValueError, match="percentiles must be"):
        stats_percentiles_search(
            tiny_index, hot_term,
            tiny_corpus.select("doc_id", "turn_idx"), "turn_idx", [1.5],
        )
