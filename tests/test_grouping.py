"""Result grouping (Solr group=true&group.limit=n, Grouping.java):
top-k groups ranked by their best doc, each with its top-n members.
Flat and packed must agree exactly; collapse must equal the n=1
special case; brute force pins the semantics."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from conftest import tier

from solrplugins_spark.index.segments import build_segments, wand_group_search
from solrplugins_spark.query.collapse import collapse_search, group_search
from solrplugins_spark.query.compiler import execute_query


@pytest.fixture(scope="module")
def grp_segments(tiny_index, tmp_path_factory):
    out = tmp_path_factory.mktemp("grouping") / "idx"
    return build_segments(
        tiny_index, str(out), seg_size=128, groups=2, string_cols=["tool"]
    )


@pytest.fixture(scope="module")
def hot_query(tiny_index):
    rows = tiny_index.terms.orderBy(F.desc("df"), F.asc("term")).limit(2).collect()
    return f"{rows[0]['term']} or {rows[1]['term']}"


def _brute(scored: pd.DataFrame, groups: pd.DataFrame, col, k_groups, n):
    j = scored.merge(groups, on="doc_id").sort_values(
        ["score", "doc_id"], ascending=[False, True], kind="stable"
    )
    j["pos"] = j.groupby(col).cumcount() + 1
    heads = j[j["pos"] == 1].head(k_groups).reset_index(drop=True)
    heads["grp_rank"] = heads.index + 1
    out = j.merge(heads[[col, "grp_rank"]], on=col)
    out = out[out["pos"] <= n].sort_values(["grp_rank", "pos"], kind="stable")
    return out[["grp_rank", col, "pos", "doc_id", "score"]].reset_index(drop=True)


def test_flat_grouping_matches_brute(tiny_index, tiny_corpus, tiny_corpus_pd, hot_query):
    got = group_search(
        tiny_index, hot_query, tiny_corpus.select("doc_id", "tool"), "tool",
        k_groups=4, group_limit=3,
    ).toPandas()
    scored = execute_query(tiny_index, hot_query, k=10**6).toPandas()
    want = _brute(scored, tiny_corpus_pd[["doc_id", "tool"]], "tool", 4, 3)
    got["grp_rank"] = got["grp_rank"].astype(int)
    got["pos"] = got["pos"].astype(int)
    want["grp_rank"] = want["grp_rank"].astype(int)
    want["pos"] = want["pos"].astype(int)
    pd.testing.assert_frame_equal(got, want)


def test_packed_grouping_matches_flat(spark, tiny_index, tiny_corpus, grp_segments, hot_query):
    flat = group_search(
        tiny_index, hot_query, tiny_corpus.select("doc_id", "tool"), "tool",
        k_groups=4, group_limit=3,
    ).toPandas()
    packed = wand_group_search(
        spark, grp_segments, hot_query, "tool", k_groups=4, group_limit=3
    ).toPandas()
    pd.testing.assert_frame_equal(
        packed.reset_index(drop=True), flat.reset_index(drop=True)
    )


def test_group_limit_one_equals_collapse(spark, tiny_index, tiny_corpus, hot_query):
    grp = group_search(
        tiny_index, hot_query, tiny_corpus.select("doc_id", "tool"), "tool",
        k_groups=10, group_limit=1,
    ).toPandas()
    col = collapse_search(
        tiny_index, hot_query, tiny_corpus.select("doc_id", "tool"), "tool", k=10
    ).toPandas()
    assert list(grp["doc_id"]) == list(col["doc_id"])
    assert list(grp["tool"]) == list(col["tool"])


def test_groups_ordered_by_head_and_members_within(spark, tiny_index, tiny_corpus, hot_query):
    got = group_search(
        tiny_index, hot_query, tiny_corpus.select("doc_id", "tool"), "tool",
        k_groups=4, group_limit=3,
    ).toPandas()
    heads = got[got["pos"] == 1].reset_index(drop=True)
    # heads descend in score (ties by doc_id asc)
    assert list(heads["grp_rank"]) == sorted(heads["grp_rank"])
    assert all(
        (heads["score"].iloc[i] > heads["score"].iloc[i + 1])
        or (
            heads["score"].iloc[i] == heads["score"].iloc[i + 1]
            and heads["doc_id"].iloc[i] < heads["doc_id"].iloc[i + 1]
        )
        for i in range(len(heads) - 1)
    )
    # members within a group descend too
    for _, g in got.groupby("tool"):
        s = list(g.sort_values("pos")["score"])
        assert s == sorted(s, reverse=True)


@pytest.mark.parametrize("budget", [None, "0"])
@pytest.mark.parametrize("group_limit", [0, -1])
def test_group_limit_below_one_is_rejected_on_both_tiers(
    spark, grp_segments, hot_query, monkeypatch, budget, group_limit
):
    # the local tier's driver-side tail and the Spark tail must refuse
    # the same input the same way (not IndexError on one tier only)
    tier(monkeypatch, budget)
    with pytest.raises(ValueError, match="group_limit"):
        wand_group_search(
            spark, grp_segments, hot_query, "tool", k_groups=4,
            group_limit=group_limit,
        )
