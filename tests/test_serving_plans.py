"""Plan-shape contracts for the r05 serving components — the claims
the docstrings make about scale must be visible in the physical plan
or the Spark job counter, not just prose:

- collapse / grouping merge their vocab-bounded partials through a
  BROADCAST dictionary join (never a sort-merge join, never a
  nested-loop), and flat collapse never plans a Window over the
  match set;
- packed rerank stays at THREE bounded jobs (base top-N fan-out,
  allowlist second pass, and the broadcast build of the N-row local
  base frame) — the packed /uf handler's budget;
- packed elevation stays within a bounded-crossing budget of 4 jobs
  (organic fan-out, allowlist scores, and the broadcast builds of
  the two tiny local frames) — every job k/|pins|-row bounded.
"""

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from solrplugins_spark.index.segments import (
    build_segments,
    wand_collapse_search,
    wand_group_search,
    wand_rerank_search,
)
from solrplugins_spark.query.collapse import collapse_search
from solrplugins_spark.query.elevation import wand_elevation_search


@pytest.fixture(scope="module")
def plan_segments(tiny_index, tmp_path_factory):
    out = tmp_path_factory.mktemp("servplans") / "idx"
    return build_segments(
        tiny_index, str(out), seg_size=128, groups=2, string_cols=["tool"]
    )


@pytest.fixture(scope="module")
def hot_query(tiny_index):
    rows = tiny_index.terms.orderBy(F.desc("df"), F.asc("term")).limit(2).collect()
    return f"{rows[0]['term']} or {rows[1]['term']}"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _tier_off():
    """Force the distributed path (r07 local tier finalizes the
    facet/collapse/stats tails driver-side, so plan-shape asserts on
    the Spark tail need the tier disabled)."""
    import contextlib
    import os

    @contextlib.contextmanager
    def ctx():
        prev = os.environ.get("SOLRPLUGINS_LOCAL_TIER_MAX_BYTES")
        os.environ["SOLRPLUGINS_LOCAL_TIER_MAX_BYTES"] = "0"
        try:
            yield
        finally:
            # restore an externally configured budget, if any
            if prev is None:
                del os.environ["SOLRPLUGINS_LOCAL_TIER_MAX_BYTES"]
            else:
                os.environ["SOLRPLUGINS_LOCAL_TIER_MAX_BYTES"] = prev

    return ctx()


def test_collapse_dict_join_is_broadcast(spark, plan_segments, hot_query):
    # local tier: the whole tail is driver-side — a bare local relation
    local = _plan(
        wand_collapse_search(spark, plan_segments, hot_query, "tool", k=10)
    )
    assert "LocalTableScan" in local and "Join" not in local
    with _tier_off():
        plan = _plan(
            wand_collapse_search(spark, plan_segments, hot_query, "tool", k=10)
        )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_grouping_dict_join_is_broadcast(spark, plan_segments, hot_query):
    # local tier: the whole tail is driver-side — a bare local relation
    local = _plan(
        wand_group_search(
            spark, plan_segments, hot_query, "tool", k_groups=4, group_limit=2
        )
    )
    assert "LocalTableScan" in local and "Join" not in local
    with _tier_off():
        plan = _plan(
            wand_group_search(
                spark, plan_segments, hot_query, "tool",
                k_groups=4, group_limit=2,
            )
        )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_flat_collapse_has_no_window(tiny_index, tiny_corpus, hot_query):
    plan = _plan(
        collapse_search(
            tiny_index, hot_query, tiny_corpus.select("doc_id", "tool"), "tool", k=10
        )
    )
    assert "Window" not in plan, "collapse must be a max_by agg, not a window"
    assert "max_by" in plan


def test_packed_rerank_is_two_jobs(spark, plan_segments, hot_query, tiny_index):
    rr_term = (
        tiny_index.terms.orderBy(F.desc("df"), F.asc("term"))
        .limit(3)
        .collect()[2]["term"]
    )
    n = count_jobs(
        spark,
        group="rerank_jobs",
        fn=lambda: wand_rerank_search(
            spark, plan_segments, hot_query, rr_term, k=10, rerank_docs=20
        ).collect(),
    )
    # pass 1 (base top-N) + pass 2 (allowlist) + the broadcast build
    # of the N-row local base frame — the packed /uf handler's budget
    assert n <= 3, f"packed rerank exceeded 3 bounded jobs: {n}"


def test_packed_elevation_bounded_jobs(spark, plan_segments, hot_query):
    n = count_jobs(
        spark,
        group="elev_jobs",
        fn=lambda: wand_elevation_search(
            spark, plan_segments, hot_query, [399, 7], k=10
        ).collect(),
    )
    # organic fan-out + allowlist scores + the broadcast builds of the
    # two tiny local frames (pins, ranked page) — all k/|pins|-bounded
    assert n <= 4, f"packed elevation exceeded the bounded-crossing budget: {n}"


# ---- r06 components: facet.query / stats.facet / sloppy phrase --------

from solrplugins_spark.index.segments import (
    wand_facet_query_search,
    wand_phrase_search,
    wand_stats_facet_search,
)


@pytest.fixture(scope="module")
def sfp_segments(tiny_index, tmp_path_factory):
    out = tmp_path_factory.mktemp("servplans_sf") / "idx"
    return build_segments(
        tiny_index, str(out), seg_size=128, groups=2,
        string_cols=["role"], value_cols=["turn_idx"],
    )


def test_packed_facet_query_one_job(spark, sfp_segments, hot_query):
    """All facet.query subqueries evaluate inside the main tree's ONE
    per-segment pass — one postings fetch, one Spark job on the
    distributed path; the local tier finalizes driver-side (r07),
    zero jobs."""
    fq = {"a": hot_query.split(" or ")[0], "r": "turn_idx:[0 TO 5]"}
    n = count_jobs(
        spark,
        group="fq_jobs_local",
        fn=lambda: wand_facet_query_search(
            spark, sfp_segments, hot_query, fq
        ).collect(),
    )
    assert n == 0, f"local-tier facet.query took {n} jobs, expected 0"
    with _tier_off():
        n = count_jobs(
            spark,
            group="fq_jobs",
            fn=lambda: wand_facet_query_search(
                spark, sfp_segments, hot_query, fq
            ).collect(),
        )
    assert n == 1, f"packed facet.query took {n} jobs, expected 1"


def test_packed_stats_facet_one_job_and_broadcast(spark, sfp_segments, hot_query):
    # local tier: driver-side moment merge — local relation, no jobs
    local_df = wand_stats_facet_search(
        spark, sfp_segments, hot_query, "turn_idx", "role"
    )
    assert "LocalTableScan" in _plan(local_df) and "Join" not in _plan(local_df)
    n = count_jobs(spark, lambda: local_df.collect(), "sfq_jobs_local")
    assert n == 0, f"local-tier stats.facet took {n} jobs, expected 0"
    with _tier_off():
        df = wand_stats_facet_search(
            spark, sfp_segments, hot_query, "turn_idx", "role"
        )
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        n = count_jobs(spark, lambda: df.collect(), "sfq_jobs")
    assert n <= 2, f"packed stats.facet took {n} jobs"


@pytest.fixture(scope="module")
def posplan_index(tiny_corpus):
    from solrplugins_spark.index.builder import build_index

    return build_index(tiny_corpus, positions=True).persist()


@pytest.fixture(scope="module")
def posplan_segments(posplan_index, tmp_path_factory):
    out = tmp_path_factory.mktemp("servplans_pos") / "idx"
    return build_segments(posplan_index, str(out), seg_size=128, groups=2)


def test_flat_sloppy_phrase_no_python_udf(posplan_index):
    """The greedy-chain evaluation is JVM higher-order expressions —
    no Python UDF, no cartesian product in the executed plan."""
    from solrplugins_spark.query.compiler import execute_query

    df = execute_query(posplan_index, '"w0000 w0001"~2', k=10)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_packed_sloppy_phrase_one_job(spark, posplan_segments):
    n = count_jobs(
        spark,
        group="slop_jobs",
        fn=lambda: wand_phrase_search(
            spark, posplan_segments, ["w0000", "w0001"], k=10, slop=2
        ).collect(),
    )
    # r07 local tier: a byte-bounded sloppy phrase finalizes driver-side
    # and schedules ZERO jobs; the distributed fallback stays one job
    assert n <= 1, f"packed sloppy phrase took {n} jobs, expected <=1"
