"""Plan-shape contracts for the serving components — the claims the
docstrings make about scale must be visible in the physical plan or
the Spark job counter, not just prose:

- every packed surface answers a request in ONE Spark job on the
  Spark path (the kernels' stage with its merge, then one collect)
  and none on the local tier, and its answer is a local relation
  (LocalTableScan) that collects with no further job;
- flat collapse never plans a Window over the match set;
- packed rerank takes TWO bounded jobs on the Spark path (base top-N
  fan-out and the allowlist second pass);
- packed elevation stays within a bounded-crossing budget of 4 jobs
  (organic fan-out, allowlist scores, and the broadcast builds of
  the two tiny local frames) — every job k/|pins|-row bounded.
"""

import pytest
from conftest import count_jobs, tier
from pyspark.sql import functions as F

from solrplugins_spark.index import segments as S
from solrplugins_spark.index.segments import build_segments, wand_rerank_search
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


def _answer(spark, fn, group: str):
    """(answer, Spark jobs its request scheduled): the request runs
    when the surface is called, so the count wraps the call."""
    out = {}
    n = count_jobs(spark, lambda: out.update(df=fn()), group)
    return out["df"], n


def _local_answer(spark, df, group: str) -> None:
    """``df`` is a local relation: no scan, no join, and collecting it
    schedules no job."""
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "Scan parquet" not in plan and "Join" not in plan, plan
    assert count_jobs(spark, df.collect, group) == 0


@pytest.fixture(scope="module")
def every_segments(tiny_corpus, tmp_path_factory):
    """One packed index every surface can serve: positions, two
    ordinal columns and a numeric one."""
    from solrplugins_spark.index.builder import build_index

    out = tmp_path_factory.mktemp("servplans_all") / "idx"
    return build_segments(
        build_index(tiny_corpus, positions=True), str(out), seg_size=128,
        groups=2, string_cols=["tool", "role"], value_cols=["turn_idx"],
    )


SURFACES = {
    "search": lambda sp, si, q, t: S.wand_search(sp, si, [(t[0], 1.0), (t[1], 0.5)], k=10),
    "search_mm2": lambda sp, si, q, t: S.wand_search(
        sp, si, [(t[0], 1.0), (t[1], 1.0)], k=10, min_should_match=2),
    "search_cursor": lambda sp, si, q, t: S.wand_search(
        sp, si, [(t[0], 1.0)], k=10, after=(0.5, 10)),
    "search_multi": lambda sp, si, q, t: S.wand_search_multi(sp, [si], [(t[0], 1.0)], k=10),
    "phrase": lambda sp, si, q, t: S.wand_phrase_search(sp, si, t, k=10),
    "phrase_slop": lambda sp, si, q, t: S.wand_phrase_search(sp, si, t, k=10, slop=2),
    "phrase_multi": lambda sp, si, q, t: S.wand_phrase_search_multi(sp, [si], t, k=10),
    "boolean": lambda sp, si, q, t: S.wand_boolean_search(sp, si, q, k=10),
    "boosted": lambda sp, si, q, t: S.wand_boolean_boosted_search(
        sp, si, q, [(t[1], 0.5)], k=10),
    "scores_for_ids": lambda sp, si, q, t: S.wand_scores_for_ids(sp, si, q, [1, 2, 3, 50]),
    "facet": lambda sp, si, q, t: S.wand_facet_search(sp, si, q, "tool"),
    "collapse": lambda sp, si, q, t: S.wand_collapse_search(sp, si, q, "tool", k=10),
    "range": lambda sp, si, q, t: S.wand_facet_range_search(sp, si, q, "turn_idx", 0, 20, 5),
    "stats": lambda sp, si, q, t: S.wand_stats_search(sp, si, q, "turn_idx"),
    "facet_query": lambda sp, si, q, t: S.wand_facet_query_search(
        sp, si, q, {"a": t[0], "r": "turn_idx:[0 TO 5]"}),
    "stats_facet": lambda sp, si, q, t: S.wand_stats_facet_search(
        sp, si, q, "turn_idx", "role"),
    "percentiles": lambda sp, si, q, t: S.wand_stats_percentiles_search(
        sp, si, q, "turn_idx", [0.5, 0.9]),
    "group": lambda sp, si, q, t: S.wand_group_search(
        sp, si, q, "tool", k_groups=4, group_limit=2),
}


@pytest.mark.parametrize("name", sorted(SURFACES))
def test_packed_surface_is_one_job_and_a_local_answer(
    spark, every_segments, hot_query, monkeypatch, name
):
    """Zero jobs on the local tier; on the Spark path (budget 0, the
    single-stage strategy on this small index) exactly ONE job — the
    kernels' stage with its merge and one collect. Either way the
    answer is a local relation."""
    terms = hot_query.split(" or ")

    def call():
        return SURFACES[name](spark, every_segments, hot_query, terms)

    df, n = _answer(spark, call, f"one-local-{name}")
    assert n == 0, f"{name}: local tier took {n} jobs"
    _local_answer(spark, df, f"one-local-{name}-collect")
    tier(monkeypatch, 0)
    df, n = _answer(spark, call, f"one-{name}")
    assert n == 1, f"{name}: Spark path took {n} jobs, expected 1"
    _local_answer(spark, df, f"one-{name}-collect")


def test_flat_collapse_has_no_window(tiny_index, tiny_corpus, hot_query):
    plan = _plan(
        collapse_search(
            tiny_index, hot_query, tiny_corpus.select("doc_id", "tool"), "tool", k=10
        )
    )
    assert "Window" not in plan, "collapse must be a max_by agg, not a window"
    assert "max_by" in plan


def test_packed_rerank_is_two_jobs(
    spark, plan_segments, hot_query, tiny_index, monkeypatch
):
    rr_term = (
        tiny_index.terms.orderBy(F.desc("df"), F.asc("term"))
        .limit(3)
        .collect()[2]["term"]
    )

    def run(group):
        return count_jobs(
            spark,
            group=group,
            fn=lambda: wand_rerank_search(
                spark, plan_segments, hot_query, rr_term, k=10, rerank_docs=20
            ).collect(),
        )

    assert run("rerank_jobs_local") == 0
    # Spark path: pass 1 (base top-N) + pass 2 (allowlist); the combine
    # is driver-side
    tier(monkeypatch, 0)
    n = run("rerank_jobs")
    assert n == 2, f"packed rerank took {n} jobs, expected 2"


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
)


@pytest.fixture(scope="module")
def sfp_segments(tiny_index, tmp_path_factory):
    out = tmp_path_factory.mktemp("servplans_sf") / "idx"
    return build_segments(
        tiny_index, str(out), seg_size=128, groups=2,
        string_cols=["role"], value_cols=["turn_idx"],
    )


def test_packed_facet_query_one_job(spark, sfp_segments, hot_query, monkeypatch):
    """All facet.query subqueries evaluate inside the main tree's ONE
    per-segment pass — one postings fetch, one Spark job on the
    Spark path; zero jobs on the local tier."""
    fq = {"a": hot_query.split(" or ")[0], "r": "turn_idx:[0 TO 5]"}
    n = count_jobs(
        spark,
        group="fq_jobs_local",
        fn=lambda: wand_facet_query_search(
            spark, sfp_segments, hot_query, fq
        ).collect(),
    )
    assert n == 0, f"local-tier facet.query took {n} jobs, expected 0"
    tier(monkeypatch, 0)
    n = count_jobs(
        spark,
        group="fq_jobs",
        fn=lambda: wand_facet_query_search(
            spark, sfp_segments, hot_query, fq
        ).collect(),
    )
    assert n == 1, f"packed facet.query took {n} jobs, expected 1"


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


def test_packed_sloppy_phrase_one_job(spark, posplan_segments, monkeypatch):
    def run(group):
        return count_jobs(
            spark,
            group=group,
            fn=lambda: wand_phrase_search(
                spark, posplan_segments, ["w0000", "w0001"], k=10, slop=2
            ).collect(),
        )

    # a byte-bounded sloppy phrase schedules ZERO jobs on the local
    # tier; the Spark path is one job
    assert run("slop_jobs_local") == 0
    tier(monkeypatch, 0)
    n = run("slop_jobs")
    assert n == 1, f"packed sloppy phrase took {n} jobs, expected 1"
