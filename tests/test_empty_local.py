"""r07: empty query results must be LocalRelations, not RDD-backed
frames — ``spark.createDataFrame([], schema)`` plans a LogicalRDD
whose every ``collect()`` schedules one Spark job (~0.3 s of pure
scheduling at the bench shape, measured inside the frozen bench's
``wand_rerank`` component, whose rerank query matches no base doc).
``empty_df`` builds the same schema as ``LocalRelation <empty>``,
which collects driver-side with zero jobs."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from conftest import count_jobs, tier

from solrplugins_spark.index import segments as S
from solrplugins_spark.index.builder import build_index, mint_doc_ids
from solrplugins_spark.session import empty_df


@pytest.mark.parametrize(
    "schema",
    [
        "doc_id long, score double",
        "doc_id bigint, text string, role string",
        "term string, tf long, df long, score double, raw_weight double",
    ],
)
def test_empty_df_schema_and_zero_jobs(spark, schema):
    old = spark.createDataFrame([], schema)
    new = empty_df(spark, schema)
    assert new.schema == old.schema
    assert new.collect() == []
    assert "LocalRelation" in new._jdf.queryExecution().optimizedPlan().toString()
    assert count_jobs(spark, lambda: empty_df(spark, schema).collect(), "ed0") == 0


@pytest.fixture(scope="module")
def eseg(spark, tmp_path_factory):
    from solrplugins_spark.corpus import transcripts

    docs = mint_doc_ids(transcripts(spark, 2000, 20, partitions=4)).persist()
    docs.count()
    idx = build_index(docs, positions=True).persist()
    out = tmp_path_factory.mktemp("empty_local") / "idx"
    return S.build_segments(
        idx, str(out), seg_size=512, groups=2,
        string_cols=["role"], store_cols=["text"], value_cols=["turn_idx"],
    )


def test_empty_result_surfaces_zero_jobs(spark, eseg):
    # a term absent from the corpus: the search is empty end-to-end
    df = S.wand_search(spark, eseg, [("xxnosuchtermxx", 1.0)], k=10)
    assert df.collect() == []
    assert count_jobs(
        spark,
        lambda: S.wand_search(spark, eseg, [("xxnosuchtermxx", 1.0)], k=10).collect(),
        "ed1",
    ) == 0

    # the bench's rerank shape: pass-2 query matches none of the
    # allowlist, so scores_for_ids is empty — must not schedule a job
    base = S.wand_boolean_search(spark, eseg, "zephyrblade or w0003", k=30).collect()
    assert base
    ids = [int(r["doc_id"]) for r in base]
    rr = S.wand_scores_for_ids(spark, eseg, "xxnosuchtermxx", ids)
    assert rr.collect() == []
    assert count_jobs(
        spark,
        lambda: S.wand_scores_for_ids(spark, eseg, "xxnosuchtermxx", ids).collect(),
        "ed2",
    ) == 0

    # rerank end-to-end over the empty pass 2: base order survives,
    # weights contribute zero, and the call schedules no job at all
    top = S.wand_rerank_search(
        spark, eseg, "zephyrblade or w0003", "xxnosuchtermxx",
        k=10, rerank_docs=30, weight=2.0,
    ).collect()
    exp = S.wand_boolean_search(spark, eseg, "zephyrblade or w0003", k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in top] == [
        (r["doc_id"], r["score"]) for r in exp
    ]


def test_empty_df_matches_old_after_union(spark):
    # empty frames get unioned with real pages in the handlers — the
    # LocalRelation must unionByName cleanly with an Arrow local frame
    pdf = pd.DataFrame(
        {"doc_id": np.arange(3, dtype=np.int64), "score": [1.0, 2.0, 3.0]}
    )
    real = spark.createDataFrame(pdf, schema="doc_id long, score double")
    both = empty_df(spark, "doc_id long, score double").unionByName(real)
    assert sorted(r["doc_id"] for r in both.collect()) == [0, 1, 2]


def test_known_empty_answer_stays_driver_side_on_both_tiers(spark, eseg, monkeypatch):
    """An all-unknown-term expansion is answered before any frame is
    read, as a driver-side Arrow table on either tier — so the /mlt
    tail over it (seed exclusion, re-top-k) schedules no Spark job."""
    for budget in (None, 0):
        tier(monkeypatch, budget)
        top = S._serve(
            spark, eseg, S._Terms.of([("xxnosuchtermxx", 1.0)]),
            S._topk_collector(10, 5),
        )
        assert isinstance(top, pa.Table) and top.num_rows == 0


def test_local_relation_fallback_warns_once(spark, monkeypatch):
    import warnings

    import pyarrow as pa

    from solrplugins_spark import session

    real = type(spark).createDataFrame

    def no_arrow_tables(self, data, *args, **kwargs):
        if isinstance(data, pa.Table):
            raise TypeError("no Arrow-table path")
        return real(self, data, *args, **kwargs)

    monkeypatch.setattr(type(spark), "createDataFrame", no_arrow_tables)
    monkeypatch.setattr(session, "_WARNED", set())
    # a held answer crosses into the JVM on its first Spark use
    df = empty_df(spark, "doc_id long, score double")
    with pytest.warns(RuntimeWarning, match="Arrow-table"):
        df._jdf
    assert df.collect() == []
    assert df.orderBy("doc_id").collect() == []
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        empty_df(spark, "doc_id long, score double")._jdf  # warned once already
