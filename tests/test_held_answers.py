"""Held answers: every bounded driver-side answer (``local_relation``)
stays on the driver as an Arrow table and crosses into the JVM only
when a Spark operation needs its rows.

A held answer must be indistinguishable from the eager relation the
same table builds (``session._eager``, the ``createDataFrame`` it runs
on its first Spark use): the same rows (NaN and null kept apart), the
same pandas frame, count, columns and schema, for every answer schema
the packed surfaces return, empty answers included. Spark operations
on it still work, concurrent first crossings build one relation, and
collecting it makes no py4j call at all.
"""

import math
import sys
import threading
import time
import warnings
from collections import Counter

import pandas as pd
import pytest
from conftest import tier
from py4j import protocol as proto
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from solrplugins_spark import session
from solrplugins_spark.analysis.tokenizer import tokenize_pandas
from solrplugins_spark.index import segments as S
from solrplugins_spark.index.builder import build_index
from solrplugins_spark.query.handlers import packed_feedback_handler, packed_mlt_handler
from solrplugins_spark.query.mlt import MLTParams
from solrplugins_spark.session import local_relation


def py4j_calls(fn) -> int:
    """Commands ``fn()`` sends through the py4j gateway, less the memory
    commands the garbage collector sends when it frees the proxies of
    JVM objects made before ``fn`` (they run at any allocation)."""
    client = SparkContext._gateway._gateway_client
    real, n = client.send_command, Counter()

    def counting(command, *args, **kwargs):
        if not command.startswith(proto.MEMORY_COMMAND_NAME):
            n["calls"] += 1
        return real(command, *args, **kwargs)

    client.send_command = counting
    try:
        fn()
    finally:
        client.send_command = real
    return n["calls"]


def _key(rows) -> list:
    """Rows as comparable tuples: NaN as a marker (NaN != NaN), every
    value with its Python type."""
    return [
        tuple(
            (type(v).__name__, "NaN" if isinstance(v, float) and math.isnan(v) else v)
            for v in r
        )
        for r in rows
    ]


@pytest.mark.parametrize("as_frame", [False, True])
def test_nan_stays_nan_and_none_is_null(spark, as_frame):
    """One rule for pandas and dict inputs, the flat engine's: NaN in a
    double column stays NaN, None is null; an integer column's missing
    values are null."""
    cols = {
        "doc_id": [1, 2, 3],
        "score": [0.5, float("nan"), None],
        "n": [1.0, None, float("nan")],
    }
    # a float64 column reads None as NaN: None survives in an object one
    data = pd.DataFrame({c: pd.Series(v, dtype=object) for c, v in cols.items()}
                        ) if as_frame else cols
    rows = local_relation(spark, data, "doc_id long, score double, n long").collect()
    assert [r["doc_id"] for r in rows] == [1, 2, 3]
    assert rows[0]["score"] == 0.5 and math.isnan(rows[1]["score"])
    assert rows[2]["score"] is None
    assert [r["n"] for r in rows] == [1, None, None]


@pytest.fixture(scope="module")
def hseg(spark, tiny_corpus, tmp_path_factory):
    """A packed index whose docstore holds a timestamp and a date."""
    docs = tiny_corpus.withColumn("day", F.to_date("ts"))
    out = tmp_path_factory.mktemp("held") / "idx"
    return S.build_segments(
        build_index(docs, positions=True), str(out), seg_size=64, groups=2,
        string_cols=["role"], value_cols=["turn_idx"],
        store_cols=["text", "role", "ts", "day"],
    )


@pytest.fixture(scope="module")
def one_doc_term(tiny_corpus_pd):
    df = Counter(t for toks in tokenize_pandas(tiny_corpus_pd["text"]) for t in set(toks))
    return sorted(t for t, c in df.items() if c == 1)[0]


def _answers(spark, seg, one):
    """Every answer schema a packed surface returns, each with rows and
    empty."""
    q, none = "w0003 or w0001", "xxnosuchtermxx"
    fq = {"t": "w0001", "early": "turn_idx:[0 TO 5]"}
    mlt = packed_mlt_handler(
        spark, seg, [5], MLTParams(min_doc_freq=1), k=5,
        facet_fields=["ts", "day", "role"],
    )
    mlt0 = packed_mlt_handler(
        spark, seg, [5], MLTParams(min_doc_freq=1), k=0, facet_fields=["ts", "day"],
    )
    out = {
        "topk": S.wand_search(spark, seg, [("w0003", 1.0), ("w0001", 0.5)], k=5),
        "topk_empty": S.wand_search(spark, seg, [(none, 1.0)], k=5),
        "facet": S.wand_facet_search(spark, seg, q, "role"),
        "facet_empty": S.wand_facet_search(spark, seg, none, "role"),
        "collapse": S.wand_collapse_search(spark, seg, q, "role", k=5),
        "collapse_empty": S.wand_collapse_search(spark, seg, none, "role", k=5),
        "range": S.wand_facet_range_search(spark, seg, q, "turn_idx", 0, 20, 5),
        "stats": S.wand_stats_search(spark, seg, q, "turn_idx"),
        "stats_one_doc": S.wand_stats_search(spark, seg, one, "turn_idx"),
        "stats_empty": S.wand_stats_search(spark, seg, none, "turn_idx"),
        "facet_query": S.wand_facet_query_search(spark, seg, q, fq),
        "stats_facet": S.wand_stats_facet_search(spark, seg, q, "turn_idx", "role"),
        "stats_facet_empty": S.wand_stats_facet_search(
            spark, seg, none, "turn_idx", "role"),
        "percentiles": S.wand_stats_percentiles_search(
            spark, seg, q, "turn_idx", [0.25, 0.5, 0.9]),
        "percentiles_empty": S.wand_stats_percentiles_search(
            spark, seg, none, "turn_idx", [0.5]),
        "group": S.wand_group_search(spark, seg, q, "role", k_groups=3, group_limit=2),
        "group_empty": S.wand_group_search(spark, seg, none, "role"),
        "mlt_terms": mlt["interesting_terms"],
        "mlt_terms_list": packed_mlt_handler(
            spark, seg, [5], MLTParams(min_doc_freq=1), k=5,
            interesting_terms_detail=False,
        )["interesting_terms"],
        "mlt_facet_ts": mlt["facet_ts"],
        "mlt_facet_day": mlt["facet_day"],
        "mlt_facet_role": mlt["facet_role"],
        "mlt_facet_ts_empty": mlt0["facet_ts"],
        "mlt_facet_day_empty": mlt0["facet_day"],
        "docstore": S.fetch_docs(spark, seg, [3, 1, 2]),
        "docstore_empty": S.fetch_docs(spark, seg, [10**9]),
    }
    return out


@pytest.fixture(scope="module")
def answers(spark, hseg, one_doc_term):
    return _answers(spark, hseg, one_doc_term)


def test_answers_cover_every_schema(answers):
    assert all(isinstance(a, session._Held) for a in answers.values())
    for name, a in answers.items():
        assert (a.count() == 0) == name.endswith("_empty"), name
    assert answers["stats_one_doc"].collect()[0]["stddev_v"] is None
    assert any(isinstance(f.dataType, TimestampType)
               for f in answers["mlt_facet_ts"].schema.fields)


def test_held_equals_eager(spark, answers):
    for name, held in answers.items():
        eager = session._eager(spark, held._table, held._struct)
        assert type(eager) is not session._Held
        assert _key(held.collect()) == _key(eager.collect()), name
        assert held.count() == eager.count(), name
        assert held.columns == eager.columns, name
        assert held.schema == eager.schema, name
        assert held.dtypes == eager.dtypes, name
        assert held.isEmpty() == eager.isEmpty(), name
        assert _key(held.take(2)) == _key(eager.take(2)), name
        assert _key([held.first()] if held.count() else []) == _key(eager.head(1)), name
        pd.testing.assert_frame_equal(held.toPandas(), eager.toPandas(), obj=name)
        assert held.toArrow().equals(eager.toArrow()), name
    with pytest.raises(Exception, match="IS_NEGATIVE"):
        held.take(-1)


def test_held_answer_reads_make_no_py4j_call(spark, answers):
    """Building an answer from a cached schema, then collect, count and
    toPandas, stay on the driver. A timestamp column's toPandas reads
    the session time zone, so it is left out of the last check."""
    for name, held in answers.items():
        fresh = []
        assert py4j_calls(lambda: fresh.append(
            local_relation(spark, held._table, held._struct))) == 0, name
        h = fresh[0]
        assert py4j_calls(h.collect) == 0, name
        assert py4j_calls(h.count) == 0, name
        assert py4j_calls(lambda: h.select(*h.columns).collect()) == 0, name
        if not any(isinstance(f.dataType, TimestampType) for f in h.schema.fields):
            assert py4j_calls(h.toPandas) == 0, name


def test_spark_operations_on_held_answers(spark, answers, tmp_path):
    for name, held in answers.items():
        eager = session._eager(spark, held._table, held._struct)
        cols = held.columns
        c0 = cols[0]
        assert _key(held.orderBy(*cols).collect()) == _key(eager.orderBy(*cols).collect()), name
        assert (held.filter(F.col(c0).isNotNull()).count()
                == eager.filter(F.col(c0).isNotNull()).count()), name
        assert (held.join(eager, on=c0).count()
                == eager.join(eager, on=c0).count()), name
        path = str(tmp_path / name)
        eager.write.parquet(path)
        both = spark.read.parquet(path).unionByName(held)
        assert both.count() == 2 * eager.count(), name


def test_select_of_names_stays_held(spark, answers):
    terms = answers["mlt_terms"]
    sub = terms.select("term", "score")
    assert isinstance(sub, session._Held) and sub.columns == ["term", "score"]
    eager = session._eager(spark, terms._table, terms._struct).select("term", "score")
    assert _key(sub.collect()) == _key(eager.collect())
    assert isinstance(terms.select(["term"]), session._Held)
    expr = terms.select(F.col("score") * 2)  # a Column crosses
    assert not isinstance(expr, session._Held) and expr.count() == terms.count()


def test_concurrent_first_spark_use_builds_one_relation(spark, monkeypatch):
    held = local_relation(spark, {"doc_id": [1, 2], "score": [0.5, 0.25]},
                          "doc_id long, score double")
    real, built = session._eager, []

    def slow_eager(*args):
        built.append(1)
        time.sleep(0.05)
        return real(*args)

    monkeypatch.setattr(session, "_eager", slow_eager)
    start, jdfs, errors = threading.Barrier(16), [], []

    def first_use():
        try:
            start.wait(timeout=30)
            jdfs.append(held._jdf)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=first_use) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert not errors and len(jdfs) == 16
    assert len(built) == 1
    assert all(j is jdfs[0] for j in jdfs)
    assert [tuple(r) for r in held.orderBy("score").collect()] == [(2, 0.25), (1, 0.5)]


def test_without_classic_layout_answers_are_eager(spark, monkeypatch):
    """A PySpark whose classic DataFrame constructor has another layout
    gets today's eager relation, with one warning per process."""

    class OtherLayout:
        def __init__(self, plan, session_):
            self._plan = plan

    monkeypatch.setattr(session, "_ClassicDataFrame", OtherLayout)
    monkeypatch.setattr(session, "_WARNED", set())
    data = {"doc_id": [1, 2], "score": [0.5, float("nan")]}
    with pytest.warns(RuntimeWarning, match="no classic DataFrame"):
        df = local_relation(spark, data, "doc_id long, score double")
    assert not isinstance(df, session._Held)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        again = local_relation(spark, data, "doc_id long, score double")
    assert _key(df.collect()) == _key(again.collect()) == _key([(1, 0.5), (2, float("nan"))])


@pytest.fixture(scope="module")
def served(spark, tiny_corpus_pd, hseg):
    """The calls perfbench/stream.py serves, over the held index."""
    text = tiny_corpus_pd["text"].iloc[7].lower().split()
    phrase = text[:2]
    bag = [("w0003", 1.0), ("w0001", 0.5), ("w0100", 2.0)]
    last = S.wand_search(spark, hseg, bag, k=10).collect()[-1]
    q = "w0003 or w0001"
    params = MLTParams(min_doc_freq=2, max_query_terms=20)
    return {
        "bag": lambda: S.wand_search(spark, hseg, bag, k=10),
        "cursor": lambda: S.wand_search(
            spark, hseg, bag, k=10, after=(float(last[1]), int(last[0]))),
        "phrase": lambda: S.wand_phrase_search(spark, hseg, phrase, k=10),
        "phrase_slop": lambda: S.wand_phrase_search(spark, hseg, phrase, k=10, slop=2),
        "rerank": lambda: S.wand_rerank_search(
            spark, hseg, q, "w0007", k=10, rerank_docs=30, weight=2.0),
        "boolean": lambda: S.wand_boolean_search(spark, hseg, "w0003 and not w0001", k=10),
        "mlt": lambda: packed_mlt_handler(spark, hseg, [5], params, k=10)["docs"],
        "uf": lambda: packed_feedback_handler(spark, hseg, "w0007", params, k=10)["docs"],
        "facet": lambda: S.wand_facet_search(spark, hseg, q, "role"),
        "collapse": lambda: S.wand_collapse_search(spark, hseg, q, "role", k=10),
        "range": lambda: S.wand_facet_range_search(spark, hseg, q, "turn_idx", 0, 20, 5),
        "stats": lambda: S.wand_stats_search(spark, hseg, q, "turn_idx"),
        "facet_query": lambda: S.wand_facet_query_search(
            spark, hseg, q, {"t": "w0003", "early": "turn_idx:[0 TO 5]"}),
        "stats_facet": lambda: S.wand_stats_facet_search(spark, hseg, q, "turn_idx", "role"),
    }


def test_local_tier_requests_make_no_py4j_call(spark, served, monkeypatch):
    """On the local tier at the default budget, a warm request and the
    collect of its answer never cross into the JVM: a stray Column
    expression or an eager relation fails this."""
    tier(monkeypatch, None)
    for name, call in served.items():
        assert call().collect() is not None  # warm: reader, schemas
        assert py4j_calls(lambda: call().collect()) == 0, name


def test_local_tier_requests_build_no_pandas_frame(spark, served, monkeypatch):
    """On the local tier, a warm request of every collector
    perfbench/stream.py serves reads, matches, merges and finishes in
    Arrow: no pandas frame is built and none is concatenated."""
    tier(monkeypatch, None)
    made = Counter()
    real_init, real_concat = pd.DataFrame.__init__, pd.concat

    def init(self, *args, **kwargs):
        made["DataFrame"] += 1
        real_init(self, *args, **kwargs)

    def concat(*args, **kwargs):
        made["concat"] += 1
        return real_concat(*args, **kwargs)

    names = ["bag", "cursor", "phrase", "rerank", "boolean", "facet", "collapse",
             "range", "stats", "facet_query", "stats_facet"]
    for name in names:
        served[name]().collect()  # warm: reader, schemas
        monkeypatch.setattr(pd.DataFrame, "__init__", init)
        monkeypatch.setattr(pd, "concat", concat)
        try:
            served[name]().collect()
        finally:
            monkeypatch.setattr(pd.DataFrame, "__init__", real_init)
            monkeypatch.setattr(pd, "concat", real_concat)
        assert not made, (name, dict(made))
