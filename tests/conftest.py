import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from solrplugins_spark.session import get_spark  # noqa: E402
from solrplugins_spark.corpus import transcripts_pandas  # noqa: E402
from solrplugins_spark.index import segments  # noqa: E402
from solrplugins_spark.index.builder import build_index  # noqa: E402


def count_jobs(spark, fn, group: str) -> int:
    """Spark jobs that ``fn()`` schedules, counted through a job group
    — the suite's one ``statusTracker`` helper."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def tier(monkeypatch, budget: int | None, exchange: bool = False) -> None:
    """Serve packed requests under a local-tier byte ``budget`` for the
    rest of the test: None is the default budget, 0 turns the local
    tier off (every request takes a Spark strategy). ``exchange``
    forces the exchange strategy wherever a Spark strategy serves (no
    single stage). ``monkeypatch`` restores both when the test ends —
    the suite's one serving-strategy switch."""
    if budget is None:
        monkeypatch.delenv("SOLRPLUGINS_LOCAL_TIER_MAX_BYTES", raising=False)
    else:
        monkeypatch.setenv("SOLRPLUGINS_LOCAL_TIER_MAX_BYTES", str(budget))
    if exchange:
        monkeypatch.setattr(segments, "SINGLE_STAGE_MAX_SEGMENTS", 0)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_corpus_pd() -> pd.DataFrame:
    """~400 turns, hand-checkable, with planted rare terms."""
    pdf = transcripts_pandas(n_turns=400)
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    return pdf


@pytest.fixture(scope="session")
def tiny_corpus(spark, tiny_corpus_pd):
    return spark.createDataFrame(tiny_corpus_pd).persist()


@pytest.fixture(scope="session")
def tiny_index(tiny_corpus):
    return build_index(tiny_corpus).persist()
