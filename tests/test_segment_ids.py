"""Segment ids of any size: the kernel input carries the generation as
its own ``gen`` column, so a segment id of 1,000,000 or more is never
read as a generation, and it never collides with a segment of another
generation in one kernel group. Ids like these come from update_docs
(new ids above the high-water mark) and from any index past 10^6
segments.

The fixtures hold the same 200 turns under different doc ids: SMALL
from 0, BIG from 64,000,000 (segments from 1,000,000 at seg_size=64),
and a two-generation list whose first generation holds segment
1,000,000 and whose second holds segment 0, beside UNION, the single
index over both generations' docs."""

import numpy as np
import pytest
from conftest import tier

from solrplugins_spark.corpus import transcripts_pandas
from solrplugins_spark.index import segments as S
from solrplugins_spark.index.builder import build_index

BIG = 64_000_000
SEG = 64
Q = "w0003 or w0001"
BAG = [("w0003", 1.0), ("w0001", 0.5)]


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    base = transcripts_pandas(n_turns=200).sort_values(
        ["conv_id", "turn_idx"], kind="stable"
    ).reset_index(drop=True)
    root = tmp_path_factory.mktemp("segment_ids")
    n = len(base)

    def packed(name, ids, rows=slice(None)):
        pdf = base.iloc[rows].assign(doc_id=np.asarray(ids, np.int64))
        idx = build_index(spark.createDataFrame(pdf))
        return S.build_segments(
            idx, str(root / name), seg_size=SEG, groups=2, string_cols=["role"]
        )

    half = n // 2
    return {
        "half": half,
        "small": packed("small", np.arange(n)),
        "big": packed("big", BIG + np.arange(n)),
        "gens": [
            packed("g0", BIG + np.arange(half), slice(0, half)),
            packed("g1", np.arange(n - half), slice(half, n)),
        ],
        "union": packed(
            "union", np.concatenate([BIG + np.arange(half), np.arange(n - half)])
        ),
    }


def _answers(spark, si) -> dict:
    return {
        "facet": [tuple(r) for r in S.wand_facet_search(spark, si, Q, "role").collect()],
        "collapse": [
            tuple(r) for r in S.wand_collapse_search(spark, si, Q, "role", k=10).collect()
        ],
        "bag": [tuple(r) for r in S.wand_search(spark, si, BAG, k=1000).collect()],
    }


def _shifted(ans: dict, new_id) -> dict:
    """``ans`` of the SMALL index under other doc ids (``new_id``: old
    id -> new id), rows re-sorted like the surface sorts them."""
    return {
        "facet": ans["facet"],
        "collapse": sorted(
            [(v, new_id(d), s) for v, d, s in ans["collapse"]],
            key=lambda r: (-r[2], r[1]),
        ),
        "bag": sorted(
            [(new_id(d), s) for d, s in ans["bag"]], key=lambda r: (-r[1], r[0])
        ),
    }


@pytest.mark.parametrize("strategy", ["local", "single_stage", "exchange"])
def test_segment_ids_past_a_million(spark, indexes, monkeypatch, strategy):
    tier(monkeypatch, None if strategy == "local" else 0,
         exchange=strategy == "exchange")
    small = _answers(spark, indexes["small"])
    assert all(small.values()), "an empty answer defeats the comparison"
    # one index: every id moves by BIG, so every order is kept
    assert _answers(spark, indexes["big"]) == _shifted(small, lambda d: d + BIG)
    # two generations, segment 1,000,000 beside segment 0: the answers
    # of the single index over the same docs
    union = _answers(spark, indexes["union"])
    assert _answers(spark, indexes["gens"]) == union
    half = indexes["half"]
    want = _shifted(small, lambda d: d + BIG if d < half else d - half)
    assert union["facet"] == want["facet"]
    # tied scores may order differently under the non-monotone id map
    assert sorted(union["bag"]) == sorted(want["bag"])
