"""Driver-local serving tier: every packed surface must return
row-identical results whether the byte-budgeted local tier engages
(default) or the Spark path runs (SOLRPLUGINS_LOCAL_TIER_MAX_BYTES=0).
Both run the same kernels, merges and finishes; only the kernel inputs
are read two ways (pyarrow vs a Spark scan), so any drift is a
frame-assembly bug."""

import pytest
from conftest import count_jobs, tier

from solrplugins_spark.index import segments as S
from solrplugins_spark.index.builder import build_index, mint_doc_ids
from solrplugins_spark.query.handlers import packed_mlt_handler


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


def _both(fn, monkeypatch):
    """Rows with the local tier on (default budget) vs forced off."""
    tier(monkeypatch, None)
    local = [tuple(r) for r in fn().collect()]
    tier(monkeypatch, 0)
    dist = [tuple(r) for r in fn().collect()]
    tier(monkeypatch, None)
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
def test_local_equals_distributed(spark, lt, name, monkeypatch):
    local, dist = _both(lambda: CASES[name](spark, lt), monkeypatch)
    assert local == dist, name
    assert local, f"{name}: empty result frame defeats the comparison"


def test_cursor_page_local_equals_distributed(spark, lt, monkeypatch):
    p1 = S.wand_search(
        spark, lt["seg"], [("w0000", 1.0), ("zephyrblade", 2.0)], k=10
    ).collect()
    cur = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
    local, dist = _both(
        lambda: S.wand_search(
            spark, lt["seg"], [("w0000", 1.0), ("zephyrblade", 2.0)],
            k=10, after=cur,
        ),
        monkeypatch,
    )
    assert local == dist and local


def test_tombstones_local_equals_distributed(spark, lt, tmp_path, monkeypatch):
    import shutil

    path = str(tmp_path / "delidx")
    shutil.copytree(lt["seg"].path, path)
    seg = S.SegmentIndex.load(path)
    top = S.wand_search(spark, seg, [("w0003", 1.0)], k=5).collect()
    S.delete_docs(path, [int(r["doc_id"]) for r in top[:3]])
    local, dist = _both(
        lambda: S.wand_search(spark, seg, [("w0003", 1.0)], k=10), monkeypatch
    )
    assert local == dist and local
    deleted = {int(r["doc_id"]) for r in top[:3]}
    assert not deleted & {d for d, _ in local}


def test_serving_plan_decision_table(lt, monkeypatch):
    """The one serving decision, row by row: the local tier takes an
    estimate up to and including the budget, never at budget 0 and
    never without a sidecar; a Spark request goes single-stage unless
    its estimate exceeds one core's bytes or it spans more than
    SINGLE_STAGE_MAX_SEGMENTS segments."""
    seg = lt["seg"]
    pairs = [(seg, ["w0003"])]

    def plan(**kw):
        return S._serving_plan(pairs, False, **kw)

    tier(monkeypatch, None)
    est = S._local_estimate(pairs, False)
    assert est is not None and 0 < est <= S.ONE_CORE_BYTES
    assert plan() == S._Plan("local", est)  # the default budget
    tier(monkeypatch, est)
    assert plan() == S._Plan("local", est)  # est == budget: the <= boundary
    tier(monkeypatch, est - 1)
    assert plan() == S._Plan("single_stage", est)
    tier(monkeypatch, 0)
    assert plan() == S._Plan("single_stage", est)  # 0 never goes local
    tier(monkeypatch, None)
    assert plan(stats_list=[None]) == S._Plan("single_stage", None)  # no sidecar

    tier(monkeypatch, 0)
    bound = S.ONE_CORE_BYTES  # the single-stage byte bound
    for big, strategy in ((bound, "single_stage"), (bound + 1, "exchange")):
        monkeypatch.setattr(S, "_local_estimate", lambda *a, big=big: big)
        assert plan() == S._Plan(strategy, big)
    monkeypatch.setattr(S, "_local_estimate", lambda *a: bound + 1)
    tier(monkeypatch, None)
    assert plan() == S._Plan("exchange", bound + 1)  # over the default budget
    monkeypatch.undo()

    tier(monkeypatch, 0)
    n = seg.n_segments
    for limit, strategy in ((n, "single_stage"), (n - 1, "exchange")):
        monkeypatch.setattr(S, "SINGLE_STAGE_MAX_SEGMENTS", limit)
        assert plan() == S._Plan(strategy, est)
    tier(monkeypatch, 0, exchange=True)
    assert plan() == S._Plan("exchange", est)


def test_stats_single_doc_stddev_null_local_equals_distributed(
    spark, lt, monkeypatch
):
    """The n==1 corrected-variance NULL rule holds on both tiers.
    zephyrblade is a planted rare term; find a single-match query via
    a unique doc."""
    one = S.wand_search(spark, lt["seg"], [("zephyrblade", 1.0)], k=1).collect()
    did = int(one[0]["doc_id"])
    q = f"zephyrblade and doc_id:[{did} TO {did}]"
    local, dist = _both(
        lambda: S.wand_stats_search(spark, lt["seg"], q, "turn_idx"),
        monkeypatch,
    )
    assert local == dist and local
    assert local[0][0] == 1 and local[0][5] is None  # cnt == 1, stddev NULL


def test_packed_mlt_handler_local_zero_jobs(spark, lt, monkeypatch):
    """The /mlt seed-exclusion + re-top-k tail is driver-side on both
    tiers: zero Spark jobs on the local tier, rows identical to the
    Spark path's."""
    from solrplugins_spark.query.handlers import packed_mlt_handler
    from solrplugins_spark.query.mlt import MLTParams

    params = MLTParams(min_doc_freq=2, max_query_terms=20)
    fn = lambda: packed_mlt_handler(spark, lt["seg"], [7], params, k=10)["docs"]
    local, dist = _both(fn, monkeypatch)
    assert local == dist and local
    assert count_jobs(spark, lambda: fn().collect(), "mlt0") == 0


# ---- facet-family row order: one contract on every path ---------------

FQ = "zephyrblade or w0003"
FACETS = {
    "facet": lambda spark, si, q=FQ: S.wand_facet_search(spark, si, q, "role"),
    "collapse": lambda spark, si, q=FQ: S.wand_collapse_search(
        spark, si, q, "role", k=2),
    "range": lambda spark, si, q=FQ: S.wand_facet_range_search(
        spark, si, q, "turn_idx", 0, 24, 4),
    "stats": lambda spark, si, q=FQ: S.wand_stats_search(spark, si, q, "turn_idx"),
    "facet_query": lambda spark, si, q=FQ: S.wand_facet_query_search(
        spark, si, q,
        {"w3": "w0003", "early": "turn_idx:[0 TO 5]", "nz": "not zephyrblade"}),
    "stats_facet": lambda spark, si, q=FQ: S.wand_stats_facet_search(
        spark, si, q, "turn_idx", "role"),
    "percentiles": lambda spark, si, q=FQ: S.wand_stats_percentiles_search(
        spark, si, q, "turn_idx", [0.9, 0.25, 0.5, 0.25]),
    "group": lambda spark, si, q=FQ: S.wand_group_search(
        spark, si, q, "role", k_groups=3, group_limit=2),
}


def _by_value(r):
    return (r[0] is not None, r[0] or "")


# the order each surface's docstring states
ORDER = {
    "facet": _by_value,
    "stats_facet": _by_value,
    "range": lambda r: r[0],
    "facet_query": lambda r: r[0],
    "percentiles": lambda r: r[0],
    "collapse": lambda r: (-r[2], r[1]),
    "group": lambda r: (r[0], r[2]),
    "stats": lambda r: 0,
}


@pytest.fixture(scope="module")
def facet_shapes(spark, lt, tmp_path_factory):
    """The one index, the same docs as two generations (disjoint
    halves, each with its own ordinal dictionary), and a copy of the
    one index with some matching docs tombstoned."""
    root = tmp_path_factory.mktemp("facet_shapes")
    docs = lt["docs"]
    gens = [
        S.build_segments(
            build_index(part), str(root / f"gen{i}"), seg_size=512, groups=1,
            string_cols=["role"], value_cols=["turn_idx"],
        )
        for i, part in enumerate(
            (docs.filter("doc_id < 1500"), docs.filter("doc_id >= 1500"))
        )
    ]
    import shutil

    path = str(root / "tombstoned")
    shutil.copytree(lt["seg"].path, path)
    top = S.wand_boolean_search(spark, lt["seg"], FQ, k=8).collect()
    S.delete_docs(path, [int(r["doc_id"]) for r in top[::2]])
    return {"one": lt["seg"], "two_gens": gens, "tombstoned": S.SegmentIndex.load(path)}


@pytest.mark.parametrize("shape", ["one", "two_gens", "tombstoned"])
def test_facet_family_rows_identical_on_every_path(
    spark, facet_shapes, monkeypatch, shape
):
    """All 8 facet-family surfaces serve the same rows in the same,
    documented order on the local tier, the single-stage Spark path
    (budget 0) and the exchange path (budget 0, no single stage)."""
    si = facet_shapes[shape]

    def rows() -> dict:
        return {n: [tuple(r) for r in f(spark, si).collect()] for n, f in FACETS.items()}

    tier(monkeypatch, None)
    local = rows()
    tier(monkeypatch, 0)
    single = rows()
    tier(monkeypatch, 0, exchange=True)
    exchanged = rows()
    for name in FACETS:
        assert local[name], f"{name}: empty answer defeats the comparison"
        assert local[name] == sorted(local[name], key=ORDER[name]), name
        assert local[name] == single[name] == exchanged[name], name


def test_merges_match_pandas_reference():
    """The numpy merges every tier shares (_fold, _top_per_ord) equal
    the plain pandas groupby they stand for, row for row, on random
    partials (repeated keys, tied scores, string keys): the Arrow
    partials they merge, read back with to_pandas."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    def arrow(pdf):
        return pa.Table.from_pandas(pdf, preserve_index=False)

    rng = np.random.default_rng(7)

    def fold_ref(res, keys, how):
        if keys:
            return res.groupby(keys, as_index=False, sort=True).agg(how)
        return pd.DataFrame({c: [getattr(res[c], f)()] for c, f in how.items()})

    def top_ref(res, limit):
        return (
            res.sort_values(
                ["gen", "ord", "score", "doc_id"],
                ascending=[True, True, False, True], kind="stable",
            )
            .groupby(["gen", "ord"], sort=False).head(limit)
            .reset_index(drop=True)
        )

    for _ in range(100):
        n = int(rng.integers(1, 40))

        def ints(hi):
            return rng.integers(0, hi, n).astype(np.int64)

        part = pd.DataFrame({
            "gen": ints(3), "ord": ints(5), "cnt": ints(9),
            **{c: ints(50).astype(np.float64) for c in ("s", "ss", "mn", "mx")},
        })
        for keys, how in (
            (["gen", "ord"], S._MOMENTS), (["ord"], {"cnt": "sum"}), ([], S._MOMENTS),
        ):
            pd.testing.assert_frame_equal(
                S._fold(arrow(part[keys + list(how)]), keys, how).to_pandas(),
                fold_ref(part[keys + list(how)], keys, how),
            )
        names = pd.DataFrame({"name": rng.choice(["b", "a", "c"], n).astype(object),
                              "cnt": ints(9)})
        pd.testing.assert_frame_equal(
            S._fold(arrow(names), ["name"], {"cnt": "sum"}).to_pandas(),
            fold_ref(names, ["name"], {"cnt": "sum"}),
        )
        wins = pd.DataFrame({"gen": ints(2), "ord": ints(4),
                             "doc_id": rng.permutation(1000)[:n].astype(np.int64),
                             "score": ints(4).astype(np.float64)})
        for limit in (1, 2, 3):
            pd.testing.assert_frame_equal(
                S._top_per_ord(arrow(wins), limit).to_pandas(), top_ref(wins, limit)
            )


# ---- empty answers: one documented shape on every path --------------

SURFACES = {
    **FACETS,
    "bag": lambda spark, si, q=FQ: S.wand_search(
        spark, si, [(t, 1.0) for t in q.split(" or ")], k=10),
    "boolean": lambda spark, si, q=FQ: S.wand_boolean_search(spark, si, q, k=10),
    "phrase": lambda spark, si, q=FQ: S.wand_phrase_search(
        spark, si, q.split(" or "), k=10),
    "scores_for_ids": lambda spark, si, q=FQ: S.wand_scores_for_ids(
        spark, si, q, [1, 2, 3, 700]),
}


@pytest.mark.parametrize("path", ["local", "single_stage", "exchange"])
@pytest.mark.parametrize("name", sorted(SURFACES))
def test_empty_answer_on_every_path(spark, lt, monkeypatch, name, path):
    """A query that matches nothing (an unknown term) gets each
    surface's documented empty answer on the local, single-stage and
    exchange paths: zero rows with the public schema, except the full
    zero lattice for facet.range and one zero-count row per name for
    facet.query. The query is known empty from the termstats sidecar,
    so answering and collecting it takes no Spark job on any path."""
    tier(monkeypatch, None if path == "local" else 0, exchange=path == "exchange")
    surface = SURFACES[name]
    out = []

    def answer():
        got = surface(spark, lt["seg"], "zzzznotaterm")
        out.append((got, [tuple(r) for r in got.collect()]))

    assert count_jobs(spark, answer, f"empty-{name}-{path}") == 0, name
    got, rows = out[0]
    assert got.schema == surface(spark, lt["seg"]).schema, name
    want = {
        "range": [(bucket, 0) for bucket in range(0, 24, 4)],
        "facet_query": [("early", 0), ("nz", 0), ("w3", 0)],
    }.get(name, [])
    assert rows == want, name


# ---- page size: flat limit(k) on every top-k surface -----------------

BAG = [("zephyrblade", 2.0), ("w0003", 1.0)]
PAGES = {
    "bag": lambda spark, f, k: S.wand_search(spark, f["seg"], BAG, k=k),
    "bag_mm2": lambda spark, f, k: S.wand_search(
        spark, f["seg"], BAG, k=k, min_should_match=2),
    "bag_multi": lambda spark, f, k: S.wand_search_multi(
        spark, [f["seg"]], BAG, k=k),
    "boolean": lambda spark, f, k: S.wand_boolean_search(spark, f["seg"], FQ, k=k),
    "boosted": lambda spark, f, k: S.wand_boolean_boosted_search(
        spark, f["seg"], FQ, [("w0100", 0.5)], k=k),
    "phrase": lambda spark, f, k: S.wand_phrase_search(
        spark, f["seg"], f["phrase"], k=k),
    "collapse": lambda spark, f, k: S.wand_collapse_search(
        spark, f["seg"], FQ, "role", k=k),
    "group": lambda spark, f, k: S.wand_group_search(
        spark, f["seg"], FQ, "role", k_groups=k),
    "rerank": lambda spark, f, k: S.wand_rerank_search(
        spark, f["seg"], FQ, "w0100", k=k, rerank_docs=30),
    "mlt": lambda spark, f, k: packed_mlt_handler(
        spark, f["seg"], [0, 1], k=k)["docs"],
}


@pytest.mark.parametrize("path", ["local", "single_stage", "exchange"])
@pytest.mark.parametrize("name", sorted(PAGES))
def test_page_size_follows_limit(spark, lt, monkeypatch, name, path):
    """A top-k surface's ``k`` follows flat limit(k) on the local,
    single-stage and exchange paths: k=0 is the empty page with the
    public schema and no Spark job, and a negative k raises
    ValueError before anything is read."""
    tier(monkeypatch, None if path == "local" else 0, exchange=path == "exchange")
    page = PAGES[name]
    out = []

    def answer():
        got = page(spark, lt, 0)
        out.append((got, got.collect()))

    assert count_jobs(spark, answer, f"k0-{name}-{path}") == 0, name
    got, rows = out[0]
    assert rows == [] and got.schema == page(spark, lt, 3).schema, name

    def no_read(*args, **kwargs):
        raise AssertionError("read before the page-size check")

    monkeypatch.setattr(S, "_sidecar_stats", no_read)
    monkeypatch.setattr(S, "fetch_docs_local", no_read)
    with pytest.raises(ValueError, match=r"k(_groups)? must be >= 0"):
        page(spark, lt, -1)
