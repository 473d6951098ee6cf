"""The local tier's per-index reader (SegmentIndex.reader).

A SegmentIndex opens its driver-side reader at the first local-tier
query and keeps it until manifest.json changes. These tests pin the
two halves of that contract:

- invalidation: a handle queried before ``delete_docs``,
  ``update_docs`` and a compaction swapped into its path answers
  exactly like a freshly loaded handle and like the Spark tier, with
  the tombstoned docs gone;
- zero walks: once a request shape has run, repeating it walks no
  directory and discovers no dataset — its only reads are the
  term-pruned postings/sidecar lookups and the docstore point read —
  and the tier decisions are the ones a per-query walk would make;
- memory: the streams all open readers hold share one pool capped at
  the local-tier budget; what does not fit is read per query.
"""

import gc

import os
from collections import Counter

import pandas as pd
import pytest
from conftest import count_jobs, tier

from solrplugins_spark.index import segments as S
from solrplugins_spark.index.builder import build_index
from solrplugins_spark.query.handlers import packed_mlt_handler
from solrplugins_spark.query.mlt import MLTParams
from solrplugins_spark.streaming.incremental import process_generation, update_docs

KEYS = ("conv_id", "turn_idx")
BUILD = dict(
    positions=True, store_cols=["text"], value_cols=["turn_idx"],
    string_cols=["role"],
)


def _rows(df) -> list:
    return [tuple(r) for r in df.collect()]


def _top_terms(texts: pd.Series, n: int) -> list[str]:
    counts = Counter(t for text in texts for t in text.lower().split())
    return [t for t, _ in counts.most_common(n)]


def _answers(spark, si, terms) -> dict:
    q = " or ".join(terms)
    return {
        "bag": _rows(S.wand_search(spark, si, [(t, 1.0) for t in terms], k=25)),
        "boolean": _rows(S.wand_boolean_search(spark, si, q, k=25)),
        "facet": sorted(_rows(S.wand_facet_search(spark, si, q, "role"))),
    }


def _check(spark, monkeypatch, si, terms, gone: set) -> dict:
    """``si`` (a long-lived handle) answers like a fresh load and like
    the Spark tier, and no answer holds a doc of ``gone``."""
    got = _answers(spark, si, terms)
    assert got == _answers(spark, S.SegmentIndex.load(si.path), terms)
    tier(monkeypatch, 0)
    assert got == _answers(spark, si, terms)
    tier(monkeypatch, None)
    assert got["bag"] and got["boolean"] and got["facet"]
    for name in ("bag", "boolean"):
        assert not gone & {int(r[0]) for r in got[name]}, name
    return got


@pytest.fixture()
def store(spark, tiny_corpus_pd, tmp_path):
    """Two committed packed generations with keymaps."""
    path = str(tmp_path / "store")
    half = len(tiny_corpus_pd) // 2
    for gen, part in enumerate((tiny_corpus_pd.iloc[:half], tiny_corpus_pd.iloc[half:])):
        process_generation(
            spark.createDataFrame(part), gen, path, pack=True, seg_size=64,
            seg_groups=2, key_cols=KEYS, **BUILD,
        )
    return path


def test_reader_follows_delete_update_and_compaction(
    spark, tiny_corpus_pd, store, monkeypatch
):
    half = len(tiny_corpus_pd) // 2
    gen0 = S.SegmentIndex.load(os.path.join(store, "segments", "gen=0"))
    terms = _top_terms(tiny_corpus_pd["text"].iloc[:half], 40)[30:33]
    before = _check(spark, monkeypatch, gen0, terms, set())
    first = gen0._reader
    assert first is not None, "the first query opens the reader"
    _answers(spark, gen0, terms)
    assert gen0._reader is first, "an unchanged manifest keeps the reader"

    # delete_docs: tombstone the two best bag hits
    gone = {int(r[0]) for r in before["bag"][:2]}
    S.delete_docs(gen0.path, sorted(gone))
    _check(spark, monkeypatch, gen0, terms, gone)
    assert gen0._reader is not first

    # update_docs: the next two bag hits get new versions in a new
    # generation; their gen-0 versions are tombstoned
    now = _answers(spark, gen0, terms)["bag"]
    victims = {int(r[0]) for r in now[:2]}
    batch = tiny_corpus_pd[tiny_corpus_pd["doc_id"].isin(victims)].drop(columns=["doc_id"])
    res = update_docs(
        spark, store, spark.createDataFrame(batch), key_cols=KEYS,
        seg_size=64, seg_groups=2, **BUILD,
    )
    assert res["replaced_by_gen"] == {0: 2}
    gone |= victims
    _check(spark, monkeypatch, gen0, terms, gone)

    # compaction committed in place: the compacted index replaces the
    # directory; the handle picks up its live-doc statistics
    staged = gen0.path + ".compacted"
    S.compact_packed(spark, [S.SegmentIndex.load(gen0.path)], staged, groups=2)
    os.rename(gen0.path, gen0.path + ".old")
    os.rename(staged, gen0.path)
    n_before = gen0.n_docs
    _check(spark, monkeypatch, gen0, terms, gone)
    assert gen0.n_docs == S.SegmentIndex.load(gen0.path).n_docs == n_before - len(gone)
    assert S.live_docs(gen0.path)["n_deleted"] == 0


@pytest.fixture(scope="module")
def seg(spark, tiny_corpus, tmp_path_factory):
    idx = build_index(tiny_corpus, positions=True)
    out = tmp_path_factory.mktemp("local_reader") / "idx"
    return S.build_segments(
        idx, str(out), seg_size=128, groups=2, string_cols=["role"],
        store_cols=["text"], value_cols=["turn_idx"],
    )


class _Reads:
    """Pass-through for a reader's dataset that records each read."""

    def __init__(self, inner, name: str, log: list):
        self._inner, self._name, self._log = inner, name, log

    def to_table(self, *args, **kwargs):
        self._log.append((self._name, kwargs.get("filter") is not None))
        return self._inner.to_table(*args, **kwargs)

    def __getattr__(self, attr):
        return getattr(self._inner, attr)


def test_zero_walks_after_first_query(spark, seg, tiny_corpus_pd, monkeypatch):
    import pyarrow.dataset
    import pyarrow.parquet

    terms = _top_terms(tiny_corpus_pd["text"], 40)[25:28]
    phrase = tiny_corpus_pd["text"].iloc[3].lower().split()[:2]
    params = MLTParams(min_doc_freq=2, max_query_terms=20)

    def mlt():
        out = packed_mlt_handler(spark, seg, [7], params, k=10)
        return _rows(out["docs"]), _rows(out["interesting_terms"])

    requests = {
        "bag": lambda: _rows(S.wand_search(spark, seg, [(t, 1.0) for t in terms], k=10)),
        "phrase": lambda: _rows(S.wand_phrase_search(spark, seg, phrase, k=10)),
        "facet": lambda: sorted(_rows(S.wand_facet_search(spark, seg, " or ".join(terms), "role"))),
        "mlt": mlt,
    }
    decisions = []
    real_plan = S._serving_plan

    def serving_plan(*args, **kwargs):
        out = real_plan(*args, **kwargs)
        decisions.append(out)
        return out

    monkeypatch.setattr(S, "_serving_plan", serving_plan)
    first = {name: fn() for name, fn in requests.items()}  # opens the reader
    warm_decisions, decisions[:] = list(decisions), []
    assert warm_decisions
    assert all(plan.strategy == "local" for plan in warm_decisions)
    rd = seg.reader()
    # the cached sizes are exactly what a per-query walk would count
    sizes = {key[1]: v for key, v in rd._cache.items() if key[0] == "size"}
    assert sizes
    for rel, size in sizes.items():
        assert size == S._dir_bytes(os.path.join(seg.path, rel)), rel

    reads: list = []
    for name in ("postings", "termstats"):
        key = ("dataset", name)
        rd._cache[key] = _Reads(rd._cache[key], name, reads)
    walks, tables, discovered = [], [], []
    real_walk, real_dataset = os.walk, pyarrow.dataset.dataset
    real_read_table = pyarrow.parquet.read_table

    def walk(*args, **kwargs):
        walks.append(args)
        return real_walk(*args, **kwargs)

    def dataset(source, *args, **kwargs):
        discovered.append(source)
        return real_dataset(source, *args, **kwargs)

    def read_table(*args, **kwargs):
        tables.append(args)
        return real_read_table(*args, **kwargs)

    monkeypatch.setattr(os, "walk", walk)
    monkeypatch.setattr(pyarrow.dataset, "dataset", dataset)
    monkeypatch.setattr(pyarrow.parquet, "read_table", read_table)
    for name, fn in requests.items():
        out = []
        assert count_jobs(spark, lambda: out.append(fn()), f"zero-walk-{name}") == 0
        assert out[0] == first[name], name
    monkeypatch.undo()

    assert walks == [] and tables == []
    # the one dataset built per request is the docstore point read (the
    # /mlt seed text), over explicit files — never a directory listing
    docstore = os.path.join(seg.path, "docstore") + os.sep
    assert len(discovered) == 1
    assert all(isinstance(src, list) and all(f.startswith(docstore) for f in src)
               for src in discovered)
    assert reads and all(filtered for _, filtered in reads)
    assert {name for name, _ in reads} == {"postings", "termstats"}
    assert decisions == warm_decisions


def test_reader_concurrent_first_queries(seg, tiny_corpus_pd, monkeypatch):
    """Threads racing a fresh handle's first query open ONE reader and
    read each stream once, and all get the serial answer."""
    import sys
    import threading

    terms = [(t, 1.0) for t in _top_terms(tiny_corpus_pd["text"], 40)[25:28]]
    want = S._serve(None, seg, S._Terms.of(terms), S._topk_collector(10, 5))
    fresh = S.SegmentIndex.load(seg.path)
    loads = Counter()
    real_read_stream = S._read_stream

    def read_stream(path, rel, hive=True):
        loads[rel] += 1
        return real_read_stream(path, rel, hive)

    monkeypatch.setattr(S, "_read_stream", read_stream)
    results, errors = [], []
    start = threading.Barrier(16)

    def query():
        try:
            start.wait(timeout=30)
            results.append(
                S._serve(None, fresh, S._Terms.of(terms), S._topk_collector(10, 5))
            )
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=query) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(results) == 16
    assert all(r.equals(want) for r in results)
    assert loads == {"doclens": 1, "deletes": 1}


STR_COLS = ("role", "conv_id", "tool")


@pytest.fixture(scope="module")
def wide(spark, tiny_corpus, tmp_path_factory):
    """An index with one numeric and several ordinal docvalues columns."""
    idx = build_index(tiny_corpus, positions=True)
    out = tmp_path_factory.mktemp("local_reader_wide") / "idx"
    return S.build_segments(
        idx, str(out), seg_size=128, groups=2, string_cols=list(STR_COLS),
        value_cols=["turn_idx"],
    )


def _count_reads(monkeypatch) -> Counter:
    reads = Counter()
    real_read_stream = S._read_stream

    def read_stream(path, rel, hive=True):
        reads[rel] += 1
        return real_read_stream(path, rel, hive)

    monkeypatch.setattr(S, "_read_stream", read_stream)
    return reads


def test_held_streams_stay_within_budget(wide, monkeypatch):
    """Two handles load every stream and dictionary of a wide index
    under a budget that fits half of them: the pool never passes the
    budget, a stream that did not fit is read again on its next use,
    and dropped readers return their bytes."""
    rels = ["doclens", "deletes", S._dv_rel("turn_idx")] + [
        S._dv_rel(c, "docvalues_str") for c in STR_COLS
    ]
    sizes = [
        S._stream_nbytes(S._read_stream(wide.path, rel, hive=rel != "deletes"))
        for rel in rels
    ]
    budget = sum(sizes) // 2
    tier(monkeypatch, budget)
    monkeypatch.setattr(S, "_HELD", S._Held())
    reads = _count_reads(monkeypatch)

    handles = [S.SegmentIndex.load(wide.path) for _ in range(2)]
    for h in handles:
        for rel in rels:
            h.reader().stream(rel)
        for col in STR_COLS:
            h.reader().dictionary(col)
    assert 0 < S._HELD.total <= budget
    assert S._HELD.total == sum(h.reader().charge[0] for h in handles)

    # the second handle found the pool (nearly) full: whatever it could
    # not hold, it reads again
    late = handles[1].reader()
    reads.clear()
    for rel in rels:
        late.stream(rel)
    unheld = {rel for rel in rels if ("stream", rel) not in late._cache}
    assert unheld and set(reads) == unheld
    assert all(n == 1 for n in reads.values())

    del handles, late
    gc.collect()
    assert S._HELD.total == 0


def test_full_pool_reads_per_query(spark, wide, tiny_corpus_pd, monkeypatch):
    """When other readers hold the whole budget, local-tier facets stay
    driver-side (0 Spark jobs) and answer identically, reading their
    streams on every query instead of keeping them."""
    q = " or ".join(_top_terms(tiny_corpus_pd["text"], 40)[30:33])

    def facets(si) -> dict:
        return {c: sorted(_rows(S.wand_facet_search(spark, si, q, c))) for c in STR_COLS}

    want = facets(wide)
    assert all(want.values())
    pool = S._Held()
    pool.total = S._local_tier_budget()
    monkeypatch.setattr(S, "_HELD", pool)
    reads = _count_reads(monkeypatch)
    h = S.SegmentIndex.load(wide.path)
    for i in range(2):
        reads.clear()
        got = {}
        assert count_jobs(spark, lambda: got.update(facets(h)), f"full-pool-{i}") == 0
        assert got == want
        assert h.reader().charge == [0]
        for col in STR_COLS:
            assert reads[S._dv_rel(col, "docvalues_str")] == 1, col
        assert reads["doclens"] == len(STR_COLS)
