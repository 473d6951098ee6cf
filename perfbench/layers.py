"""Per-layer measurements of the traced run that sit outside the
request loop: codec and tokenizer microbenchmarks and a small ingest
pass through ``streaming.incremental``."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from solrplugins_spark.analysis import tokenizer
from solrplugins_spark.index import codec
from solrplugins_spark.index import segments as S
from solrplugins_spark.streaming import incremental

# posting lists measured by the codec microbenchmarks: one per df band
CODEC_TERMS = ("w0000", "w0040", "w0900")
MICRO_S = 0.4  # time budget of each microbenchmark


def _rate(fn, units: int) -> float:
    """Units processed per second by ``fn``, over repeated calls."""
    fn()
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= MICRO_S:
            return n * units / dt


def tokenizer_rate(texts) -> float:
    """turns/s of ``tokenize_pandas`` over a fixed corpus sample."""
    return _rate(lambda: tokenizer.tokenize_pandas(texts), len(texts))


def codec_rates(idx) -> dict[str, tuple]:
    """postings/s to encode and decode head, torso and tail lists, and
    to decode their positions, built from the flat index's postings."""
    rows = (idx.postings.filter(F.col("term").isin(*CODEC_TERMS))
            .select("term", "doc_id", "tf", "positions").toPandas())
    lists = []
    for _, g in rows.sort_values(["term", "doc_id"]).groupby("term"):
        docs = g["doc_id"].to_numpy(np.int64)
        tfs = g["tf"].to_numpy(np.int64)
        pos = [np.asarray(p, np.int64) for p in g["positions"]]
        data, *_ = codec.encode_postings(docs, tfs)
        lists.append((docs, tfs, bytes(data), codec.encode_positions(pos, tfs)[0]))
    n = sum(len(docs) for docs, *_ in lists)

    def encode():
        for docs, tfs, *_ in lists:
            codec.encode_postings(docs, tfs)

    def decode():
        for _d, _t, data, _p in lists:
            codec.decode_postings(data)

    def decode_positions():
        for _d, tfs, _data, pos_data in lists:
            codec.decode_positions(pos_data, tfs)

    return {
        "codec.encode_postings_per_s": (_rate(encode, n), "postings/s"),
        "codec.decode_postings_per_s": (_rate(decode, n), "postings/s"),
        "codec.decode_positions_per_s": (_rate(decode_positions, n), "postings/s"),
    }


def ingest(spark, tracer, docs, work: str, n_turns: int, gens: int = 2,
           update_turns: int = 400) -> dict[str, tuple]:
    """Commit ``n_turns`` of the corpus as packed generations, replace
    ``update_turns`` of them with ``update_docs``, then ``compact_packed``.
    Returns the streaming layer's metrics as (value, unit); raises
    unless every update is visible and every old version is gone."""
    inc = os.path.join(work, "inc")
    kw = dict(positions=True, store_cols=["text"], value_cols=["turn_idx"],
              string_cols=["role"])
    per = n_turns // gens
    gen_s = []
    for g in range(gens):
        batch = docs.filter((F.col("doc_id") >= g * per) & (F.col("doc_id") < (g + 1) * per))
        t0 = time.perf_counter()
        incremental.process_generation(batch, g, inc, pack=True,
                                       key_cols=("conv_id", "turn_idx"), **kw)
        gen_s.append(time.perf_counter() - t0)
    marker = "updtok"
    update = (docs.filter((F.col("doc_id") >= 3) & (F.col("doc_id") < 3 + update_turns))
              .drop("doc_id").withColumn("text", F.concat("text", F.lit(f" {marker}"))))
    with tracer.jobs("update") as gid:
        tracer.install()  # spans delete_docs, which update_docs calls
        try:
            t0 = time.perf_counter()
            res = incremental.update_docs(spark, inc, update, **kw)
            update_s = time.perf_counter() - t0
        finally:
            tracer.uninstall()
    live = incremental.packed_generations(inc)
    n_docs = n_deleted = 0
    for si in live:
        info = S.live_docs(si.path)
        n_docs += info["n_docs"]
        n_deleted += info["n_deleted"]
    hits = S.wand_search_multi(spark, live, [(marker, 1.0)], k=update_turns + 10).collect()
    if not res["n_replaced"] == n_deleted == len(hits) == update_turns:
        raise AssertionError(f"update of {update_turns} turns: {res['n_replaced']} "
                             f"replaced, {n_deleted} tombstoned, {len(hits)} visible")
    t0 = time.perf_counter()
    S.compact_packed(spark, live, os.path.join(work, "compact"))
    compact_s = time.perf_counter() - t0
    tracer.settle()
    jobs, _ = tracer.job_counts(gid)
    delete_ms = [sp.dur * 1e3 for sp in tracer.spans if sp.name == "segments.delete_docs"]
    return {
        "incremental.process_generation_s": (statistics.median(gen_s), "s"),
        "incremental.update_docs_s": (update_s, "s"),
        "incremental.spark_jobs_per_update": (jobs, "count"),
        "segments.delete_docs_ms": (sum(delete_ms), "ms"),
        "segments.compact_packed_s": (compact_s, "s"),
        "segments.live_generations": (len(live), "count"),
        "segments.tombstoned_frac": (n_deleted / n_docs, "ratio"),
    }
