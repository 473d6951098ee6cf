#!/usr/bin/env python3
"""sparkgrep benchmark: a closed-loop client against a packed index.

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout; the package is imported from
there and put on the Spark Python workers' path. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

N_TURNS = 4_096
TURNS_PER_CONV = 20
SEG_SIZE = 2048
REF_THREADS = 3  # threads computing reference answers
PROBES = 20  # host probes in each of the blocks before and after the loop
SETTLE_S = 0.5  # pause before a probe block, so no request's background work overlaps it
INGEST_TURNS = 4_000
DRIVER_MEM = "2g"
TIER_ENV = "SOLRPLUGINS_LOCAL_TIER_MAX_BYTES"
# workload -> local-tier byte budget override (None: package default)
WORKLOADS = {"serve_local": None, "serve_spark": "0"}
PACKED = ("search", "facet", "mlt")
STREAMS = ("postings", "doclens", "docstore", "docvalues", "docvalues_str", "termstats",
           "deletes")
SERVING = ("wand_search", "wand_phrase_search", "wand_rerank_search", "wand_boolean_search",
           "wand_boolean_boosted_search", "wand_scores_for_ids", "wand_facet_search",
           "wand_collapse_search", "wand_facet_range_search", "wand_stats_search",
           "wand_facet_query_search", "wand_stats_facet_search", "delete_docs")
CODEC_NAMES = ("decode_blocks", "decode_positions", "decode_postings", "decode_payloads",
               "varint_decode")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def configure(workload: str, tmp: str) -> None:
    """Environment shared by the driver and the Spark Python workers."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    for var in ("SPARK_GRAFT_MASTER", "MASTER", TIER_ENV):
        os.environ.pop(var, None)
    if WORKLOADS[workload] is not None:
        os.environ[TIER_ENV] = WORKLOADS[workload]
    sys.path.insert(0, ROOT)


def start_spark(tmp: str):
    from solrplugins_spark.session import get_spark

    return get_spark("perfbench", cores=len(os.sched_getaffinity(0)), extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
    })


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except (Py4JError, ConnectionError):
        pass  # the JVM is already gone; still reap its process below
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def corpus_path(spark) -> str:
    """The corpus as a parquet table, generated once per checkout."""
    from solrplugins_spark.corpus import transcripts

    path = os.path.join(WORK, f"corpus-{N_TURNS}")
    if not os.path.isdir(path):
        part = f"{path}.{os.getpid()}"
        transcripts(spark, N_TURNS, TURNS_PER_CONV).write.parquet(part)
        os.replace(part, path)
    return path


def build(spark, corpus: str, out: str, tracer=None):
    """Read the corpus table and build the flat and packed indexes."""
    from solrplugins_spark.index.builder import build_index, mint_doc_ids
    from solrplugins_spark.index.segments import build_segments

    t0 = time.perf_counter()
    docs = mint_doc_ids(spark.read.parquet(corpus)).persist()
    docs.count()
    read_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    group = tracer.job_group("build_index") if tracer else None
    idx = build_index(docs, positions=True).persist()
    idx.postings.count()
    idx.terms.count()
    idx.doclen.count()
    if tracer:
        tracer.clear_job_group()
    build_index_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    seg = build_segments(idx, out, seg_size=SEG_SIZE, groups=1, string_cols=["role"],
                         store_cols=["text"], value_cols=["turn_idx"])
    build_segments_s = time.perf_counter() - t0
    times = {"read_s": read_s, "build_index_s": build_index_s,
             "build_segments_s": build_segments_s,
             "total_s": read_s + build_index_s + build_segments_s}
    return docs, idx, seg, times, group


def add_spans(tracer) -> None:
    """Wrap each layer's public functions where their callers look them up."""
    import pyarrow.dataset
    import pyarrow.parquet

    from solrplugins_spark.index import codec
    from solrplugins_spark.index import segments as S
    from solrplugins_spark.query import compiler, feedback, handlers, mlt, scorer

    for name in SERVING:
        tracer.add(S, name, "segments")
    tracer.add(S, "fetch_docs_local", "fetch_docs")
    for name in CODEC_NAMES:
        tracer.add(S, name, "codec")
    tracer.add(codec, "decode_block_positions", "codec")  # imported per call
    tracer.add_dataset(pyarrow.dataset)
    tracer.add(pyarrow.parquet, "read_table", "storage", rows=True)
    tracer.add(handlers, "packed_mlt_handler", "handlers")
    tracer.add(handlers, "packed_feedback_handler", "handlers")
    tracer.add(compiler, "parse_query", "parser")
    tracer.add(compiler, "execute_query", "compiler")
    tracer.add(scorer, "search_terms", "scorer")
    tracer.add(mlt, "more_like_this", "mlt")
    tracer.add(feedback, "unsupervised_feedback", "feedback")


class Sample(NamedTuple):
    req: object  # stream.Req
    seconds: float
    answer: object
    error: str | None
    traced: bool


def serve(engine, cycle, seconds: float, tracer=None):
    """Closed loop, one client: each request is sent after the previous
    one returns. The loop serves whole cycles, at least one, and stops
    at the cycle boundary nearest ``seconds``, so every run serves the
    same mix. Returns the samples and the wall time of each cycle."""
    samples, cycle_s = [], []
    t_start = time.perf_counter()
    while True:
        t_cycle = time.perf_counter()
        for req in cycle:
            samples += send(engine, req, tracer, len(samples))
        now = time.perf_counter()
        cycle_s.append(now - t_cycle)
        if now + cycle_s[-1] / 2 >= t_start + seconds:
            return samples, cycle_s


def send(engine, req, tracer, n: int) -> list:
    """The samples of one request. With a tracer it runs twice,
    untraced then traced or the reverse as ``n`` alternates, so the
    pairs price tracing."""
    if tracer is None:
        return [_one(engine, req, None)]
    order = (None, tracer) if n % 4 else (tracer, None)
    return [_one(engine, req, tr) for tr in order]


def _one(engine, req, tracer) -> Sample:
    rows, err = None, None
    t0 = time.perf_counter()
    try:
        if tracer is None:
            rows = engine.run(req.call, req.args)
        else:
            with tracer.request(req.cls, req.kind):
                rows = engine.run(req.call, req.args)
    except Exception:
        err = traceback.format_exc(limit=3)
    dt = time.perf_counter() - t0
    answer = engine.normalize(req.call, rows) if err is None else None
    return Sample(req, dt, answer, err, tracer is not None)


def check(checker, samples) -> list[str]:
    """Compare every answer with its reference; returns the failures.
    The distinct references are computed first, on REF_THREADS threads:
    they are independent Spark jobs, and this runs after the timed
    sections."""
    for s in samples:
        if s.error is None:
            checker.remember(s.req.call, s.req.args, s.answer)
    distinct = {(s.req.ref, s.req.args): s.req for s in samples if s.error is None}
    with ThreadPoolExecutor(REF_THREADS) as pool:
        list(pool.map(checker.prefetch, distinct.values()))
    failures = []
    for s in samples:
        req = s.req
        if s.error is not None:
            failures.append(f"{req.kind} {req.args}: {s.error}")
            continue
        try:
            if not checker.check(req, s.answer):
                failures.append(f"{req.kind} {req.args}: answer differs from {req.ref}")
        except Exception:
            failures.append(f"{req.kind} {req.args}: reference failed: "
                            f"{traceback.format_exc(limit=3)}")
    return failures


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def hd_quantile(values, q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a weighted mean of the
    order statistics, with weights from the Beta((n+1)q, (n+1)(1-q))
    distribution. Over the 40 requests of a Spark-path run it moves far
    less from run to run than a single order statistic does."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20_001)
    inner = grid[1:-1]
    log_pdf = (a - 1) * np.log(inner) + (b - 1) * np.log1p(-inner)
    pdf = np.concatenate([[0.0], np.exp(log_pdf - log_pdf.max()), [0.0]])
    cdf = np.cumsum(pdf) / pdf.sum()
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ x)


def end_to_end(samples, scale: float, setup_s: float, index_ratio: float,
               rss_mb: float) -> dict:
    """Every time is multiplied by ``scale``, which brings it to the
    reference host speed (see probe.py)."""
    def scaled_ms(s):
        return s.seconds * scale * 1e3

    ms = [scaled_ms(s) for s in samples]
    m = {"setup_s": (setup_s * scale, "s"),
         # one client in a closed loop: requests per second of request time
         "requests_per_s": (len(ms) * 1e3 / sum(ms), "req/s"),
         "latency_p50_ms": (hd_quantile(ms, 0.5), "ms"),
         "latency_p90_ms": (hd_quantile(ms, 0.9), "ms")}
    for cls in PACKED:
        # the mean over the class's templates of each template's median,
        # so the weights of the synthetic mix do not enter it
        by_kind: dict[str, list[float]] = {}
        for s in samples:
            if s.req.cls == cls:
                by_kind.setdefault(s.req.kind, []).append(scaled_ms(s))
        m[f"{cls}_ms"] = (mean(statistics.median(v) for v in by_kind.values()), "ms")
    m["index_bytes_per_text_byte"] = (index_ratio, "ratio")
    m["driver_peak_rss_mb"] = (rss_mb, "MB")
    return m


def per_layer(tracer, samples) -> dict:
    """Mean per-request layer figures over the traced requests."""
    tracer.settle()
    reqs = tracer.requests
    jobs = {id(r): tracer.job_counts(r.group) for r in reqs}
    m = {}
    for cls in PACKED:
        rs = [r for r in reqs if r.cls == cls]
        m[f"segments.{cls}.self_ms"] = (mean(r.ms("segments") for r in rs), "ms")
        m[f"segments.{cls}.driver_cpu_ms"] = (mean(r.cpu_s * 1e3 for r in rs), "ms")
        m[f"segments.{cls}.wait_ms"] = (mean((r.wall_s - r.cpu_s) * 1e3 for r in rs), "ms")
        m[f"segments.{cls}.spark_jobs"] = (mean(jobs[id(r)][0] for r in rs), "count")
        m[f"segments.{cls}.spark_tasks"] = (mean(jobs[id(r)][1] for r in rs), "count")
    packed = [r for r in reqs if r.cls in PACKED]
    m["codec.decode_ms_per_request"] = (
        mean(r.ms("codec", self_time=False) for r in packed), "ms")
    m["codec.decode_calls_per_request"] = (mean(r.count("codec") for r in packed), "count")
    m["storage.discoveries_per_request"] = (
        mean(r.count("storage", "storage.discovery") for r in packed), "count")
    m["storage.discovery_ms_per_request"] = (
        mean(r.ms("storage", "storage.discovery") for r in packed), "ms")
    m["storage.read_ms_per_request"] = (
        mean(r.ms("storage", "storage.read") + r.ms("storage", "storage.read_table")
             for r in packed), "ms")
    m["storage.rows_per_request"] = (
        mean(sum(sp.rows for sp in r.spans if sp.layer == "storage") for r in packed), "count")
    mlt_reqs = [r for r in reqs if r.cls == "mlt"]
    m["handlers.self_ms"] = (mean(r.ms("handlers") for r in mlt_reqs), "ms")
    m["handlers.fetch_docs_ms"] = (
        mean(r.ms("fetch_docs", self_time=False) for r in mlt_reqs), "ms")
    flat = [r for r in reqs if r.cls == "flat"]
    m["parser.parse_ms"] = (mean(r.ms("parser", self_time=False) for r in flat), "ms")
    for key, kind, layer in (("compiler.execute_query_ms", "flat_tree", "compiler"),
                             ("scorer.search_terms_ms", "flat_bag", "scorer"),
                             ("mlt.more_like_this_ms", "flat_mlt", "mlt"),
                             ("feedback.unsupervised_feedback_ms", "flat_uf", "feedback")):
        m[key] = (mean(r.ms(layer, self_time=False) for r in flat if r.kind == kind), "ms")
    m["flat.spark_jobs"] = (mean(jobs[id(r)][0] for r in flat), "count")
    m["flat.spark_tasks"] = (mean(jobs[id(r)][1] for r in flat), "count")
    untraced = sum(s.seconds for s in samples if not s.traced)
    traced = sum(s.seconds for s in samples if s.traced)
    # 1 - traced/untraced requests_per_s over the same requests
    m["trace.overhead_frac"] = (1 - untraced / traced, "ratio")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description="sparkgrep benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    configure(args.workload, tmp)
    try:
        result = run(args, run_dir, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, run_dir: str, tmp: str) -> dict:
    import solrplugins_spark  # noqa: F401  (fails outside a source checkout)
    from solrplugins_spark.index import segments as S

    import layers
    import probe as host
    import spans
    import stream

    t0 = time.perf_counter()
    spark = start_spark(tmp)
    session_s = time.perf_counter() - t0
    try:
        tracer = spans.Tracer(spark) if args.trace else None
        gc0 = spans.jvm_gc_ms(spark)
        corpus = corpus_path(spark)
        docs, idx, seg, times, build_group = build(spark, corpus,
                                                   os.path.join(run_dir, "idx"), tracer)
        gc_setup_s = (spans.jvm_gc_ms(spark) - gc0) / 1e3
        setup_s = session_s + times["total_s"]
        log(f"session {session_s:.1f}s, build {times['total_s']:.1f}s")

        pdf = (docs.select("doc_id", "text", "role", "turn_idx").toPandas()
               .sort_values("doc_id").reset_index(drop=True))
        described = S.describe_index(seg.path)
        index_ratio = described["total_bytes"] / int(pdf["text"].str.len().sum())

        probe = host.Probe(spark, run_dir)
        engine = stream.Engine(spark, seg, idx)
        draw = stream.Draw(args.seed, pdf["text"])
        pools = stream.build_pools(
            draw, lambda bag: engine.normalize("wand_search",
                                               engine.run("wand_search", (bag, None))))
        cycle = stream.cycle(pools)
        for req in stream.warm_up(pools, flat=bool(tracer)):
            engine.run(req.call, req.args)  # untimed

        time.sleep(SETTLE_S)
        probe(PROBES)
        log("pools built and warm")
        if tracer:
            add_spans(tracer)
        gc1 = spans.jvm_gc_ms(spark)
        samples, cycle_s = serve(engine, cycle, args.seconds, tracer)
        gc_loop_ms = spans.jvm_gc_ms(spark) - gc1
        time.sleep(SETTLE_S)
        probe(PROBES)
        flat = []  # the traced run's flat phase feeds the flat engine's layer metrics
        if tracer:
            for req in (r for kind in stream.FLAT for r in pools[kind][:stream.FLAT_PER_TEMPLATE]):
                flat += send(engine, req, tracer, len(flat))
        log(f"served {len(samples)} samples ({len(cycle)} requests a cycle) in cycles of "
            f"{', '.join(f'{c:.1f}' for c in cycle_s)} s, "
            f"then {len(flat)} flat")
        for kind in dict.fromkeys(s.req.kind for s in samples + flat):
            ms = sorted(s.seconds * 1e3 for s in samples + flat if s.req.kind == kind)
            log(f"  {kind:12s} n={len(ms):3d} median {ms[len(ms) // 2]:7.1f} ms wall")
        log(f"probe parts (loop, py4j, parquet, frame): median "
            f"{' '.join(f'{ms:.2f}' for ms in probe.median_ms())} ms over {len(probe.parts)} "
            f"probes, reference {' '.join(map(str, host.REF_MS))} ms: "
            f"times scaled by {probe.scale():.3f}")
        # the peak of serving, before the references are computed
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        checker = stream.Checker(engine, stream.Oracle(pdf))
        failures = check(checker, samples + flat)
        attempted = len(samples) + len(flat)
        log(f"checked {len(checker.memo)} distinct answers")

        if not tracer:
            metrics = end_to_end(samples, probe.scale(), setup_s, index_ratio, rss_mb)
        else:
            metrics = per_layer(tracer, samples + flat)
            metrics["jvm.gc_ms_per_request"] = (gc_loop_ms / len(samples), "ms")
            metrics["jvm.gc_s_setup"] = (gc_setup_s, "s")
            metrics["host.scale"] = (probe.scale(), "ratio")
            metrics["session.start_s"] = (session_s, "s")
            metrics["builder.build_index_s"] = (times["build_index_s"], "s")
            metrics["builder.spark_jobs"] = (tracer.job_counts(build_group)[0], "count")
            metrics["segments.build_segments_s"] = (times["build_segments_s"], "s")
            metrics["segments.n_segments"] = (described["n_segments"], "count")
            for name in STREAMS:
                metrics[f"segments.stream_bytes.{name}"] = (
                    described["stream_bytes"].get(name, 0), "B")
            metrics["tokenizer.turns_per_s"] = (layers.tokenizer_rate(pdf["text"]), "turns/s")
            metrics.update(layers.codec_rates(idx))
            attempted += 1
            try:
                metrics.update(layers.ingest(spark, tracer, docs,
                                             os.path.join(run_dir, "ingest"), INGEST_TURNS))
            except Exception:
                failures.append(f"ingest: {traceback.format_exc(limit=3)}")
    finally:
        stop_spark(spark)

    for f in failures[:10]:
        print(f"FAILED {f}", file=sys.stderr)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
