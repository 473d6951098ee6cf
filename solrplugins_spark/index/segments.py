"""Packed posting-list segments: the at-scale index representation.

Reference analogue: Lucene segment files (postings + norms) that the
plugins consume via IndexReader; suggester persistence
(DiceSuggester.java:120-136 lookup.store/load) is the same
write-once/load pattern. Here a *segment* is a contiguous docID range:

    postings/seg=<s>/  rows (term, df, cf, block_last array<long>,
                             block_max array<int>, data binary)
    doclens/seg=<s>/   one row (seg, doc_lo, n, dl_data binary)
    manifest.json      codec version, corpus stats, per-segment-group
                       lineage + throughput metrics (north rule:
                       resumable checkpoints with lineage and metrics)

Design for 10^12 turns: segments are doc-range shards, so posting
lists stay bounded (a term's postings split across segments), delta
encoding stays small (dense local ids), and query fan-out is
embarrassingly parallel per segment with a k-row-per-segment final
merge. Head-term skew never concentrates on one task because a
stop-word's postings are spread over every segment — the doc-range
sharding IS the salting for the packed layout (the flat build's
groupBy(doc_id, term) already salts naturally by doc).

Build is resumable: segment groups are built in separate Spark jobs;
each completed group appends a manifest entry; resume skips completed
groups and produces byte-identical output (tests/test_segments.py).
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import sys
import threading
import time
import weakref
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import _schemas, empty_df, local_relation
from .builder import InvertedIndex
from .codec import (
    BLOCK,
    decode_block_positions,
    decode_blocks,
    decode_payloads,
    decode_positions,
    decode_postings,
    encode_payloads,
    encode_positions,
    encode_postings,
    varint_decode,
    varint_encode,
)

# v3: optional positions (pos_data/pos_off) + payload (pay_data)
# sub-streams per posting row, so phrase and payload queries run on
# the packed/WAND path (reference consumes these via Lucene postings:
# PayloadAwareDefaultSimilarity.java:10-16, RecursiveDescentParser
# .java:90-107 quoted phrases).
CODEC_VERSION = 3

POSTINGS_SCHEMA = (
    "seg int, term string, df long, cf long, "
    "block_last array<long>, block_max array<int>, block_off array<long>, "
    "data binary, pos_off array<long>, pos_data binary, pay_data binary"
)
DOCLEN_SCHEMA = "seg int, doc_lo long, n int, dl_data binary"


@dataclass
class SegmentIndex:
    path: str
    n_docs: int
    avgdl: float
    n_segments: int
    seg_size: int
    # sub-stream presence, recorded at build time (None = pre-r03
    # manifest, unknown): lets compaction fail fast on mixed inputs
    # instead of silently dropping positions for shared terms
    has_positions: bool | None = None
    has_payloads: bool | None = None
    # numeric docvalues streams packed alongside (build_segments
    # value_cols) — stored-column ranges on the packed path
    value_cols: tuple = ()
    # string ordinal docvalues (build_segments string_cols) — packed
    # faceting (wand_facet_search)
    string_cols: tuple = ()
    # stored-field columns (build_segments store_cols) — fetch_docs
    store_cols: tuple = ()
    # docstore DDL ("doc_id bigint, text string, ...") recorded at
    # build time: the schema fetch_docs answers under
    store_schema: str | None = None
    # tokenizer settings the flat index was built with — the packed
    # /mlt and /uf handlers re-analyze stored seed text and MUST
    # tokenize identically to the postings or rankings silently
    # diverge; recorded in the manifest, defaulted by the handlers
    tok_kwargs: dict | None = None
    # driver-side reader of the local serving tier (_LocalReader): opened
    # at the first query, reopened when manifest.json changes
    _reader: "_LocalReader | None" = dataclasses.field(
        default=None, init=False, repr=False, compare=False
    )

    @classmethod
    def load(cls, path: str) -> "SegmentIndex":
        with open(os.path.join(path, "manifest.json")) as f:
            m = json.load(f)
        if m["codec_version"] != CODEC_VERSION:
            raise ValueError(f"codec version mismatch: {m['codec_version']}")
        if set(m["completed_groups"]) != set(range(m["n_groups"])):
            raise ValueError("index incomplete — resume the build first")
        return cls(path=path, **_manifest_fields(m))

    def reader(self, check: bool = True) -> "_LocalReader":
        """The driver-side reader of this index (see the local-tier
        block below). ``check`` stats manifest.json and reopens the
        reader when the file changed since it was opened — every
        delete_docs / update_docs / compaction commit rewrites it — and
        then refreshes this handle's manifest fields, so a compacted
        index's live-doc statistics take effect. A query checks once,
        at its first sidecar lookup; its later steps pass
        ``check=False``."""
        rd = self._reader
        if rd is not None and not check:
            return rd
        key = _manifest_key(self.path)
        if key is None:
            # no manifest to key on: nothing can be cached safely
            return _LocalReader(self.path, None)
        if rd is not None and rd.key == key:
            return rd
        with _REOPEN_LOCK:  # one reopen per commit, however many queries race it
            rd = self._reader
            if rd is None or rd.key != key:
                rd = _LocalReader(self.path, key)
                if {"n_docs", "avgdl", "n_segments", "seg_size"} <= rd.manifest.keys():
                    # one dict update: a racing query never sees half of it
                    self.__dict__.update(_manifest_fields(rd.manifest))
                self._reader = rd
        return rd

    def __getstate__(self):
        # the reader is driver-side state: never ship it in a closure
        state = dict(self.__dict__)
        state["_reader"] = None
        return state


_REOPEN_LOCK = threading.Lock()


def _manifest_fields(m: dict) -> dict:
    """SegmentIndex constructor fields recorded in a manifest."""
    return dict(
        n_docs=m["n_docs"],
        avgdl=m["avgdl"],
        n_segments=m["n_segments"],
        seg_size=m["seg_size"],
        has_positions=m.get("has_positions"),
        has_payloads=m.get("has_payloads"),
        value_cols=tuple(m.get("value_cols", [])),
        string_cols=tuple(m.get("string_cols", [])),
        store_cols=tuple(m.get("store_cols", [])),
        store_schema=m.get("store_schema"),
        tok_kwargs=m.get("tok_kwargs"),
    )


def _manifest_key(path: str) -> tuple | None:
    """Identity of an index's manifest.json (None if absent): every
    manifest write is a tmp-file rename, so any commit changes it."""
    try:
        st = os.stat(_manifest_path(path))
    except OSError:
        return None
    return (st.st_dev, st.st_ino, st.st_mtime_ns, st.st_size)


def _manifest_path(path: str) -> str:
    return os.path.join(path, "manifest.json")


def _read_manifest(path: str) -> dict | None:
    p = _manifest_path(path)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None


def _write_manifest(path: str, m: dict) -> None:
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=2)
    os.replace(tmp, _manifest_path(path))


_POSTINGS_COLS = [f.split()[0] for f in POSTINGS_SCHEMA.split(", ")]


def _postings_row(
    seg: int, term: str, docs: np.ndarray, tfs: np.ndarray,
    positions: list | None = None, payloads: np.ndarray | None = None,
) -> tuple:
    """One POSTINGS_SCHEMA row: a (seg, term) posting list with its
    block skip data and, when given, its positions/payload
    sub-streams — the one postings encoder of build_segments and
    compact_packed."""
    data, block_last, block_max, block_off = encode_postings(docs, tfs)
    pos_off = pos_data = pay_data = None
    if positions is not None:
        pos_data, po = encode_positions(positions, tfs)
        pos_off = po.tolist()
    if payloads is not None:
        pay_data = encode_payloads(payloads)
    return (
        int(seg), term, len(docs), int(tfs.sum()),
        block_last.tolist(), block_max.tolist(),
        block_off.tolist(), data, pos_off, pos_data, pay_data,
    )


def _encode_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """Encode every (seg, term) group in one pandas frame (rows
    already sorted by seg, term, doc_id). Optional `positions` /
    `payload` input columns become the v3 sub-streams."""
    has_pos = "positions" in pdf.columns
    has_pay = "payload" in pdf.columns
    return pd.DataFrame(
        [
            _postings_row(
                seg, term, g["doc_id"].to_numpy(), g["tf"].to_numpy(),
                list(g["positions"]) if has_pos else None,
                g["payload"].to_numpy() if has_pay else None,
            )
            for (seg, term), g in pdf.groupby(["seg", "term"], sort=False)
        ],
        columns=_POSTINGS_COLS,
    )


def _dense_row(seg: int, doc_lo: int, dense: np.ndarray) -> pd.DataFrame:
    """One DOCLEN_SCHEMA row: a segment's dense per-doc values as one
    varint stream — the doclens, docvalues and ordinal streams of
    build_segments and compact_packed."""
    return pd.DataFrame(
        {
            "seg": [seg],
            "doc_lo": [doc_lo],
            "n": [len(dense)],
            "dl_data": [varint_encode(dense.astype(np.uint64)).tobytes()],
        }
    )


def _encode_dense(pdf: pd.DataFrame, col: str, seg_size: int) -> pd.DataFrame:
    """One segment's (seg, doc_id, ``col``) rows as its dense stream
    (_dense_row): docs without a row (no tokens, no value) hold 0."""
    seg = int(pdf["seg"].iloc[0])
    doc_lo = seg * seg_size
    docs = pdf["doc_id"].to_numpy()
    vals = pdf[col].to_numpy()
    if not np.issubdtype(vals.dtype, np.integer):
        raise ValueError(
            f"docvalues column {col!r} must be integer-typed "
            f"(got {vals.dtype}) — floats would silently "
            "truncate and diverge from the flat range filter; "
            "cast explicitly or scale to integers first"
        )
    assert vals.min() >= 0, f"value_cols must be non-negative: {col}"
    n = int(docs.max() - doc_lo + 1) if len(docs) else 0
    dense = np.zeros(n, np.uint64)
    dense[docs - doc_lo] = vals.astype(np.uint64)
    return _dense_row(seg, doc_lo, dense)


def build_segments(
    index: InvertedIndex,
    out_path: str,
    seg_size: int = 65536,
    groups: int = 4,
    resume: bool = True,
    value_cols: list[str] | None = None,
    string_cols: list[str] | None = None,
    store_cols: list[str] | None = None,
) -> SegmentIndex:
    """Pack the flat index into compressed segments, resumably.

    Runs ``groups`` sequential Spark jobs, each building a slice of the
    segments; after each group commits (parquet written), its manifest
    entry is appended with lineage (segment range, row counts, codec
    version) and throughput. A killed build resumes from the manifest
    and yields byte-identical segments (content is a pure function of
    the flat index, which is deterministic given the corpus).

    ``value_cols``: non-negative integer columns of the stored corpus
    (``index.docs``) to pack as per-segment dense docvalues streams
    (the Lucene NumericDocValues analogue, varint-encoded like
    doclens) — enables stored-column range queries on the packed path
    (wand_boolean_search) without touching the corpus at query time.

    ``string_cols``: string columns to pack as ORDINAL docvalues (the
    SortedDocValues analogue): a global sorted value dictionary
    (docvalues_str/<col>/dict parquet, ordinals from 1; 0 = missing)
    plus per-segment dense ordinal streams — enables faceting over
    query docsets on the packed path (wand_facet_search) with
    segment-local counting.

    ``store_cols``: stored-field columns written seg-partitioned under
    docstore/ (the Lucene stored-fields / ir.document analogue) so
    ``fetch_docs`` can return full rows for a top-k result with
    partition-pruned point reads — no flat corpus needed at serve
    time.
    """
    spark = index.postings.sparkSession
    n_docs = index.n_docs
    n_segments = max(1, (n_docs + seg_size - 1) // seg_size)
    groups = min(groups, n_segments)
    value_cols = sorted(value_cols or [])
    string_cols = sorted(string_cols or [])
    store_cols = sorted(store_cols or [])
    for kind, cols in (
        ("value_cols", value_cols),
        ("string_cols", string_cols),
        ("store_cols", store_cols),
    ):
        if cols:
            if index.docs is None:
                raise ValueError(f"{kind} needs the stored corpus (index.docs)")
            missing = [c for c in cols if c not in index.docs.columns]
            if missing:
                raise ValueError(f"{kind} not in corpus: {missing}")

    m = _read_manifest(out_path) if resume else None
    if m is None or m.get("codec_version") != CODEC_VERSION:
        os.makedirs(out_path, exist_ok=True)
        m = {
            "codec_version": CODEC_VERSION,
            "n_docs": n_docs,
            "avgdl": index.avgdl,
            "seg_size": seg_size,
            "n_segments": n_segments,
            "n_groups": groups,
            "has_positions": "positions" in index.postings.columns,
            "has_payloads": "payload" in index.postings.columns,
            "value_cols": value_cols,
            "string_cols": string_cols,
            "store_cols": store_cols,
            "store_schema": (
                ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in index.docs.select("doc_id", *store_cols).schema.fields
                )
                if store_cols
                else None
            ),
            "tok_kwargs": dict(getattr(index, "tok_kwargs", {}) or {}),
            "completed_groups": [],
            "lineage": [],
        }
        _write_manifest(out_path, m)
    else:
        assert m["n_docs"] == n_docs and m["seg_size"] == seg_size, (
            "resume with different corpus/params — wipe the output dir"
        )
        assert m.get("value_cols", []) == value_cols, (
            "resume with different value_cols — wipe the output dir"
        )
        assert m.get("string_cols", []) == string_cols, (
            "resume with different string_cols — wipe the output dir"
        )
        assert m.get("store_cols", []) == store_cols, (
            "resume with different store_cols — wipe the output dir"
        )

    # a different `groups` would change the seg%groups assignment and
    # re-write segments already covered by completed groups into new
    # group=* dirs — duplicated postings at query time. Derive groups
    # from the manifest so resume is always safe (no-op on creation,
    # where the manifest was just written with n_groups=groups).
    groups = m["n_groups"]

    # global ordinal dictionaries (sorted values, ordinals from 1;
    # 0 = missing) — written once before the group loop so per-group
    # ordinal streams can join against them; resumable via manifest
    if string_cols and not m.get("string_dicts"):
        from pyspark.sql import Window as _W

        for sc in string_cols:
            (
                index.docs.select(F.col(sc).alias("value"))
                .filter(F.col("value").isNotNull())
                .distinct()
                # global row_number = single-partition window: fine
                # here because facet dictionaries are by definition
                # low-cardinality (they get counted into one response);
                # high-cardinality columns belong in value_cols/ranges
                .withColumn(
                    "ord",
                    F.row_number().over(_W.orderBy("value")).cast("long"),
                )
                .write.mode("overwrite")
                .parquet(os.path.join(out_path, "docvalues_str", sc, "dict"))
            )
        m["string_dicts"] = True
        _write_manifest(out_path, m)

    seg_col = (F.col("doc_id") / seg_size).cast("int")
    with_seg = index.postings.withColumn("seg", seg_col)
    dl_with_seg = index.doclen.withColumn("seg", seg_col)

    def encode_partition(batches):
        """ONE python stage per partition: Arrow batches can split a
        (seg, term) group, so the trailing group of each batch is
        carried into the next. 20k+ tiny applyInPandas groups become
        ~#partitions mapInPandas calls (measured ~10x on 2 cores)."""
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            last_seg = pdf["seg"].iloc[-1]
            last_term = pdf["term"].iloc[-1]
            tail_mask = (pdf["seg"] == last_seg) & (pdf["term"] == last_term)
            carry = pdf[tail_mask]
            head = pdf[~tail_mask]
            if len(head):
                yield _encode_rows(head)
        if carry is not None and len(carry):
            yield _encode_rows(carry)

    # lineage doc counts for every pending group in ONE aggregation —
    # counting inside the loop cost one full doclen scan PER GROUP
    # (4 extra jobs at the bench shape), pure overhead next to the
    # encode jobs that already touch the same rows
    pending = [g for g in range(groups) if g not in m["completed_groups"]]
    group_rows: dict[int, int] = {}
    if pending:
        group_rows = {
            int(r["g"]): int(r["cnt"])
            for r in index.doclen.groupBy(
                (((F.col("doc_id") / seg_size).cast("int")) % groups).alias("g")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    for g in range(groups):
        if g in m["completed_groups"]:
            continue
        t0 = time.time()
        segs_in_group = [s for s in range(n_segments) if s % groups == g]

        # The per-group streams (postings, doclens, docvalues, docstore,
        # ordinals) are INDEPENDENT writes over different projections of
        # the same inputs, and each alone under-fills the cluster (a
        # group holds n_segments/groups segments, so repartition('seg')
        # stages run that many tasks). Submitting them from a small
        # thread pool overlaps their tails (guide-standard concurrent
        # independent jobs; Spark's FIFO scheduler back-fills freed
        # cores), while the GROUP loop stays sequential — the group is
        # the resume/commit unit, and the manifest entry is appended
        # only after every stream's write has joined.
        def _write_postings(g=g):
            pg = with_seg.filter(F.col("seg") % groups == g)
            # hash-repartition on seg (a segment never splits across
            # tasks -> one parquet file per seg dir), sort by
            # (seg, term, doc_id) so the single-pass encoder sees
            # contiguous groups AND parquet row-group stats enable
            # term-predicate pushdown at query time
            (
                pg.repartition("seg")
                .sortWithinPartitions("seg", "term", "doc_id")
                .mapInPandas(encode_partition, schema=POSTINGS_SCHEMA)
                .write.mode("overwrite").partitionBy("seg")
                .parquet(os.path.join(out_path, "postings", f"group={g}"))
            )

        def _write_doclens(g=g):
            dg = dl_with_seg.filter(F.col("seg") % groups == g)
            dg.groupBy("seg").applyInPandas(
                lambda pdf: _encode_dense(pdf, "dl", seg_size), schema=DOCLEN_SCHEMA
            ).write.mode("overwrite").partitionBy("seg").parquet(
                os.path.join(out_path, "doclens", f"group={g}")
            )

        def _write_values(vc, g=g):
            (
                index.docs.select("doc_id", vc)
                .withColumn("seg", seg_col)
                .filter(F.col("seg") % groups == g)
                .groupBy("seg")
                .applyInPandas(
                    lambda pdf: _encode_dense(pdf, vc, seg_size),
                    schema=DOCLEN_SCHEMA,
                )
                .write.mode("overwrite")
                .partitionBy("seg")
                .parquet(os.path.join(out_path, "docvalues", vc, f"group={g}"))
            )

        def _write_store(g=g):
            # repartition('seg') + in-partition doc_id sort: one file
            # per seg with monotone doc_ids, so fetch_docs' doc_id-isin
            # predicate prunes row groups instead of scanning every
            # upstream task's interleaved output (same discipline as
            # the postings/doclens/docvalues writes)
            (
                index.docs.select("doc_id", *store_cols)
                .withColumn("seg", seg_col)
                .filter(F.col("seg") % groups == g)
                .repartition("seg")
                .sortWithinPartitions("seg", "doc_id")
                .write.mode("overwrite")
                .partitionBy("seg")
                .parquet(os.path.join(out_path, "docstore", f"group={g}"))
            )

        def _write_ordinals(sc, g=g):
            dict_df = spark.read.parquet(
                os.path.join(out_path, "docvalues_str", sc, "dict")
            )
            ords = index.docs.select("doc_id", F.col(sc).alias("value")).join(
                F.broadcast(dict_df), "value", "left"
            ).select("doc_id", F.coalesce("ord", F.lit(0)).alias("_ord"))
            (
                ords.withColumn("seg", seg_col)
                .filter(F.col("seg") % groups == g)
                .groupBy("seg")
                .applyInPandas(
                    lambda pdf: _encode_dense(pdf, "_ord", seg_size),
                    schema=DOCLEN_SCHEMA,
                )
                .write.mode("overwrite")
                .partitionBy("seg")
                .parquet(
                    os.path.join(
                        out_path, "docvalues_str", sc, "streams", f"group={g}"
                    )
                )
            )

        from concurrent.futures import ThreadPoolExecutor

        jobs = [_write_postings, _write_doclens]
        jobs += [lambda vc=vc: _write_values(vc) for vc in value_cols]
        if store_cols:
            jobs.append(_write_store)
        jobs += [lambda sc=sc: _write_ordinals(sc) for sc in string_cols]
        # stream-write concurrency (env-tunable: this sandbox serializes
        # syscalls globally, so concurrent shuffles can contend — the
        # default is picked by A/B on the bench shape; a real cluster
        # would raise it)
        workers = int(os.environ.get("SOLRPLUGINS_BUILD_STREAM_WORKERS", "2"))
        if len(jobs) == 1 or workers <= 1:
            for j in jobs:
                j()
        else:
            with ThreadPoolExecutor(max_workers=min(workers, len(jobs))) as pool:
                futures = [pool.submit(j) for j in jobs]
                for f in futures:
                    f.result()  # re-raise the first failure

        elapsed = time.time() - t0
        n_rows = group_rows.get(g, 0)
        m["completed_groups"].append(g)
        m["lineage"].append(
            {
                "group": g,
                "segments": segs_in_group,
                "codec_version": CODEC_VERSION,
                "docs": n_rows,
                "seconds": round(elapsed, 3),
                "docs_per_sec": round(n_rows / elapsed, 1) if elapsed > 0 else None,
            }
        )
        _write_manifest(out_path, m)

    # term->(df, cf) sidecar, range-partitioned + sorted by term:
    # query-time idf comes from a driver-side pyarrow row-group-pruned
    # read (O(query terms)), NOT a per-query Spark job over postings
    # metadata — a WAND query is ONE Spark job. The same sidecar is the
    # packed tier's term DICTIONARY (index.dictionary: serve-tier
    # spellcheck / suggest / /terms have no flat terms frame at 100-TB
    # scale) — cf rides along for /terms parity, and the explicit
    # repartitionByRange keeps every file a disjoint term range so a
    # prefix predicate prunes at file/row-group granularity no matter
    # how AQE would have coalesced the write. Written after all groups
    # (df is global), resumable via the manifest flag.
    if not m.get("termstats"):
        (
            index.terms.select("term", "df", "cf")
            .repartitionByRange(max(2, groups), "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(os.path.join(out_path, "termstats"))
        )
        m["termstats"] = True
        _write_manifest(out_path, m)

    return SegmentIndex(
        path=out_path,
        n_docs=n_docs,
        avgdl=m["avgdl"],
        n_segments=n_segments,
        seg_size=seg_size,
        has_positions=m.get("has_positions"),
        has_payloads=m.get("has_payloads"),
        value_cols=tuple(m.get("value_cols", [])),
        string_cols=tuple(m.get("string_cols", [])),
        store_cols=tuple(m.get("store_cols", [])),
        store_schema=m.get("store_schema"),
        tok_kwargs=m.get("tok_kwargs"),
    )


# ---------------------------------------------------------------------------
# query path: block-max pruned top-k over packed segments
# ---------------------------------------------------------------------------


def _as_gens(seg_index) -> list:
    """Normalize a SegmentIndex-or-generation-list into the
    [(gen_id, SegmentIndex)] shape every multi-generation surface
    consumes — the ONE place the generation contract (list = streamed
    deltas with disjoint doc sets, gen_id = list position) is encoded.
    The kernel input carries gen_id as its own ``gen`` column beside
    ``seg``, so segment ids of any size never collide across
    generations."""
    if isinstance(seg_index, (list, tuple)):
        return list(enumerate(seg_index))
    return [(0, seg_index)]

# ---------------------------------------------------------------------------
# serving plans: each packed request is planned ONCE, by _serving_plan
# (whose docstring states the three strategies and when each runs),
# from what it touches: a DRIVER-SIDE byte estimate (termstats sidecar
# and stream sizes, before anything is read) and the segment count.
# The plan travels with the kernel input built for it; nothing
# downstream re-derives it. On the "local" strategy the pruned
# postings/doclen rows are read with pyarrow and the SAME per-segment
# kernels run in-process — the Lucene/Solr shard-serving shape, where a
# bounded top-k never launches a distributed job. Above the byte budget
# (head terms at 10^12 docs, large indexes) the kernels run as a Spark
# stage, so the 100-TB plan shape is untouched.
#
# The kernel input is ONE Arrow table per (generation, segment), the
# view a Lucene segment reader gives its scorer (postings, norms,
# liveDocs): the _KERNEL_COLS rows of its term-pruned postings, its
# doclens, tombstones and docvalues, tagged with ``gen`` and ``seg``.
# Both tiers stack the same parts (_stack): the local tier from the
# reader's pyarrow tables, the Spark strategies from the same scans,
# handed to the kernels by groupBy("gen", "seg").applyInArrow or, in
# one task, coalesce(1).mapInArrow and the local tier's split
# (_by_segment). Partials, merges and finishes are Arrow tables too,
# up to the held answer (local_relation).
#
# The tiers differ only in WHERE the kernels run. Every packed top-k
# and boolean-family surface (bag search, cursor pages, /mlt and
# phrase search too) is one _Collector served by _serve: a term bag is
# one more query (_Terms), each segment's query is matched once
# (_segment_match; the top-k collector prunes a plain-BM25 bag), the
# collector's collect turns the match into a partial, ONE associative
# merge folds the partials (_partials) and ONE driver-side finish (the
# top-k cut, the facet/stats/group tails) answers: in-process on the
# local tier; inside the kernels' own stage, then one collect, on the
# Spark strategies. So every strategy serves the same rows in the same
# order because they run the same collect, merge and finish code, not
# because tests pin a pair of twins; the tier tests
# (tests/test_local_tier.py) stay as end-to-end checks of the two ways
# the kernel inputs are read.
#
# The reader. Each SegmentIndex owns one _LocalReader, the state Solr
# keeps per searcher (opened once per commit, reused across requests):
# - lifetime: opened lazily by the first query (never at build time) and
#   reopened when manifest.json changes. Every commit to a packed index
#   (build, delete_docs, update_docs, compact_packed) rewrites the
#   manifest by tmp-file rename, so a query checks the manifest's
#   identity with ONE os.stat and a stale reader is dropped whole.
# - contents: the pyarrow datasets of postings and termstats (discovered
#   once), the byte size of every stream directory the estimate counts
#   (stat-walked once, so a query walks nothing), and the doclens,
#   tombstone, docvalues and ordinal streams (Arrow tables) plus the
#   facet dictionaries, each read whole on its first use and kept while
#   the bound below allows. The Spark strategies use the termstats dataset
#   and the dictionaries (the facet finishes map ordinals through them
#   everywhere). Term-pruned postings stay a per-query read.
# - memory bound: the streams and dictionaries that ALL open readers of
#   the process hold share one pool, capped at the local-tier budget
#   (_HELD, charged at their in-memory size). A stream that would push
#   the pool past the budget is read per query and not kept, so the
#   driver holds at most one budget of streams however many handles and
#   generations are open. A dropped
#   reader returns its bytes to the pool. Datasets and sizes are
#   per-file metadata and are not charged. No knob beyond the budget.
# - payoff: the reader saves work only while one handle serves several
#   queries between commits; a handle that sees one query per commit
#   reads as much as it did without one.
# ---------------------------------------------------------------------------

# What one core decodes well within a serving latency budget: the
# default local-tier budget and the most one single-stage task decodes.
ONE_CORE_BYTES = 64 << 20

# up to this many total segments a request may skip the groupBy(seg)
# exchange: the pruned frame fits one task and the saved shuffle+stage
# round-trip dominates
SINGLE_STAGE_MAX_SEGMENTS = 64

# conservative per-posting byte costs for the sidecar-based estimate
# (delta-varint doc + tf is ~2-3 B/posting; block metadata adds
# ~24 B / 128 postings): 4 B/posting overshoots on purpose.
_EST_BYTES_PER_POSTING = 4
# positions sub-stream: ~2-3 B/occurrence varint + 8 B/posting pos_off
_EST_BYTES_PER_OCCURRENCE = 3
_EST_BYTES_POS_OFF = 10


def _dir_bytes(path: str) -> int:
    """Total on-disk bytes under ``path`` (0 if absent) — driver-side
    stat walk over O(n_segments) files, no Spark job."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _read_stream(path: str, rel: str, hive: bool = True):
    """One dense per-segment stream directory (doclens, deletes,
    docvalues, ordinal streams) as an Arrow table of (seg, doc_lo,
    data) read with pyarrow; None if the directory is absent."""
    import pyarrow.dataset as ds

    d = os.path.join(path, rel)
    if not os.path.isdir(d):
        return None
    return ds.dataset(
        d, format="parquet", partitioning="hive" if hive else None
    ).to_table(columns=["seg", "doc_lo", "dl_data"]).rename_columns(
        ["seg", "doc_lo", "data"]
    )


def _dv_rel(col: str, subdir: str = "docvalues") -> str:
    """Stream directory of a numeric (docvalues) or ordinal
    (docvalues_str) column, relative to the index root."""
    if subdir == "docvalues":
        return os.path.join(subdir, col)
    return os.path.join(subdir, col, "streams")


class _Held:
    """Bytes of streams and dictionaries held by the process's open
    readers — one pool, capped at the local-tier budget."""

    def __init__(self):
        self.total = 0
        self._lock = threading.RLock()  # re-entrant: release may run from GC

    def take(self, charge: list, n: int) -> bool:
        """Charge ``n`` bytes to a reader's ``charge`` cell if the pool
        stays within the budget; False (nothing charged) otherwise."""
        with self._lock:
            if self.total + n > _local_tier_budget():
                return False
            self.total += n
            charge[0] += n
            return True

    def release(self, charge: list) -> None:
        with self._lock:
            self.total -= charge[0]
            charge[0] = 0


_HELD = _Held()


def _stream_nbytes(st) -> int:
    """In-memory bytes of one stream table (_read_stream)."""
    return 0 if st is None else st.nbytes


def _dict_nbytes(d: dict) -> int:
    """In-memory bytes of one ord -> value dictionary."""
    return sys.getsizeof(d) + sum(
        sys.getsizeof(o) + sys.getsizeof(v) for o, v in d.items()
    )


class _LocalReader:
    """Driver-side reader of one packed index directory for the local
    tier (see the block comment above): lazily filled caches, valid for
    one manifest identity ``key``, safe to share between threads."""

    def __init__(self, path: str, key: tuple | None):
        self.path = path
        self.key = key
        self.manifest = _read_manifest(path) or {}
        self._cache: dict = {}
        self._lock = threading.RLock()
        # bytes this reader holds in the pool, returned when it dies
        self.pool, self.charge = _HELD, [0]
        weakref.finalize(self, self.pool.release, self.charge)

    def _cached(self, key: tuple, load, nbytes=None):
        """``load()``, computed once per reader (under its lock, so
        racing first queries read a stream once). With ``nbytes`` the
        value is held only if its size fits the _HELD pool; otherwise
        it is returned uncached and the next query reads it again."""
        try:
            return self._cache[key]
        except KeyError:
            pass
        with self._lock:
            if key in self._cache:
                return self._cache[key]
            value = load()
            if nbytes is None or self.pool.take(self.charge, nbytes(value)):
                self._cache[key] = value
            return value

    def dataset(self, rel: str):
        """pyarrow dataset of ``postings`` or ``termstats``, discovered
        once; None if the directory is absent (pre-sidecar index)."""

        def load():
            import pyarrow.dataset as ds

            d = os.path.join(self.path, rel)
            if not os.path.isdir(d):
                return None
            return ds.dataset(
                d, format="parquet",
                partitioning="hive" if rel == "postings" else None,
            )

        return self._cached(("dataset", rel), load)

    def size(self, rel: str) -> int:
        """On-disk bytes of one stream directory, walked once."""
        return self._cached(
            ("size", rel), lambda: _dir_bytes(os.path.join(self.path, rel))
        )

    def stream(self, rel: str):
        """One dense stream's Arrow table (_read_stream), read once if
        it fits the _HELD pool; None if absent (the deletes stream of
        an undeleted index)."""
        return self._cached(
            ("stream", rel),
            lambda: _read_stream(self.path, rel, hive=rel != "deletes"),
            _stream_nbytes,
        )

    def dictionary(self, col: str) -> dict:
        """ord -> value of one ordinal docvalues column, read once if
        it fits the _HELD pool."""

        def load():
            import pyarrow.parquet as pq

            tbl = pq.read_table(
                os.path.join(self.path, "docvalues_str", col, "dict"),
                columns=["value", "ord"],
            )
            return dict(
                zip(tbl.column("ord").to_pylist(), tbl.column("value").to_pylist())
            )

        return self._cached(("dictionary", col), load, _dict_nbytes)


def _local_tier_budget() -> int:
    """The local tier's driver byte budget: SOLRPLUGINS_LOCAL_TIER_MAX_BYTES,
    read at call time so tests and operators can flip the tier without
    re-importing, else ONE_CORE_BYTES. 0 turns the local tier off (every
    request on a Spark strategy, for A/B and for deployments that want
    the driver doing strictly no data work)."""
    return int(os.environ.get("SOLRPLUGINS_LOCAL_TIER_MAX_BYTES", ONE_CORE_BYTES))


def _local_estimate(
    pairs: list[tuple["SegmentIndex", list[str]]],
    with_subs: bool,
    extra_streams: list[tuple["SegmentIndex", str]] = (),
    stats_list: list | None = None,
) -> int | None:
    """Upper-bound estimate of the bytes a local-tier execution would
    read: per-term postings (df/cf from the termstats sidecar — the
    same lookup every query already does for idf) + the full doclens /
    deletes streams + any docvalues/ordinal streams (``extra_streams``:
    (index, stream directory) pairs) the caller needs. Stream sizes come
    from the index's reader, walked once per commit. None = no sidecar
    (pre-sidecar index) -> distributed path. ``stats_list`` (aligned
    with ``pairs``) lets callers that already fetched the sidecar stats
    for idf skip a second lookup."""
    total = 0
    for i, (si, terms) in enumerate(pairs):
        stats = (
            stats_list[i]
            if stats_list is not None
            else _sidecar_stats(si, terms)
        )
        if stats is None:
            return None
        for df_t, cf_t in stats.values():
            total += int(df_t) * _EST_BYTES_PER_POSTING
            if with_subs:
                total += (
                    int(df_t) * _EST_BYTES_POS_OFF
                    + int(cf_t) * _EST_BYTES_PER_OCCURRENCE
                )
        rd = si.reader(check=False)
        total += rd.size("doclens") + rd.size("deletes")
    for si, rel in extra_streams:
        total += si.reader(check=False).size(rel)
    return total


@dataclass(frozen=True)
class _Plan:
    """How one packed request is served (_serving_plan): ``strategy``
    is "local", "single_stage" or "exchange"; ``est`` is the byte
    estimate it was chosen from (None without a sidecar)."""

    strategy: str
    est: int | None


def _serving_plan(
    pairs: list[tuple["SegmentIndex", list[str]]],
    with_subs: bool,
    extra_streams: list[tuple["SegmentIndex", str]] = (),
    stats_list: list | None = None,
) -> _Plan:
    """The one serving decision for everything a request touches:
    ``pairs`` lists every (index, terms) whose postings it reads — each
    generation and each field index — and ``extra_streams`` the
    docvalues/ordinal streams (arguments as for _local_estimate). The
    same per-segment kernels then run one of three ways:

    - "local": the byte estimate is at most the local-tier budget
      (_local_tier_budget; 0 never goes local). The kernel input is an
      Arrow table read on the driver and the kernels run in-process:
      zero Spark jobs.
    - "single_stage": a Spark strategy over at most
      SINGLE_STAGE_MAX_SEGMENTS segments whose estimate (if any) is at
      most ONE_CORE_BYTES: coalesce(1) + mapInArrow scores every
      segment in one task — no exchange, one scheduling wave.
    - "exchange": everything else (many segments, or a frame too big
      for one core): groupBy("gen", "seg").applyInArrow scores
      segments in parallel across executors, the 10^12-doc shape.

    Without a termstats sidecar there is no estimate, so the request
    takes a Spark strategy."""
    est = _local_estimate(pairs, with_subs, extra_streams, stats_list)
    budget = _local_tier_budget()
    if est is not None and 0 < budget and est <= budget:
        return _Plan("local", est)
    n_segments = sum(si.n_segments for si, _ in pairs)
    if (est is None or est <= ONE_CORE_BYTES) and (
        0 < n_segments <= SINGLE_STAGE_MAX_SEGMENTS
    ):
        return _Plan("single_stage", est)
    return _Plan("exchange", est)


def _gen_stats(gens: list[tuple[int, "SegmentIndex"]]) -> tuple[int, float]:
    """(n_docs, avgdl) to score with: one generation's own manifest
    stats (the value flat ``index.avgdl`` serves), pooled over several
    (disjoint doc sets: n sums, avgdl is the token-weighted mean). Read
    after the query's sidecar lookup, which refreshes a handle whose
    manifest changed."""
    if len(gens) == 1:
        si = gens[0][1]
        return si.n_docs, si.avgdl
    n = sum(si.n_docs for _, si in gens)
    total_tokens = sum(si.avgdl * si.n_docs for _, si in gens)
    return n, total_tokens / n if n else 0.0


# The kernel input's columns, declared once (see the serving block
# comment): a part fills only the columns it has (postings: term, df,
# block_*, data; streams: doc_lo, data; docvalues: term = the column)
# and _stack null-fills the rest. The sub-stream columns ride along
# only when a phrase or a payload similarity reads them.
_SUB_COLS = ["pos_off", "pos_data", "pay_data"]
_KERNEL_COLS = [
    "gen", "seg", "_kind", "fld", "term", "df",
    "block_last", "block_max", "block_off", "doc_lo", "data",
] + _SUB_COLS


def _stack(parts: list, plan: _Plan):
    """One kernel input from parts built for ``plan``: an Arrow table
    on the local tier, a DataFrame on the Spark strategies; columns a
    part lacks are null, in _KERNEL_COLS order."""
    if plan.strategy == "local":
        tbl = pa.concat_tables(parts, promote_options="default")
        return tbl.select([c for c in _KERNEL_COLS if c in tbl.column_names])
    df = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )
    return df.select(*[c for c in _KERNEL_COLS if c in df.columns])


def _tagged(tbl, gen: int, kind: str, field: str, term: str | None = None):
    """A local kernel-input part: ``tbl``'s columns with its gen,
    _kind, fld (and a docvalues part's term) tags."""
    n = tbl.num_rows
    tags = {
        "gen": pa.array(np.full(n, gen, np.int64)),
        "_kind": pa.repeat(pa.scalar(kind), n),
        "fld": pa.repeat(pa.scalar(field), n),
    }
    if term is not None:
        tags["term"] = pa.repeat(pa.scalar(term), n)
    for name, col in tags.items():
        tbl = tbl.append_column(name, col)
    return tbl


def _by_segment(tbl, per_segment):
    """Run ``per_segment`` over each (gen, seg) group of a kernel-input
    table — what groupBy("gen", "seg").applyInArrow does — and stack
    its non-empty outputs; None when there are none. The local tier's
    kernel pass, and the single-stage strategy's inside its one task.
    Groups run in (gen, seg) order, each with its rows in input order
    (np.lexsort is stable)."""
    outs = []
    if tbl.num_rows:
        gen, seg = tbl.column("gen").to_numpy(), tbl.column("seg").to_numpy()
        order = np.lexsort((seg, gen))
        g, s = gen[order], seg[order]
        cuts = np.flatnonzero((g[1:] != g[:-1]) | (s[1:] != s[:-1])) + 1
        # one group (the common single-segment request) needs no take
        groups = [tbl] if not len(cuts) else map(tbl.take, np.split(order, cuts))
        for group in groups:
            out = per_segment(group)
            if out.num_rows:
                outs.append(out)
    return pa.concat_tables(outs) if outs else None


_TOPK_SCHEMA = "doc_id long, score double"


def _empty(schema: str):
    """A zero-row Arrow table of DDL ``schema`` (the Arrow schema
    local_relation caches for the same DDL). Driver-side only: parsing
    a DDL needs the active session."""
    return _schemas(schema)[1].empty_table()


def _partials(unified, plan: _Plan, per_segment, schema: str, merge):
    """Run the per-segment kernels over ``unified`` (built for
    ``plan``) and return their partials merged by ``merge``
    (associative and idempotent: partials -> partials of the same
    ``schema``) as one driver-side Arrow table, a zero-row one of
    ``schema`` when no segment produced rows.

    On the "local" strategy the kernels and the merge run in-process.
    On the Spark strategies the merge runs inside the kernels' own
    stage (_apply_per_segment), the merged partitions are collected in
    ONE job, and the driver merges them once more — at most partitions
    x (k | facet vocabulary | 1) rows cross, the per-shard response of
    Solr's distributed search. Every strategy then finishes the merged
    partials with the same code."""
    if plan.strategy == "local":
        res = _by_segment(unified, per_segment)
    else:
        res = _apply_per_segment(
            unified, plan, per_segment, schema, merge
        ).toArrow()
    if res is None or not res.num_rows:
        return _empty(schema)
    return merge(res)


_FOLDS = {"sum": np.add, "min": np.minimum, "max": np.maximum}


def _fold(res: pa.Table, keys: list[str], how: dict) -> pa.Table:
    """Merge of count/moment partials: rows grouped by ``keys`` (one
    row for all of them when empty) in key order, each column of
    ``how`` folded with its "sum" / "min" / "max". Integer counts and
    the moments of integer docvalues are exact in any order (below
    2^53). Plain numpy: a pandas groupby's fixed cost (milliseconds)
    would dominate a local-tier facet request."""
    out: dict = {}
    if not keys:
        inv, first = np.zeros(len(res), np.intp), np.zeros(1, np.intp)
    elif len(keys) == 1:
        uniq, first, inv = np.unique(
            res[keys[0]].to_numpy(), return_index=True, return_inverse=True
        )
        out[keys[0]] = uniq
    else:
        uniq, first, inv = np.unique(
            np.stack([res[k].to_numpy() for k in keys], axis=1), axis=0,
            return_index=True, return_inverse=True,
        )
        out.update((k, uniq[:, i]) for i, k in enumerate(keys))
    inv = inv.reshape(-1)
    for c, f in how.items():
        v = res[c].to_numpy()
        acc = np.zeros(len(first), v.dtype) if f == "sum" else v[first].copy()
        _FOLDS[f].at(acc, inv, v)
        out[c] = acc
    return pa.table(out)


def _top_per_ord(res: pa.Table, limit: int) -> pa.Table:
    """Merge of collapse/group partials: the best ``limit`` rows of
    each (gen, ord) under (score desc, doc_id asc); scores are already
    kernel-rounded, so every segment's winners compare exactly."""
    cols = {c: res[c].to_numpy() for c in ("gen", "ord", "doc_id", "score")}
    order = np.lexsort((cols["doc_id"], -cols["score"], cols["ord"], cols["gen"]))
    g, o = cols["gen"][order], cols["ord"][order]
    starts = np.flatnonzero(
        np.concatenate([[True], (g[1:] != g[:-1]) | (o[1:] != o[:-1])])
    )
    rank = np.arange(len(order)) - np.repeat(starts, np.diff(np.append(starts, len(order))))
    keep = order[rank < limit]
    return pa.table({c: v[keep] for c, v in cols.items()})


def _topk_cut(
    res: pa.Table,
    k: int,
    round_to: int,
    after: tuple[float, int] | None = None,
) -> pa.Table:
    """Merge AND finish of a (doc_id, score) top-k: round (_spark_round
    IS F.round, exact HALF_UP, idempotent) -> cursor re-check -> the
    (score desc, doc_id asc) lexsort -> the first k — rows in that
    order. Internal consumers (rerank passes, handler seed exclusion)
    use the table as is; public surfaces hold it once (_relation)."""
    ids = res["doc_id"].to_numpy()
    scores = _spark_round(res["score"].to_numpy(), round_to)
    if after is not None:
        s_a, d_a = float(after[0]), int(after[1])
        keep = (scores < s_a) | ((scores == s_a) & (ids > d_a))
        ids, scores = ids[keep], scores[keep]
    order = np.lexsort((ids, -scores))[: min(k, len(ids))]
    return pa.table({"doc_id": ids[order], "score": scores[order]})


def _relation(spark: SparkSession, out: pa.Table) -> DataFrame:
    """A surface's (doc_id, score) answer as a DataFrame: held; it
    crosses into the JVM on its first Spark use (local_relation)."""
    return local_relation(spark, out, _TOPK_SCHEMA)


def _ord_dicts(gens, col: str) -> dict:
    """gen -> {ord -> value} from the per-generation ordinal
    dictionaries, read through each index's reader (facet
    vocabularies are bounded by construction)."""
    return {gen_id: si.reader(check=False).dictionary(col) for gen_id, si in gens}


def _null_first_sorted(keys) -> list:
    """Sort facet values like Spark's ASC NULLS FIRST (UTF-8 binary
    order == Python code-point order for str)."""
    return sorted(keys, key=lambda v: (v is not None, v if v is not None else ""))


def _facet_counts(spark, res, gens, facet_col: str) -> DataFrame:
    """Finish of wand_facet_search: merged (gen, ord, cnt) partials
    through each generation's dictionary, summed by value, rows in
    value order ASC NULLS FIRST."""
    schema = f"{facet_col} string, cnt long"
    dmap = _ord_dicts(gens, facet_col)
    agg: dict = {}
    for g, o, c in zip(
        res["gen"].to_numpy(), res["ord"].to_numpy(), res["cnt"].to_numpy()
    ):
        v = dmap[int(g)].get(int(o))
        agg[v] = agg.get(v, 0) + int(c)
    vals = _null_first_sorted(agg)
    return local_relation(
        spark,
        {
            facet_col: vals,
            "cnt": np.array([agg[v] for v in vals], np.int64),
        },
        schema,
    )


def _collapse_topk(spark, res, gens, collapse_col: str, k: int) -> DataFrame:
    """Finish of wand_collapse_search: per-value winner under the
    (score, -doc_id) comparator across generations, then the top k
    winners, rows in (score desc, doc_id asc) order."""
    schema = f"{collapse_col} string, doc_id long, score double"
    dmap = _ord_dicts(gens, collapse_col)
    best: dict = {}
    for g, o, d, s in zip(
        res["gen"].to_numpy(), res["ord"].to_numpy(),
        res["doc_id"].to_numpy(), res["score"].to_numpy(),
    ):
        v = dmap[int(g)].get(int(o))
        key = (float(s), -int(d))
        cur = best.get(v)
        if cur is None or key > cur[0]:
            best[v] = (key, int(d), float(s))
    vals = list(best)
    ids = np.array([best[v][1] for v in vals], np.int64)
    scores = np.array([best[v][2] for v in vals], np.float64)
    order = np.lexsort((ids, -scores))[: min(k, len(ids))]
    return local_relation(
        spark,
        {
            collapse_col: [vals[i] for i in order],
            "doc_id": ids[order],
            "score": scores[order],
        },
        schema,
    )


def _range_counts(spark, res, start: int, gap: int, n_buckets: int) -> DataFrame:
    """Finish of wand_facet_range_search: the full bucket lattice with
    zero counts served (Solr returns every bucket), rows in bucket
    order."""
    cnts = np.zeros(n_buckets, np.int64)
    for o, c in zip(res["ord"].to_numpy(), res["cnt"].to_numpy()):
        o = int(o)
        if 0 <= o < n_buckets:
            cnts[o] += int(c)
    buckets = np.int64(start) + np.arange(n_buckets, dtype=np.int64) * np.int64(gap)
    return local_relation(
        spark, {"bucket": buckets, "cnt": cnts}, "bucket long, cnt long"
    )


_STATS_SCHEMA = (
    "cnt long, min_v long, max_v long, sum_v long, mean_v double, stddev_v double"
)
_MOMENTS = {"cnt": "sum", "s": "sum", "ss": "sum", "mn": "min", "mx": "max"}


def _stats_row(n: int, s: float, ss: float, mn: float, mx: float, round_to: int):
    """One merged-moments stats row — StatsValuesFactory's corrected
    formula: sample stddev NULL at n == 1, the variance operand clamped
    at 0 (floating-point cancellation on near-constant columns must not
    serve NaN), mean and stddev HALF_UP-rounded; double->long casts
    truncate toward zero like Spark's cast."""
    mean = float(_spark_round(np.array([s / n]), round_to)[0])
    if n > 1:
        var = max(ss - s * s / n, 0.0) / (n - 1)
        std = float(_spark_round(np.array([float(np.sqrt(var))]), round_to)[0])
    else:
        std = None
    return (np.int64(n), np.int64(int(mn)), np.int64(int(mx)),
            np.int64(int(s)), mean, std)


def _stats_answer(spark, res, round_to: int) -> DataFrame:
    """Finish of wand_stats_search: the one merged moment row (see
    _stats_row); no row when nothing matched."""
    if not len(res) or int(res["cnt"][0].as_py()) <= 0:
        return empty_df(spark, _STATS_SCHEMA)
    r = res.slice(0, 1).to_pylist()[0]
    cnt, min_v, max_v, sum_v, mean, std = _stats_row(
        int(r["cnt"]), float(r["s"]), float(r["ss"]), float(r["mn"]),
        float(r["mx"]), round_to,
    )
    return local_relation(
        spark,
        {
            "cnt": [cnt], "min_v": [min_v], "max_v": [max_v],
            "sum_v": [sum_v], "mean_v": [mean],
            "stddev_v": [std],
        },
        _STATS_SCHEMA,
    )


def _facet_query_counts(spark, res, names: list[str]) -> DataFrame:
    """Finish of wand_facet_query_search: per-name count sums, one row
    per name in ``names`` (zero counts served), rows in name order."""
    schema = "name string, cnt long"
    agg = dict.fromkeys(names, 0)
    for nm, c in zip(res["name"].to_pylist(), res["cnt"].to_numpy()):
        agg[nm] += int(c)
    names = sorted(agg)
    return local_relation(
        spark,
        {"name": names, "cnt": np.array([agg[n] for n in names], np.int64)},
        schema,
    )


def _stats_facet(spark, res, gens, facet_col: str, round_to: int) -> DataFrame:
    """Finish of wand_stats_facet_search: merged (gen, ord) moments
    through each generation's dictionary, merged again by value, one
    _stats_row per non-empty value, rows in value order ASC NULLS
    FIRST."""
    schema = f"{facet_col} string, " + _STATS_SCHEMA
    dmap = _ord_dicts(gens, facet_col)
    acc: dict = {}
    for g, o, c, sv, ssv, mnv, mxv in zip(
        res["gen"].to_numpy(), res["ord"].to_numpy(), res["cnt"].to_numpy(),
        res["s"].to_numpy(), res["ss"].to_numpy(),
        res["mn"].to_numpy(), res["mx"].to_numpy(),
    ):
        v = dmap[int(g)].get(int(o))
        a = acc.get(v)
        if a is None:
            acc[v] = [int(c), float(sv), float(ssv), float(mnv), float(mxv)]
        else:
            a[0] += int(c)
            a[1] += float(sv)
            a[2] += float(ssv)
            a[3] = min(a[3], float(mnv))
            a[4] = max(a[4], float(mxv))
    vals = [v for v in _null_first_sorted(acc) if acc[v][0] > 0]
    rows = [_stats_row(*acc[v], round_to) for v in vals]
    return local_relation(
        spark,
        {
            facet_col: vals,
            "cnt": [r[0] for r in rows],
            "min_v": [r[1] for r in rows],
            "max_v": [r[2] for r in rows],
            "sum_v": [r[3] for r in rows],
            "mean_v": [r[4] for r in rows],
            "stddev_v": [r[5] for r in rows],
        },
        schema,
    )


def _check_percentiles(percentiles: list[float]) -> None:
    for p in percentiles:
        if not 0.0 < p <= 1.0:
            raise ValueError(f"percentiles must be in (0, 1], got {p}")


def _percentiles(spark, res, percentiles: list[float]) -> DataFrame:
    """Finish of wand_stats_percentiles_search: the k-th-smallest rule
    (k = ceil(p*n)) over the merged (value, cnt) histogram, one row per
    distinct percentile, rows in pct order."""
    import math

    schema = "pct double, value long"
    hist: dict = {}
    for o, c in zip(res["ord"].to_numpy(), res["cnt"].to_numpy()):
        o = int(o)
        hist[o] = hist.get(o, 0) + int(c)
    n = sum(hist.values())
    values = sorted(hist)
    cums = np.cumsum(np.array([hist[v] for v in values], np.int64))
    out_p, out_v = [], []
    for p in sorted(set(float(p) for p in percentiles)):
        idx = int(np.searchsorted(cums, math.ceil(n * p), side="left"))
        if idx < len(values):
            out_p.append(p)
            out_v.append(np.int64(values[idx]))
    return local_relation(
        spark, {"pct": np.array(out_p, np.float64), "value": out_v}, schema
    )


def _group_topn(
    spark, res, gens, group_col: str, k_groups: int, group_limit: int
) -> DataFrame:
    """Finish of wand_group_search: member lists sorted by (score desc,
    doc_id asc) and cut to ``group_limit``, groups ranked by their head
    member, the top ``k_groups`` exploded back to rows in (grp_rank,
    pos) order."""
    schema = (
        f"grp_rank int, {group_col} string, pos int, doc_id long, score double"
    )
    dmap = _ord_dicts(gens, group_col)
    groups: dict = {}
    for g, o, d, s in zip(
        res["gen"].to_numpy(), res["ord"].to_numpy(),
        res["doc_id"].to_numpy(), res["score"].to_numpy(),
    ):
        v = dmap[int(g)].get(int(o))
        groups.setdefault(v, []).append((-float(s), int(d), float(s)))
    heads = []
    for v, members in groups.items():
        members.sort()
        del members[group_limit:]
        heads.append((members[0][0], members[0][1], v))
    heads.sort(key=lambda h: (h[0], h[1]))
    del heads[k_groups:]
    rows = {
        "grp_rank": [], group_col: [], "pos": [], "doc_id": [], "score": [],
    }
    for rank, (_, _, v) in enumerate(heads, start=1):
        for pos, (_, d, s) in enumerate(groups[v], start=1):
            rows["grp_rank"].append(np.int32(rank))
            rows[group_col].append(v)
            rows["pos"].append(np.int32(pos))
            rows["doc_id"].append(np.int64(d))
            rows["score"].append(s)
    return local_relation(spark, rows, schema)


def _apply_per_segment(
    unified: DataFrame,
    plan: _Plan,
    per_segment,
    schema: str,
    merge,
) -> DataFrame:
    """The Spark plan of a per-segment Arrow kernel over the unified
    frame, on ``plan``'s Spark strategy (_serving_plan), its outputs
    merged per partition by ``merge`` (see _partials) and cast to
    ``schema``:

    - "exchange": groupBy("gen", "seg").applyInArrow; the shuffle
      moves only the term-pruned rows, and the merge is a mapInArrow
      in the same stage as the kernels, so it adds no job.
    - "single_stage": coalesce(1) + mapInArrow splits the rows into
      segments in-process (_by_segment) and merges — the same kernels,
      no exchange, one scheduling wave instead of two. coalesce(1) and
      never coalesce(n): a segment's postings and doclen rows live in
      different FILES, so any n > 1 could split a segment across
      partitions and score it on partial inputs.

    The "local" strategy never gets here: _partials runs the same
    kernels and the same merge in-process (_by_segment)."""
    arrow_schema = _schemas(schema)[1]

    def merged(batches, kernels=lambda tbl: tbl):
        batches = [b for b in batches if b.num_rows]
        res = kernels(pa.Table.from_batches(batches)) if batches else None
        if res is not None and res.num_rows:
            yield from merge(res).cast(arrow_schema).to_batches()

    if plan.strategy == "single_stage":
        return unified.coalesce(1).mapInArrow(
            functools.partial(
                merged, kernels=lambda tbl: _by_segment(tbl, per_segment)
            ),
            schema=schema,
        )
    return unified.groupBy("gen", "seg").applyInArrow(
        lambda tbl: per_segment(tbl).cast(arrow_schema), schema=schema
    ).mapInArrow(merged, schema=schema)


def _decode_doclens(dl_data: bytes) -> np.ndarray:
    vals, _ = varint_decode(np.frombuffer(dl_data, dtype=np.uint8))
    return vals.astype(np.int64)


# ---------------------------------------------------------------------------
# deletions: per-segment tombstone streams (the Lucene liveDocs analogue)
# ---------------------------------------------------------------------------

# Sentinel written into dense streams (doclens / docvalues / ordinals)
# by compact_packed for slots whose doc was tombstoned: the compacted
# index carries no tombstone stream, so match-all / range / facet
# paths need a way to tell "deleted slot" from a real value. 2^48-1 is
# reserved — doc lengths and docvalues never legitimately reach it
# (documented contract; build_segments packs token counts and
# non-negative ints far below 2^48).
TOMBSTONE = np.int64((1 << 48) - 1)


def _encode_tombstones(ids: np.ndarray, doc_lo: int) -> bytes:
    """Sorted absolute doc ids -> delta varint stream (same codec as
    doclens; first value relative to doc_lo)."""
    rel = np.sort(np.unique(ids.astype(np.int64))) - doc_lo
    deltas = np.empty(len(rel), np.uint64)
    if len(rel):
        deltas[0] = np.uint64(rel[0])
        deltas[1:] = np.diff(rel).astype(np.uint64)
    return varint_encode(deltas).tobytes()


def _decode_tombstones(data: bytes, doc_lo: int) -> np.ndarray:
    """Delta varint stream -> sorted absolute doc ids."""
    vals, _ = varint_decode(np.frombuffer(data, dtype=np.uint8))
    if len(vals) == 0:
        return np.array([], np.int64)
    return doc_lo + np.cumsum(vals.astype(np.int64))


def _deletes_dir(path: str) -> str:
    return os.path.join(path, "deletes")


def _tombstones_by_seg(stream) -> dict[int, np.ndarray]:
    """seg -> sorted unique absolute deleted doc ids from a deletes
    stream table (_read_stream; None = no deletions)."""
    if stream is None:
        return {}
    out: dict[int, list] = {}
    for seg, lo, blob in zip(
        *(stream[c].to_numpy() for c in ("seg", "doc_lo", "data"))
    ):
        out.setdefault(int(seg), []).append(_decode_tombstones(blob, int(lo)))
    return {
        s: np.unique(np.concatenate(parts)) for s, parts in out.items()
    }


def _load_tombstones(path: str) -> dict[int, np.ndarray]:
    """seg -> sorted unique absolute deleted doc ids, read driver-side
    with pyarrow (no Spark job — tombstone streams are delete-by-id
    scale, the same bounded-driver-read contract as the termstats
    sidecar). A fresh read: writers (delete_docs, compaction) must not
    see a query reader's cache."""
    return _tombstones_by_seg(_read_stream(path, "deletes", hive=False))


def delete_docs(path: str, doc_ids) -> dict:
    """Tombstone a bounded set of doc ids on a packed index — the
    delete-by-id the reference assumes beneath every handler (Solr's
    deleteById over Lucene liveDocs). Appends one sorted varint-delta
    tombstone stream per touched segment under deletes/ (append-only:
    repeated deletes union at read time); every packed query surface
    strips tombstoned docs at postings-decode time, and
    ``compact_packed`` physically drops them and clears the stream.

    Lucene stats semantics until compaction: n_docs, avgdl and df keep
    counting tombstoned docs (IndexReader.docFreq ignores liveDocs),
    so surviving docs' scores are unchanged — results equal the
    undeleted index's results with tombstoned ids removed.

    Driver-side pyarrow write + manifest append; no Spark job. Returns
    {"n_requested", "n_new", "tombstone_gen"}.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    m = _read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no packed index manifest under {path!r}")
    seg_size = int(m["seg_size"])
    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    if len(ids) == 0:
        return {"n_requested": 0, "n_new": 0, "tombstone_gen": m.get("tombstone_gen", 0)}
    if ids.min() < 0:
        raise ValueError(f"delete_docs: negative doc id ({ids.min()})")
    # no upper-bound check: a streamed generation's doc ids are an
    # OFFSET range (its n_docs is a count, not a bound), and a
    # tombstone for an id this generation doesn't hold strips nothing
    # at decode time — a harmless no-op, same as Lucene's
    # deleteDocuments(Term) matching nothing in a segment
    existing = _load_tombstones(path)
    gen = int(m.get("tombstone_gen", 0)) + 1
    segs, los, ns, blobs = [], [], [], []
    n_new = 0
    for seg in np.unique(ids // seg_size):
        seg = int(seg)
        doc_lo = seg * seg_size
        seg_ids = ids[(ids // seg_size) == seg]
        fresh = seg_ids[~np.isin(seg_ids, existing.get(seg, np.array([], np.int64)))]
        if len(fresh) == 0:
            continue
        n_new += len(fresh)
        segs.append(seg)
        los.append(doc_lo)
        ns.append(len(fresh))
        blobs.append(_encode_tombstones(fresh, doc_lo))
    if n_new:
        os.makedirs(_deletes_dir(path), exist_ok=True)
        tbl = pa.table(
            {
                "seg": pa.array(segs, pa.int32()),
                "doc_lo": pa.array(los, pa.int64()),
                "n": pa.array(ns, pa.int32()),
                "dl_data": pa.array(blobs, pa.binary()),
            }
        )
        pq.write_table(
            tbl, os.path.join(_deletes_dir(path), f"del-{gen:05d}.parquet")
        )
        m["tombstone_gen"] = gen
        m["has_deletes"] = True
        m.setdefault("lineage", []).append(
            {"op": "delete", "tombstone_gen": gen, "n_ids": int(n_new)}
        )
        _write_manifest(path, m)
    return {"n_requested": int(len(ids)), "n_new": int(n_new), "tombstone_gen": gen}


def live_docs(path: str) -> dict:
    """Deletion introspection: total/live/deleted doc counts and the
    per-segment tombstone tally — driver-side, no Spark job."""
    m = _read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no packed index manifest under {path!r}")
    tombs = _load_tombstones(path)
    n_del = sum(len(v) for v in tombs.values())
    return {
        "n_docs": int(m["n_docs"]),
        "n_deleted": int(n_del),
        "n_live": int(m["n_docs"]) - int(n_del),
        "per_segment": {int(s): int(len(v)) for s, v in sorted(tombs.items())},
    }


def delete_by_query(
    spark: SparkSession,
    path: str,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    field_segments: dict | None = None,
    max_ids: int = 1_000_000,
) -> dict:
    """Solr's deleteByQuery over the packed index: evaluate the parsed
    boolean query per segment (the same evaluator every packed search
    uses — Operand/And/Or/Not/Quote/FieldQuery/Range), collect the
    matching ids, and tombstone them via ``delete_docs``.

    Bounded-driver contract: the match set crosses the driver as ids
    (delete-by-id is the storage model), capped at ``max_ids`` —
    targeted purges (a user's docs, a date range, a poisoned source)
    are the use case, exactly Solr's. A delete that would tombstone a
    corpus-scale fraction should be a filtered rebuild instead; the
    cap raises rather than silently truncating.

    Idempotent: already-tombstoned docs never match (the evaluator
    strips them at decode time), so re-running deletes nothing new.
    """
    # the match set as ids, cut at max_ids + 1 per segment and per
    # merge: enough to tell an over-cap delete on every strategy
    cut = max_ids + 1
    ids = _serve(spark, SegmentIndex.load(path), query, _Collector(
        "doc_id long",
        lambda m: pa.table({"doc_id": m.docs[:cut]}),
        lambda res: res.slice(0, cut),
        lambda res: res["doc_id"].to_pylist(),
    ), k1, b, field_segments)
    if len(ids) > max_ids:
        raise ValueError(
            f"delete_by_query matched more than max_ids={max_ids} docs — "
            "this is a corpus-scale delete; rebuild from a filtered "
            "corpus (or raise max_ids explicitly)"
        )
    return delete_docs(path, ids)


def _strip_deleted(
    docs: np.ndarray, deleted: np.ndarray, *aligned: np.ndarray
):
    """Drop tombstoned ids from a sorted-unique doc array plus any
    per-doc aligned arrays. The liveDocs check applied at decode time:
    removing docs only removes score mass, so block-max upper bounds
    stay valid and WAND pruning stays exact."""
    if deleted.size == 0 or docs.size == 0:
        return (docs, *aligned) if aligned else docs
    keep = ~np.isin(docs, deleted, assume_unique=True)
    if aligned:
        return (docs[keep], *(a[keep] for a in aligned))
    return docs[keep]


def _segment_topk_core(
    term_rows: list[dict],
    dls: np.ndarray,
    doc_lo: int,
    boosts: dict[str, float],
    idfs: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    chunk: int = 4,
    deleted: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, dict]:
    """Exact top-k for one segment: impact-ordered block-max scoring.

    DAAT-class pruning adapted to vectorized (Arrow batch) execution.
    Classic WAND moves per-doc pointers (PostingsEnum.advance,
    BinaryTermExistsValueSource.java:128-147); a python loop per doc
    would throw away vectorization, so this uses the score-at-a-time
    formulation over the same block-max skip data:

      phase 1 — decode blocks strictly in descending per-block upper
        bound (ub = boost*idf*tf_part(block_max_tf, dl_min)), chunked
        per term, until the k-th PARTIAL score strictly beats the sum
        of every term's best undecoded block ub. At that point no
        unseen doc can reach the top-k (its score is bounded by that
        sum), so a head term's long tf=1 tail never decodes.
      phase 2 — completion: candidates are accumulated docs whose
        partial + remaining bound reaches the k-th partial; for each
        term, decode only its undecoded blocks that contain a
        candidate (binary search on block_last — the advance() skip)
        and add their exact contributions. Scores of returned docs are
        exact, so ranking is identical to the flat path including the
        (score desc, doc_id asc) tie-break: any doc outside the
        candidate set is strictly below the k-th final score.

    Returns (doc_ids, scores, stats); stats counts decoded vs total
    blocks — the pruning effectiveness metric asserted by the
    skewed-tf fixture in tests/test_segments.py.
    """
    import heapq

    # TOMBSTONE slots (compacted-away deletions) are not real lengths
    nonzero = dls[(dls > 0) & (dls != TOMBSTONE)]
    dl_min = float(nonzero.min()) if len(nonzero) else 1.0
    norm_min = k1 * (1.0 - b + b * dl_min / avgdl)

    terms = []
    total_blocks = 0
    for r in term_rows:
        t = r["term"]
        bl = np.asarray(r["block_last"], dtype=np.int64)
        bo = np.asarray(r["block_off"], dtype=np.int64)
        bm = np.asarray(r["block_max"], dtype=np.float64)
        if len(bm) == 0:
            continue
        w = boosts[t] * idfs[t]
        ub = w * bm * (k1 + 1.0) / (bm + norm_min)
        order = np.argsort(-ub, kind="stable")  # impact order
        terms.append({
            "t": t, "data": r["data"], "bl": bl, "bo": bo,
            "df": int(r["df"]), "ub": ub, "order": order, "ptr": 0,
            "decoded": np.zeros(len(ub), dtype=bool),
        })
        total_blocks += len(ub)

    acc_docs = np.array([], dtype=np.int64)
    acc_scores = np.array([], dtype=np.float64)
    stats = {"blocks_decoded": 0, "blocks_total": total_blocks}
    if not terms:
        return acc_docs, acc_scores, stats

    def bm25(tfs: np.ndarray, docs: np.ndarray, t: str) -> np.ndarray:
        dl = dls[docs - doc_lo].astype(np.float64)
        tf = tfs.astype(np.float64)
        return (
            boosts[t] * idfs[t] * tf * (k1 + 1.0)
            / (tf + k1 * (1.0 - b + b * dl / avgdl))
        )

    def merge(docs: np.ndarray, scores: np.ndarray) -> None:
        nonlocal acc_docs, acc_scores
        all_docs = np.concatenate([acc_docs, docs])
        all_scores = np.concatenate([acc_scores, scores])
        uniq, inv = np.unique(all_docs, return_inverse=True)
        summed = np.zeros(len(uniq), np.float64)
        np.add.at(summed, inv, all_scores)
        acc_docs, acc_scores = uniq, summed

    def decode_marked(ti: dict, block_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        ti["decoded"][block_ids] = True
        stats["blocks_decoded"] += len(block_ids)
        docs, tfs = decode_blocks(
            ti["data"], np.sort(block_ids), ti["bo"], ti["bl"], ti["df"]
        )
        if deleted is not None and deleted.size:
            # the liveDocs check at postings-decode time: tombstoned
            # docs never enter the accumulator, so theta reflects live
            # docs only; block upper bounds remain valid (dropping docs
            # only removes score mass) and pruning stays exact
            docs, tfs = _strip_deleted(docs, deleted, tfs)
        return docs, tfs

    # ---- phase 1: impact-ordered chunks until theta beats remaining
    heap = [(-ti["ub"][ti["order"][0]], i) for i, ti in enumerate(terms)]
    heapq.heapify(heap)
    while heap:
        theta = (
            np.partition(acc_scores, len(acc_scores) - k)[len(acc_scores) - k]
            if len(acc_scores) >= k
            else -np.inf
        )
        remaining = sum(
            ti["ub"][ti["order"][ti["ptr"]]]
            for ti in terms
            if ti["ptr"] < len(ti["order"])
        )
        if len(acc_scores) >= k and remaining < theta:
            break
        _, i = heapq.heappop(heap)
        ti = terms[i]
        take = ti["order"][ti["ptr"]: ti["ptr"] + chunk]
        ti["ptr"] += len(take)
        docs, tfs = decode_marked(ti, take)
        merge(docs, bm25(tfs, docs, ti["t"]))
        if ti["ptr"] < len(ti["order"]):
            heapq.heappush(heap, (-ti["ub"][ti["order"][ti["ptr"]]], i))

    # ---- phase 2: complete candidate scores from undecoded blocks
    theta = (
        np.partition(acc_scores, len(acc_scores) - k)[len(acc_scores) - k]
        if len(acc_scores) >= k
        else -np.inf
    )
    remaining = sum(
        ti["ub"][ti["order"][ti["ptr"]]]
        for ti in terms
        if ti["ptr"] < len(ti["order"])
    )
    if remaining > 0.0 and len(acc_docs):
        # per-doc remaining bound, tighter than the global sum: a term
        # can add at most the ub of the doc's OWN containing block, and
        # nothing at all if that block is already decoded (its
        # contribution is then exact in the accumulator).
        per_doc = np.zeros(len(acc_docs), np.float64)
        for ti in terms:
            blk = np.searchsorted(ti["bl"], acc_docs)
            valid = blk < len(ti["bl"])
            undecoded = valid.copy()
            undecoded[valid] = ~ti["decoded"][blk[valid]]
            per_doc[undecoded] += ti["ub"][blk[undecoded]]
        cand = acc_docs[acc_scores + per_doc >= theta]
        for ti in terms:
            if ti["ptr"] >= len(ti["order"]) or len(cand) == 0:
                continue
            need = np.unique(np.searchsorted(ti["bl"], cand))
            need = need[need < len(ti["bl"])]
            need = need[~ti["decoded"][need]]
            if len(need) == 0:
                continue
            docs, tfs = decode_marked(ti, need)
            mask = np.isin(docs, cand, assume_unique=True)
            docs, tfs = docs[mask], tfs[mask]
            if len(docs):
                merge(docs, bm25(tfs, docs, ti["t"]))

    return acc_docs, acc_scores, stats


def _sim_scores_np(sim, tf, dl, df, n, avgdl, payload=None):
    """Vectorized Similarity.score_expr (query/scorer.py) in numpy —
    identical formulas so packed-path results are rank-identical to
    the flat path for every similarity variant."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    if getattr(sim, "lossy_norm", False) and sim.kind != "classic":
        # same contract as Similarity.score_expr — the packed path
        # must not silently drop the flag the flat path rejects
        raise ValueError(
            "lossy_norm mirrors DefaultSimilarity's byte315 norm "
            "byte — classic kind only (BM25 keeps exact norms)"
        )
    if sim.kind == "bm25":
        idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5)) if sim.use_idf else 1.0
        if sim.use_tf:
            if sim.use_norm:
                tfp = tf * (sim.k1 + 1.0) / (
                    tf + sim.k1 * (1.0 - sim.b + sim.b * dl / avgdl)
                )
            else:
                tfp = tf * (sim.k1 + 1.0) / (tf + sim.k1)
        else:
            tfp = (tf > 0).astype(np.float64)
        s = idf * tfp
    else:
        idf = np.log(n / (df + 1.0)) + 1.0 if sim.use_idf else 1.0
        tfp = np.sqrt(tf) if sim.use_tf else (tf > 0).astype(np.float64)
        if sim.use_norm:
            norm = 1.0 / np.sqrt(dl)
            if getattr(sim, "lossy_norm", False):
                # byte315 round-trip (query/scorer.byte315_table):
                # float32-round then largest representable <= x
                from ..query.scorer import _BYTE315

                tbl = np.asarray(_BYTE315)
                x = norm.astype(np.float32).astype(np.float64)
                idx = np.searchsorted(tbl, x, side="right")
                norm = tbl[np.maximum(idx, 1) - 1]
        else:
            norm = 1.0
        s = tfp * idf * norm
    if sim.use_payload and payload is not None:
        s = s * payload
    return s


def _topk_frame(acc_docs: np.ndarray, acc_scores: np.ndarray, k: int) -> pa.Table:
    """Deterministic per-segment top-k: full (score desc, doc asc)
    lexsort, NOT argpartition — among tied scores (e.g. the score-0
    complement of a NOT query) the k chosen must be the lowest doc ids
    or the global merge diverges from the flat path's tie-break."""
    order = np.lexsort((acc_docs, -np.round(acc_scores, 12)))[:k]
    return pa.table({
        "doc_id": pa.array(acc_docs[order], pa.int64()),
        "score": pa.array(acc_scores[order], pa.float64()),
    })


def _spark_round(scores: np.ndarray, rt: int) -> np.ndarray:
    """Vectorized Spark-compatible rounding: HALF_UP on the shortest
    decimal repr (java BigDecimal.valueOf(double)) — bit-for-bit what
    F.round serves on the flat tier and what the shared DuckDB oracles
    compute.

    np.round (binary half-even on the scaled binary value) agrees with
    that everywhere except within ~one repr-ULP of a .5 quantum
    boundary; only that band pays the exact per-element Decimal path,
    so the fast path stays fully vectorized. Shared by the packed
    collapse/group winner selection and the boost_fn base rounding so
    packed winner order matches the flat/Spark rounding exactly
    (a .xxxx5-boundary score must not flip a group winner between
    collapse_search and wand_collapse_search)."""
    rs = np.round(scores, rt)
    scaled = scores * (10.0**rt)
    frac = scaled - np.floor(scaled)
    # the band must scale with the value: the repr-vs-binary offset of
    # a .5-quantum boundary is a few ULPs OF THE SCALED VALUE, so a
    # fixed 1e-6 misses boundary cases once |scaled| > ~5e9 (boosted
    # scores times large docvalues). Once the scaled ULP reaches ~0.1
    # the fractional detection itself loses resolution, and 4*ulp
    # covers the whole [0,1) frac range — i.e. every such (rare,
    # pathological-magnitude) value takes the exact Decimal path.
    sp = np.spacing(np.abs(scaled))
    band = np.abs(frac - 0.5) <= np.maximum(1e-6, 4.0 * sp)
    if band.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-rt)
        rs[band] = np.array(
            [
                float(Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP))
                for v in scores[band]
            ],
            np.float64,
        )
    return rs


def _cursor_keep(
    scores: np.ndarray, docs: np.ndarray, s_a: float, d_a: int, rt: int
) -> np.ndarray:
    """searchAfter keep-mask: True where (round(score, rt), doc) sits
    strictly after the cursor in (score desc, doc asc) order — under
    the SAME rounding the client's cursor was produced with.

    np.round is binary half-even; the cursor holds Spark F.round
    values (HALF_UP on the shortest decimal repr,
    java.math.BigDecimal.valueOf). For a double within one quantum of
    the cursor the two roundings can disagree, which would drop a
    page-2 doc (or let a page-1 doc burn a top-k slot) BEFORE the
    per-segment truncation — so docs in that band get the exact Spark
    rounding via decimal (repr(float) is the same shortest round-trip
    repr Double.toString produces). The band is at most the
    cursor-score tie group; everything outside it rounds to the same
    side under both schemes (the two roundings of one double differ
    by at most one quantum). Property-tested against a pure-Decimal
    reference in tests/test_cursor.py. Rounding now delegated to the
    shared _spark_round (exact HALF_UP everywhere, not just in the
    cursor band — strictly stronger than the original band fix)."""
    rs = _spark_round(scores, rt)
    return (rs < s_a) | ((rs == s_a) & (docs > d_a))


def _sloppy_chain_docs(
    slot_data: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
    doc_lo: int,
    slop: int,
    cand_docs: np.ndarray,
) -> np.ndarray:
    """LOCAL doc ids holding an in-order occurrence chain of the
    phrase slots whose window holds at most ``slop`` extra positions
    (p_last - p_0 - (n-1) <= slop) — ordered SpanNearQuery semantics.

    ``slot_data``: per-slot (docs, tfs, positions) in PHRASE order;
    ``docs`` are global ids, ``positions`` flat-aligned to
    repeat(docs, tfs). Docs ascend and positions ascend within a doc,
    so the composed (local_doc, pos) int64 keys are sorted and every
    extension step is one vectorized searchsorted. Each occurrence of
    slot 0 seeds one candidate chain; every step extends each chain to
    the FIRST next-slot position past its current end — greedy-minimal
    extension is exact (for a fixed start, the minimal reachable end
    minimizes the final window), and chains already past the slop
    budget are pruned, so the live set only shrinks. Only docs of
    ``cand_docs`` (global ids) seed chains."""
    M = np.int64(1) << np.int64(32)
    keys = []
    for docs, tfs, pos in slot_data:
        if len(docs) == 0:
            return np.array([], np.int64)
        k = np.repeat(docs.astype(np.int64) - doc_lo, tfs) * M + pos.astype(
            np.int64
        )
        keys.append(k)
    cur = keys[0][np.isin(keys[0] // M, cand_docs.astype(np.int64) - doc_lo)]
    starts = cur
    for j in range(1, len(keys)):
        kj = keys[j]
        idx = np.searchsorted(kj, cur + 1)
        ok = idx < len(kj)
        nxt = kj[np.minimum(idx, len(kj) - 1)]
        ok &= (nxt // M) == (cur // M)
        ok &= (nxt % M) - (starts % M) - j <= slop
        cur, starts = nxt[ok], starts[ok]
        if cur.size == 0:
            return np.array([], np.int64)
    return np.unique(starts // M)


def _candidate_blocks(
    row: dict, cand: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(docs, tfs, positions) of the blocks of posting ``row`` that can
    hold a doc of ``cand`` (sorted global ids): intersecting with them
    is exact, and other blocks cost no decode — the skip data of
    BinaryTermExistsValueSource.java:128-147 applied to positions."""
    block_last = np.asarray(row["block_last"], dtype=np.int64)
    need = np.unique(np.searchsorted(block_last, cand))
    need = need[need < len(block_last)]
    n_total = int(row["df"])
    docs, tfs = decode_blocks(
        row["data"], need, row["block_off"], block_last, n_total
    )
    bounds = np.concatenate([[0], np.cumsum(np.minimum(BLOCK, n_total - need * BLOCK))])
    pos = decode_block_positions(
        row["pos_data"], need, row["pos_off"],
        [tfs[bounds[j]:bounds[j + 1]] for j in range(len(need))],
    )
    return docs, tfs, pos


def _sum_by_doc(parts: list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(sorted docs, summed scores, how many parts hold each doc) of
    (docs, scores) parts, each doc-unique; scores add in part order."""
    docs = np.concatenate([np.array([], np.int64)] + [d for d, _ in parts])
    uniq, inv, counts = np.unique(docs, return_inverse=True, return_counts=True)
    summed = np.zeros(len(uniq), np.float64)
    np.add.at(summed, inv, np.concatenate([np.array([])] + [s for _, s in parts]))
    return uniq, summed, counts


@dataclass(frozen=True)
class _Terms:
    """A weighted term bag, Lucene's BooleanQuery of boosted SHOULD
    TermQuery clauses with a minShouldMatch (MLTQuery.java:46-58): the
    query of wand_search(_multi), cursor pages and packed /mlt.
    ``terms`` holds distinct analyzer tokens (never analyzed again)
    with their weights, sorted by term; a doc scores the weighted sum
    of the terms it holds and matches when it holds at least ``mm``
    of them — a segment-local count (a doc's postings all live in its
    segment), so per-segment cuts stay exact."""

    terms: tuple
    mm: int = 1

    @classmethod
    def of(cls, terms_boosts, mm: int = 1) -> "_Terms":
        """The bag of (term, weight) pairs; a repeated term sums its
        weights."""
        w: dict[str, float] = {}
        for t, wt in terms_boosts:
            w[t] = w.get(t, 0.0) + float(wt)
        return cls(tuple(sorted(w.items())), int(mm))


@dataclass
class _Match:
    """One segment's match (_segment_match), the one input every
    collector reads: the matched ``tree``, its sorted, tombstone-stripped
    ``docs`` and their ``scores`` (computed by ``run`` on first read,
    so a collector that prunes never evaluates the tree), the segment's
    generation ``gen``, its decoded docvalues (``dvs``: column ->
    values, ``dv_lo``: column -> first doc id) and the closures that
    score over the segment's memoized decodes: ``evaluate`` a subtree,
    ``term_scores`` one weighted term, ``prune(k)`` the block-max top
    k of a plain-BM25 bag (None for any other tree)."""

    tree: object
    gen: int
    dvs: dict
    dv_lo: dict
    evaluate: Callable
    term_scores: Callable
    prune: Callable
    run: Callable

    @functools.cached_property
    def _result(self) -> tuple[np.ndarray, np.ndarray]:
        return self.run()

    @property
    def docs(self) -> np.ndarray:
        return self._result[0]

    @property
    def scores(self) -> np.ndarray:
        return self._result[1]

    def values(self, *cols: str) -> tuple:
        """(docs, scores, one value array per column) of the matched
        docs that hold a value in every docvalues stream ``cols``: ids
        outside a stream's range drop out, and so do TOMBSTONE slots
        (compacted deletions — the sentinel would corrupt every count
        and moment, and a 2^48 ordinal would size a bincount)."""
        keep = np.ones(len(self.docs), bool)
        raw = []
        for c in cols:
            arr = self.dvs.get(c, np.array([], np.int64))
            ids = self.docs - self.dv_lo.get(c, 0)
            ok = (ids >= 0) & (ids < len(arr))
            v = np.full(len(ids), TOMBSTONE)
            v[ok] = arr[ids[ok]]
            keep &= v != TOMBSTONE
            raw.append(v)
        return (self.docs[keep], self.scores[keep], *(v[keep] for v in raw))


def _segment_match(
    tbl: pa.Table,
    tree,
    field_ctx: dict[str, dict],
) -> _Match:
    """Per-segment boolean-tree evaluation over posting rows.

    Boolean algebra (Or=union-sum, And=intersection-sum, Not=
    complement) is doc-LOCAL, and segments partition docs by range, so
    evaluating the tree independently per segment and merging the
    collectors' partials is exact — the same argument that makes
    WAND's per-segment fan-out correct. Node ops are numpy set algebra
    on (sorted docs, scores) pairs; leaves score from rows decoded on
    first use and memoized per (field, term), with one rule: weight x
    the field's Similarity (_sim_scores_np, the flat score_expr).

    A _Terms bag is the weighted union-sum of its terms, cut to docs
    holding at least ``mm`` of them; ``prune`` serves a plain-BM25
    bag at mm <= 1 by block-max scoring over the undecoded rows
    (_segment_topk_core) instead.

    Quote is the packed path's one phrase matcher: terms go
    rarest-first by segment df, the first decodes in full and fixes
    the candidates, and later terms decode only candidate blocks
    (_candidate_blocks), so a head term never pays its full decode.
    Exact phrases intersect (local_doc, pos - slot) keys; ``"a b"~n``
    narrows at the doc level, then tests the ordered span-near window
    (_sloppy_chain_docs). Hits score the flat _phrase way: member-term
    scores summed over the decoded postings, which cover every hit.

    ``tbl`` is one (gen, seg) group of the kernel input (_KERNEL_COLS).
    ``field_ctx`` maps field name -> {"dfs", "n", "avgdl", "sim"} (""
    = default field); rows in ``tbl`` carry a matching ``fld`` tag.
    FieldQuery nodes switch the scoring context to that field's
    postings/doclens/stats (the per-field index routing of the flat
    QueryCompiler, segment-local because all per-field indexes share
    the doc space). Range nodes evaluate over the intrinsic doc_id key
    (constant score 1.0, the ConstantScoreRangeQuery semantic);
    stored-column ranges need the flat path's corpus. ``*:*`` matches
    every live doc with score 0. A segment without default-field
    doclens matches nothing.
    """
    from ..analysis.tokenizer import tokenize_pandas
    from ..query import ast as qast
    from ..query.compiler import is_match_all
    from ..query.scorer import Similarity

    none = (np.array([], np.int64), np.array([], np.float64))
    gen = tbl["gen"][0].as_py()
    kind = tbl["_kind"].to_numpy()

    def rows_of(k: str, keys: list[str]) -> list[dict]:
        """The ``keys`` of this segment's ``k`` rows, read column by
        column (an absent sub-stream column reads None)."""
        part = tbl.select(
            [c for c in keys if c in tbl.column_names]
        ).take(np.flatnonzero(kind == k))
        cols = [
            part[c].to_numpy() if c in part.column_names else [None] * len(part)
            for c in keys
        ]
        return [dict(zip(keys, vals)) for vals in zip(*cols)]

    dls_by_field: dict[str, np.ndarray] = {}
    doc_lo_by_field: dict[str, int] = {}
    for r in rows_of("dl", ["fld", "data", "doc_lo"]):
        f = r["fld"]
        dls_by_field[f] = _decode_doclens(r["data"])
        doc_lo_by_field[f] = int(r["doc_lo"])
    if "" not in dls_by_field:
        return _Match(
            tree, gen, {}, {}, lambda node, fld="": none,
            lambda t, fld, weight=1.0: none, lambda k: None, lambda: none,
        )
    doc_lo = doc_lo_by_field[""]
    dls = dls_by_field[""]
    # dl=0 docs never match (no tokens); TOMBSTONE slots are
    # compacted-away deletions — neither belongs in the match-all set
    all_docs = doc_lo + np.flatnonzero(
        (dls > 0) & (dls != TOMBSTONE)
    ).astype(np.int64)
    # the union of the segment's tombstone rows; per-field parts stack
    # duplicate del rows, np.unique dedups
    deleted = np.unique(np.concatenate([np.array([], np.int64)] + [
        _decode_tombstones(r["data"], int(r["doc_lo"]))
        for r in rows_of("del", ["data", "doc_lo"])
    ]))

    dvs: dict[str, np.ndarray] = {}
    dv_lo: dict[str, int] = {}
    for r in rows_of("dv", ["term", "data", "doc_lo"]):
        dvs[r["term"]] = _decode_doclens(r["data"])
        dv_lo[r["term"]] = int(r["doc_lo"])

    rows = {
        (r["fld"], r["term"]): r
        for r in rows_of(
            "post",
            ["fld", "term", "df", "data", "block_last", "block_max",
             "block_off", "pos_off", "pos_data", "pay_data"],
        )
    }
    decoded: dict[tuple[str, str], tuple[np.ndarray, np.ndarray]] = {}

    def postings(key: tuple[str, str]) -> tuple[np.ndarray, np.ndarray]:
        """One posting row's (docs, tfs), decoded once."""
        if key not in decoded:
            decoded[key] = decode_postings(rows[key]["data"])
        return decoded[key]

    def score(
        term: str, fld: str, docs: np.ndarray, tfs: np.ndarray, payload=None
    ) -> np.ndarray:
        """``term``'s scores in field ``fld`` over the given postings."""
        ctx = field_ctx.get(fld, field_ctx[""])
        dl = dls_by_field.get(fld, dls)[docs - doc_lo_by_field.get(fld, doc_lo)]
        return _sim_scores_np(
            ctx["sim"], tfs, dl, float(ctx["dfs"][term]), float(ctx["n"]),
            ctx["avgdl"], payload=payload,
        )

    def term_scores(term: str, fld: str, weight: float = 1.0):
        """(docs, weight x scores) over ``term``'s full postings in
        field ``fld``; nothing for a term without postings or df."""
        ctx = field_ctx.get(fld, field_ctx[""])
        row = rows.get((fld, term))
        if row is None or term not in ctx["dfs"]:
            return none
        docs, tfs = postings((fld, term))
        payload = None
        if ctx["sim"].use_payload:
            if row["pay_data"] is None:
                # fail fast (like a phrase over an index without
                # positions) rather than silently dropping the payload
                # factor and diverging from the flat path
                raise ValueError(
                    "packed index lacks payloads (built without the "
                    f"payload sub-stream) — cannot score term '{term}' "
                    "with a payload similarity"
                )
            payload = decode_payloads(row["pay_data"])
        return docs, weight * score(term, fld, docs, tfs, payload)

    def range_eval(field: str, node) -> tuple[np.ndarray, np.ndarray]:
        """Constant-score 1.0 range docset (the flat compiler's
        _range semantic): intrinsic doc_id key, or any numeric column
        packed as a docvalues stream (build_segments value_cols)."""

        def _num(v: str) -> float:
            try:
                return float(int(v))
            except ValueError:
                return float(v)

        if field != "doc_id":
            if field not in dvs:
                raise ValueError(
                    f"packed range over {field!r} needs a docvalues "
                    "stream — rebuild with build_segments(..., "
                    f"value_cols=[{field!r}]) (doc_id ranges are "
                    "intrinsic)"
                )
            vals = dvs[field]
            v_lo = dv_lo[field]
            # TOMBSTONE slots (compacted deletions) match no range
            mask = vals != TOMBSTONE
            if node.low is not None:
                lo_v = _num(node.low)
                mask &= (vals >= lo_v) if node.include_low else (vals > lo_v)
            if node.high is not None:
                hi_v = _num(node.high)
                mask &= (vals <= hi_v) if node.include_high else (vals < hi_v)
            docs = v_lo + np.flatnonzero(mask).astype(np.int64)
            return docs, np.ones(len(docs), np.float64)

        lo_edge = float(doc_lo)
        hi_edge = float(doc_lo + len(dls) - 1)
        lo = lo_edge if node.low is None else _num(node.low)
        hi = hi_edge if node.high is None else _num(node.high)
        if node.low is not None and not node.include_low:
            lo = np.floor(lo) + 1.0
        if node.high is not None and not node.include_high:
            hi = np.ceil(hi) - 1.0
        lo = int(max(lo_edge, np.ceil(lo)))
        hi = int(min(hi_edge, np.floor(hi)))
        if hi < lo:
            return none
        docs = np.arange(lo, hi + 1, dtype=np.int64)
        # compacted deletions hold TOMBSTONE in the doclen stream —
        # a doc_id range must not resurrect them (dl=0 docs DO match:
        # empty docs exist in the doc space)
        docs = docs[dls[docs - doc_lo] != TOMBSTONE]
        return docs, np.ones(len(docs), np.float64)

    def evaluate(node, fld: str = ""):
        if isinstance(node, _Terms):
            docs, scores, held = _sum_by_doc(
                [term_scores(t, fld, w) for t, w in node.terms]
            )
            keep = held >= node.mm
            return docs[keep], scores[keep]
        if is_match_all(node):
            return all_docs, np.zeros(len(all_docs), np.float64)
        if isinstance(node, qast.Operand):
            toks = sorted(set(tokenize_pandas(pd.Series([node.value]))[0]))
            return _sum_by_doc([term_scores(t, fld) for t in toks])[:2]
        if isinstance(node, qast.Or):
            return _sum_by_doc(
                [evaluate(node.left, fld), evaluate(node.right, fld)]
            )[:2]
        if isinstance(node, qast.And):
            if isinstance(node.right, qast.Not):
                ld, ls = evaluate(node.left, fld)
                rd, _ = evaluate(node.right.child, fld)
                keep = ~np.isin(ld, rd, assume_unique=True)
                return ld[keep], ls[keep]
            if isinstance(node.left, qast.Not):
                rd, rs = evaluate(node.right, fld)
                ld, _ = evaluate(node.left.child, fld)
                keep = ~np.isin(rd, ld, assume_unique=True)
                return rd[keep], rs[keep]
            ld, ls = evaluate(node.left, fld)
            rd, rs = evaluate(node.right, fld)
            both = np.intersect1d(ld, rd, assume_unique=True)
            return both, (
                ls[np.searchsorted(ld, both)] + rs[np.searchsorted(rd, both)]
            )
        if isinstance(node, qast.Not):
            md, _ = evaluate(node.child, fld)
            keep = ~np.isin(all_docs, md, assume_unique=True)
            docs = all_docs[keep]
            return docs, np.zeros(len(docs), np.float64)
        if isinstance(node, qast.Range):
            return range_eval("doc_id", node)
        if isinstance(node, qast.FieldQuery):
            fname = node.field.rstrip(":")
            if isinstance(node.child, qast.Range):
                return range_eval(fname, node.child)
            if fname not in field_ctx:
                raise ValueError(
                    f"no packed index for field {fname!r} — pass it via "
                    "field_segments (build_segments over that field's "
                    "flat index; same doc space and seg_size)"
                )
            return evaluate(node.child, fname)
        if isinstance(node, qast.Quote):
            phrase = list(tokenize_pandas(pd.Series([node.child.evaluate()]))[0])
            # a term without postings here matches nothing; one whose
            # postings lack positions raises, never silently empty
            for t in phrase:
                if (fld, t) in rows and rows[(fld, t)]["pos_data"] is None:
                    raise ValueError(
                        f"packed index for field {fld or 'default'!r} "
                        "lacks positions (codec<3 build) — phrase "
                        "queries need build_index(positions=True)"
                    )
            if not phrase or any((fld, t) not in rows for t in phrase):
                return none
            f_lo = doc_lo_by_field.get(fld, doc_lo)
            M = np.int64(1) << np.int64(32)  # local doc ids < seg_size << 2^32
            got: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
            keys = hits = None
            dfs = [int(rows[(fld, t)]["df"]) for t in phrase]
            for slot in sorted(range(len(phrase)), key=lambda i: (dfs[i], phrase[i])):
                t = phrase[slot]
                if hits is None:
                    docs, tfs = postings((fld, t))
                    pos = decode_positions(rows[(fld, t)]["pos_data"], tfs)
                    got[t] = (docs, tfs, pos)
                elif t not in got:
                    got[t] = _candidate_blocks(rows[(fld, t)], hits)
                docs, tfs, pos = got[t]
                if node.slop == 0:
                    k_i = np.repeat(docs - f_lo, tfs) * M + (pos - slot)
                    keys = k_i if keys is None else np.intersect1d(
                        keys, k_i, assume_unique=True
                    )
                    hits = np.unique(keys // M) + f_lo
                else:
                    hits = docs if hits is None else np.intersect1d(
                        hits, docs, assume_unique=True
                    )
                if hits.size == 0:
                    return none
            if node.slop > 0:
                hits = _sloppy_chain_docs(
                    [got[t] for t in phrase], f_lo, node.slop, hits
                ) + f_lo
            scores = np.zeros(hits.size, np.float64)
            for t in sorted(set(phrase)):
                docs, tfs, _ = got[t]
                mask = np.isin(docs, hits, assume_unique=True)
                scores[np.searchsorted(hits, docs[mask])] += score(
                    t, fld, docs[mask], tfs[mask]
                )
            return hits, scores
        raise ValueError(
            f"packed boolean path supports Operand/And/Or/Not/Quote/"
            f"FieldQuery/Range; got {type(node).__name__}"
        )

    def run() -> tuple[np.ndarray, np.ndarray]:
        docs, scores = evaluate(tree)
        # liveDocs: the tree's algebra is doc-local, so one strip of the
        # final match set (before boosting / faceting / top-k) is exact —
        # a tombstoned doc contributes nothing to any OTHER doc's score
        if deleted.size and len(docs):
            docs, scores = _strip_deleted(docs, deleted, scores)
        return docs, scores

    def prune(k: int):
        ctx = field_ctx[""]
        sim = ctx["sim"]
        if not (
            isinstance(tree, _Terms) and tree.mm <= 1
            and sim == Similarity("bm25", k1=sim.k1, b=sim.b)
        ):
            return None
        n, dfs = ctx["n"], ctx["dfs"]
        idfs = {
            t: float(np.log(1.0 + (n - d + 0.5) / (d + 0.5))) for t, d in dfs.items()
        }
        term_rows = [rows[("", t)] for t, _ in tree.terms if ("", t) in rows and t in dfs]
        docs, scores, _ = _segment_topk_core(
            term_rows, dls, doc_lo, dict(tree.terms), idfs, k, sim.k1, sim.b,
            ctx["avgdl"], deleted=deleted,
        )
        return docs, scores

    return _Match(tree, gen, dvs, dv_lo, evaluate, term_scores, prune, run)


# ---------------------------------------------------------------------------
# collectors: what each surface reads from a segment's match (phrase
# search is the top-k collector over a one-phrase tree). Each collect
# emits one partial of its collector's schema, bounded by k, the facet
# vocabulary or the bucket count — never the match set.
# ---------------------------------------------------------------------------


def _collect_topk(
    m: _Match,
    k: int,
    boost_terms: tuple = (),
    boost_fn: tuple | None = None,
    only: np.ndarray | None = None,
    after: tuple[float, int, int] | None = None,
) -> pa.Table:
    """The segment's top ``k`` (doc_id, score) rows (_topk_frame),
    after the ``only`` allowlist, the boosts and the ``after`` cursor
    ((score, doc_id, round_to), _cursor_keep). With none of them a
    plain-BM25 bag takes the block-max pruned top k (m.prune); every
    other case reads the match's docs and scores."""
    if only is None and not boost_terms and boost_fn is None and after is None:
        top = m.prune(k)
        if top is not None:
            return _topk_frame(*top, k)
    docs, scores = m.docs, m.scores
    if only is not None and len(docs):
        # second-pass scoring for a bounded candidate page (ReRank):
        # keep only the allowlisted docs and return ALL of them — the
        # caller passes k = |allowlist| and owns ranking
        keep = np.isin(docs, only, assume_unique=True)
        docs, scores = docs[keep], scores[keep]
    # boosted SHOULD clauses over the tree's match docset — the
    # feedback final query (seed MUST + expansion SHOULD,
    # UnsupervisedFeedbackHelper.java:110-118): candidates stay the
    # tree's matches; each expansion term adds boost*BM25 where it
    # co-occurs. Doc-local, so per-segment evaluation stays exact.
    if boost_terms and len(docs):
        for t, bst in boost_terms:
            d, s = m.term_scores(t, "")
            mask = np.isin(d, docs, assume_unique=True)
            if mask.any():
                idx = np.searchsorted(docs, d[mask])
                scores[idx] += bst * s[mask]
    if boost_fn is not None and len(docs):
        # BoostedQuery's multiplicative ValueSource (MoreLikeThisHelper
        # .java:131-145) — applied BEFORE top-k so the boost decides
        # which docs make the k; values from the intrinsic doc_id or
        # the segment's packed docvalues stream
        bcol, bfn = boost_fn
        if bcol == "doc_id":
            vals = docs.astype(np.float64)
        else:
            if bcol not in m.dvs:
                raise ValueError(
                    f"segment frame lacks the {bcol!r} docvalues stream "
                    "for boost_fn"
                )
            vals = m.dvs[bcol][docs - m.dv_lo[bcol]].astype(np.float64)
        # flat twin parity: a bag multiplies its raw sum (flat
        # boosted_search); the flat boolean surfaces hand
        # _apply_boost_fn a 5-decimal-rounded base score
        # (unsupervised_feedback / execute_query round their output
        # with F.round = decimal HALF_UP), so a parsed tree multiplies
        # the identically-rounded base here too
        base = scores if isinstance(m.tree, _Terms) else _spark_round(scores, 5)
        boost = np.asarray(bfn(vals), np.float64)
        if boost.shape != base.shape:
            raise ValueError(
                "boost_fn must map an (n,) value array to an (n,) "
                f"boost array; got {boost.shape} for {base.shape}"
            )
        scores = base * boost
    if after is not None and len(docs):
        keep = _cursor_keep(scores, docs, *after)
        docs, scores = docs[keep], scores[keep]
    return _topk_frame(docs, scores, k)


def _collect_facet_query(m: _Match, trees: list) -> pa.Table:
    """facet.query: |main docset ∩ fq docset| per named subquery.
    The main docset is already tombstone-stripped, so the
    intersection never resurrects a deleted doc. One row per name
    ALWAYS (zero counts included — Solr serves them, and they survive
    the cross-segment sum)."""
    return pa.table({
        "name": pa.array([nm for nm, _ in trees], pa.string()),
        "cnt": np.array(
            [
                np.intersect1d(m.docs, m.evaluate(t)[0], assume_unique=True).size
                for _, t in trees
            ],
            np.int64,
        ),
    })


def _collect_facet(m: _Match, col: str) -> pa.Table:
    """facet.field: (gen, ord, cnt) per ordinal the match hits."""
    counts = np.bincount(m.values(col)[2])
    nz = np.flatnonzero(counts)
    return pa.table({
        "gen": np.full(len(nz), m.gen, np.int64),
        "ord": nz.astype(np.int64),
        "cnt": counts[nz].astype(np.int64),
    })


def _collect_range(
    m: _Match, col: str, start: float, gap: float, n_buckets: int, end: float
) -> pa.Table:
    """facet.range: bucket the matched docs' numeric docvalues into
    [start + i*gap, start + (i+1)*gap); at most n_buckets (ord, cnt)
    rows, merged by sum — the ordinal-facet shape with arithmetic in
    place of the dictionary. [start, end) is enforced explicitly so a
    non-gap-aligned end never spills into the last bucket."""
    vals = m.values(col)[2].astype(np.float64)
    buckets = np.floor((vals - start) / gap).astype(np.int64)
    ok = (buckets >= 0) & (buckets < n_buckets) & (vals < end)
    counts = np.bincount(buckets[ok], minlength=n_buckets)
    nz = np.flatnonzero(counts)
    return pa.table(
        {"ord": nz.astype(np.int64), "cnt": counts[nz].astype(np.int64)}
    )


_STATS_PARTIAL = "cnt long, s double, ss double, mn double, mx double"
_TOP_PER_ORD_SCHEMA = "gen long, ord long, doc_id long, score double"


def _collect_stats(m: _Match, col: str) -> pa.Table:
    """stats (StatsComponent): one mergeable moment row per segment —
    count/sum/sum-of-squares/min/max; mean and stddev derive exactly
    at merge time. A segment without values emits the merge's
    identity (cnt 0, min +inf, max -inf)."""
    vals = m.values(col)[2].astype(np.float64)
    return pa.table(
        {
            "cnt": np.array([len(vals)], np.int64),
            "s": np.array([vals.sum()], np.float64),
            "ss": np.array([(vals * vals).sum()], np.float64),
            "mn": np.array([vals.min(initial=np.inf)], np.float64),
            "mx": np.array([vals.max(initial=-np.inf)], np.float64),
        }
    )


def _collect_hist(m: _Match, col: str) -> pa.Table:
    """Exact value histogram of the matched docset — (value, cnt)
    rows bounded by the segment's distinct-value count, the mergeable
    basis for exact percentiles (stats.percentiles)."""
    uniq, cnts = np.unique(m.values(col)[2], return_counts=True)
    return pa.table(
        {"ord": uniq.astype(np.int64), "cnt": cnts.astype(np.int64)}
    )


def _collect_stats_facet(m: _Match, s_col: str, f_col: str) -> pa.Table:
    """stats.facet: the stats moment row computed PER facet ordinal —
    at most |segment facet vocab| rows, merged by (gen, ord) then by
    value upstream."""
    _, _, raw, hit_ords = m.values(s_col, f_col)
    vals = raw.astype(np.float64)
    uniq, inv = np.unique(hit_ords, return_inverse=True)
    s = np.zeros(len(uniq), np.float64)
    np.add.at(s, inv, vals)
    ss = np.zeros(len(uniq), np.float64)
    np.add.at(ss, inv, vals * vals)
    mn = np.full(len(uniq), np.inf, np.float64)
    np.minimum.at(mn, inv, vals)
    mx = np.full(len(uniq), -np.inf, np.float64)
    np.maximum.at(mx, inv, vals)
    return pa.table(
        {
            "gen": np.full(len(uniq), m.gen, np.int64),
            "ord": uniq.astype(np.int64),
            "cnt": np.bincount(inv).astype(np.int64),
            "s": s,
            "ss": ss,
            "mn": mn,
            "mx": mx,
        }
    )


def _collect_top_per_ord(
    m: _Match, col: str, limit: int, round_to: int
) -> pa.Table:
    """Field collapse (CollapsingQParserPlugin) and grouping: the
    segment's best ``limit`` docs per group ordinal under
    (rounded-score desc, doc_id asc), the same total order the client
    sees, so cross-segment merging is exact. At most limit x |segment
    group vocab| rows."""
    docs_v, scores_v, hit_ords = m.values(col)
    scores_r = _spark_round(scores_v, round_to)
    # lexsort: last key is primary -> (ord, -score, doc_id)
    order = np.lexsort((docs_v, -scores_r, hit_ords))
    o_s, d_s, s_s = hit_ords[order], docs_v[order], scores_r[order]
    _, first, counts = np.unique(o_s, return_index=True, return_counts=True)
    if limit <= 1:
        keep = first
    else:
        # result grouping (group.limit=n): top-n per ordinal —
        # rank within each ordinal run, keep ranks < n
        ranks = np.arange(len(o_s)) - np.repeat(first, counts)
        keep = np.flatnonzero(ranks < limit)
    return pa.table(
        {
            "gen": np.full(len(keep), m.gen, np.int64),
            "ord": o_s[keep].astype(np.int64),
            "doc_id": d_s[keep].astype(np.int64),
            "score": s_s[keep].astype(np.float64),
        }
    )


def _walk_query(tree) -> tuple[dict[str, set], set, bool]:
    """One pass over a parsed query or a _Terms bag: (its term sets
    keyed by the enclosing FieldQuery's field, "" for the default
    field; the fields its Range clauses read, "doc_id" for a bare
    Range; whether it holds a phrase). A field's dictionary only
    resolves terms under ITS FieldQuery subtrees. A field without a
    packed index fetches nothing: the kernel rejects its clause."""
    from ..query import ast as qast
    from ..query.compiler import _leaf_terms, is_match_all

    terms: dict[str, set] = {}
    ranges: set = set()
    quote = False

    def walk(node, fld: str) -> None:
        nonlocal quote
        if is_match_all(node):
            return
        if isinstance(node, (qast.Or, qast.And)):
            walk(node.left, fld)
            walk(node.right, fld)
        elif isinstance(node, (qast.Not, qast.Quote)):
            quote = quote or isinstance(node, qast.Quote)
            walk(node.child, fld)
        elif isinstance(node, qast.Range):
            ranges.add("doc_id")
        elif isinstance(node, qast.FieldQuery):
            fname = node.field.rstrip(":")
            if isinstance(node.child, qast.Range):
                ranges.add(fname)
            else:
                walk(node.child, fname)
        elif isinstance(node, qast.Operand):
            terms.setdefault(fld, set()).update(_leaf_terms(node))
        elif isinstance(node, _Terms):
            terms.setdefault(fld, set()).update(t for t, _ in node.terms)

    walk(tree, "")
    return terms, ranges, quote


def _can_match(node, field_ctx: dict[str, dict], fld: str = "") -> bool:
    """False when the tree provably matches no doc, from the field
    contexts alone: a term clause or a bag needs one token with a df,
    a phrase all of its tokens; Or and And follow the algebra; Not (so
    an and-not's negated side), Range and ``*:*`` can always match. A
    field without a context defers to the kernel, which rejects it."""
    from ..analysis.tokenizer import tokenize_pandas
    from ..query import ast as qast
    from ..query.compiler import is_match_all

    if isinstance(node, _Terms):
        return any(t in field_ctx[fld]["dfs"] for t, _ in node.terms)
    if isinstance(node, (qast.Or, qast.And)):
        sides = [_can_match(c, field_ctx, fld) for c in (node.left, node.right)]
        return any(sides) if isinstance(node, qast.Or) else all(sides)
    if isinstance(node, qast.FieldQuery) and not is_match_all(node):
        fname = node.field.rstrip(":")
        return fname not in field_ctx or _can_match(node.child, field_ctx, fname)
    if isinstance(node, (qast.Operand, qast.Quote)) and not is_match_all(node):
        quote = isinstance(node, qast.Quote)
        text = node.child.evaluate() if quote else node.value
        toks = tokenize_pandas(pd.Series([text]))[0]
        hit = [t in field_ctx[fld]["dfs"] for t in toks]
        return bool(hit) and all(hit) if quote else any(hit)
    return True


def _prepare_boolean(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query,
    k1: float = 1.2,
    b: float = 0.75,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
    sim=None,
    str_cols: tuple = (),
    extra_terms: tuple = (),
    extra_dv_cols: tuple = (),
):
    """Shared preparation for the packed top-k and boolean paths:
    parse, build per-field scoring contexts (dfs, n, avgdl and the
    Similarity to score with) and the unified per-segment frame
    (postings + doclens + docvalues rows). ``extra_terms`` adds
    default-field terms beyond the tree's own leaves to the postings
    fetch + df context (the feedback expansion SHOULD terms).

    ``seg_index`` may be a LIST of SegmentIndex (streamed generations
    before compaction, disjoint doc sets): dfs sum across the
    generations' sidecars, n/avgdl aggregate globally, and every
    generation's segments stack into the one kernel input under their
    own ``gen`` tag — the wand_search_multi statistics contract
    applied to the whole boolean path. ``query`` is a query string, a
    parsed tree or a _Terms bag. A field scores with BM25 at (k1, b),
    its ``field_sims`` k1/b override (BM25 only), or, for the default
    field, ``sim`` (any Similarity). An index without the termstats
    sidecar costs one postings-metadata job for its dfs and takes a
    Spark strategy. Returns (tree, field_ctx, unified, plan): the
    kernel input and the serving plan it was built for
    (_serving_plan); ``unified`` is None, and nothing is read, when
    the tree can match no doc (_can_match)."""
    from ..query.parser import parse_query
    from ..query.scorer import Similarity

    gens: list[tuple[int, SegmentIndex]] = _as_gens(seg_index)
    seg_index = gens[0][1]
    field_segments = field_segments or {}
    if field_segments and len(gens) > 1:
        raise ValueError(
            "field_segments with multiple generations is unsupported — "
            "compact each field index first (compact_packed), then route"
        )
    for fname, fsi in field_segments.items():
        if fsi.seg_size != seg_index.seg_size:
            raise ValueError(
                f"field index {fname!r} seg_size {fsi.seg_size} != "
                f"{seg_index.seg_size} — per-segment routing needs "
                "aligned doc ranges"
            )

    tree = parse_query(query)[0] if isinstance(query, str) else query
    by_field, range_fields, quote = _walk_query(tree)
    if extra_terms:
        by_field.setdefault("", set()).update(extra_terms)
    if sim is None:
        sim = Similarity("bm25", k1=k1, b=b)
    # the positions/payload sub-streams ride the scan only when a
    # phrase or a payload similarity reads them
    with_subs = quote or sim.use_payload
    # extra_dv_cols: value streams a caller needs beyond the tree's
    # own Range fields (a boost_fn ValueSource column, a stats column).
    # ONE check of every stream the request reads, in every generation
    dv_needed = sorted((range_fields | set(extra_dv_cols)) - {"doc_id"})
    for _, si in gens:
        for cols, packed, kind, arg in (
            (str_cols, si.string_cols, "an ordinal", "string_cols"),
            (dv_needed, si.value_cols, "a numeric", "value_cols"),
        ):
            for c in cols:
                if c not in packed:
                    raise ValueError(
                        f"packed serving over {c!r} needs {kind} docvalues "
                        f"stream — rebuild with build_segments(..., {arg}="
                        f"[{c!r}]) (doc_id ranges are intrinsic)"
                    )

    # ONE sidecar read per (field, generation) feeds both the df
    # context and the serving plan's byte estimate, which covers
    # EVERYTHING this query will touch: every field's term-pruned
    # postings + doclens/deletes, plus the docvalues / ordinal stream
    # directories the tree or caller needs
    fields = [("", gens)] + [(f, [(0, si)]) for f, si in sorted(field_segments.items())]
    local_pairs: list = []
    pair_stats: list = []
    field_ctx: dict[str, dict] = {}
    for fname, f_gens in fields:
        f_terms = sorted(by_field.get(fname, set()))
        f_stats = [_sidecar_stats(si, f_terms) for _, si in f_gens]
        local_pairs += [(si, f_terms) for _, si in f_gens]
        pair_stats += f_stats
        if f_terms and None in f_stats:
            # a pre-sidecar index: one postings-metadata job sums the
            # field's dfs (no estimate, so the plan is a Spark one)
            rows = (
                _stack(
                    _unified_parts(spark, f_gens, f_terms, _Plan("exchange", None)),
                    _Plan("exchange", None),
                )
                .filter(F.col("_kind") == "post")
                .groupBy("term").agg(F.sum("df").alias("df")).collect()
            )
            f_stats = [{r["term"]: (r["df"], None) for r in rows}]
        dfs: dict[str, int] = {}
        for st in f_stats:
            for t, (v, _c) in (st or {}).items():
                dfs[t] = dfs.get(t, 0) + int(v)
        n, avgdl = _gen_stats(f_gens)
        # per-field k1/b (``field_sims``: field -> Similarity) — the
        # SchemaSimilarityFactory per-field override mechanism, BM25
        # variants only; other kinds score a bag via wand_search(sim=...)
        fsim = (field_sims or {}).get(fname)
        if fsim is not None and getattr(fsim, "kind", "bm25") != "bm25":
            raise ValueError(
                "packed boolean field_sims supports BM25 variants "
                f"(per-field k1/b); got kind={fsim.kind!r} for "
                f"field {fname or 'default'!r}"
            )
        field_ctx[fname] = {
            "dfs": {t: d for t, d in dfs.items() if d > 0},
            "n": n,
            "avgdl": avgdl,
            "sim": sim if fsim is None else Similarity(
                "bm25", k1=float(fsim.k1), b=float(fsim.b)
            ),
        }
    if not _can_match(tree, field_ctx):
        return tree, field_ctx, None, None
    local_streams = [
        (si, _dv_rel(col)) for col in dv_needed for _, si in gens
    ] + [
        (si, _dv_rel(col, "docvalues_str")) for col in str_cols for _, si in gens
    ]
    plan = _serving_plan(
        local_pairs, with_subs, local_streams, stats_list=pair_stats
    )
    parts = [
        part
        for fname, f_gens in fields
        for part in _unified_parts(
            spark, f_gens, sorted(by_field.get(fname, ())), plan,
            with_subs=with_subs, field=fname,
        )
    ] + [
        part
        for cols, subdir in ((dv_needed, "docvalues"), (str_cols, "docvalues_str"))
        for col in cols
        for part in _dv_parts(spark, gens, col, plan, subdir=subdir)
    ]
    return tree, field_ctx, _stack(parts, plan), plan


@dataclass(frozen=True)
class _Collector:
    """What one surface reads from each segment's match (_serve), the
    Lucene Collector / Solr SearchComponent of the packed path:
    ``collect(match)`` -> one partial frame of DDL ``schema``;
    ``merge`` folds partials (associative and idempotent, see
    _partials); ``finish(merged partials, zero rows if none)`` -> the
    surface's answer. ``str_cols``/``dv_cols`` name the ordinal/numeric
    docvalues streams collect reads, ``extra_terms`` the default-field
    terms it scores beyond the tree's own. ``empty`` marks an answer
    known empty whatever matches (a k=0 page)."""

    schema: str
    collect: Callable
    merge: Callable
    finish: Callable
    str_cols: tuple = ()
    dv_cols: tuple = ()
    extra_terms: tuple = ()
    empty: bool = False


def _serve(
    spark: SparkSession,
    seg_index,
    query,
    collector: _Collector,
    k1: float = 1.2,
    b: float = 0.75,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
    sim=None,
):
    """The one body of every packed top-k and boolean-family surface
    (bag search, cursor pages, /mlt and phrase search included):
    prepare the query (a string, a parsed tree or a _Terms bag) with
    the collector's streams and terms (_prepare_boolean, which rejects
    a stream some generation lacks), match it per segment
    (_segment_match), collect and merge the partials on the planned
    strategy (_partials) and finish them on the driver. ``sim`` scores
    the default field (BM25 at k1/b when None). A collector whose
    answer is known empty, and a tree that can match no doc, finish
    zero partials before any frame is read: no job on any strategy."""
    if collector.empty:
        return collector.finish(_empty(collector.schema))
    tree, field_ctx, unified, plan = _prepare_boolean(
        spark, seg_index, query, k1, b, field_segments, field_sims, sim,
        str_cols=collector.str_cols, extra_terms=collector.extra_terms,
        extra_dv_cols=collector.dv_cols,
    )
    if unified is None:
        return collector.finish(_empty(collector.schema))
    # the kernels ship collect alone: finish holds the SparkSession
    collect = collector.collect

    def per_segment(tbl: pa.Table) -> pa.Table:
        return collect(_segment_match(tbl, tree, field_ctx))

    return collector.finish(_partials(
        unified, plan, per_segment, collector.schema, collector.merge
    ))


def _check_k(k: int) -> None:
    """A page size follows flat limit(k): 0 is the empty page, a
    negative size is an error raised before anything is read."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")


def _topk_collector(
    k: int,
    round_to: int,
    boost_terms: list[tuple[str, float]] = (),
    boost_fn: tuple | None = None,
    only: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
) -> _Collector:
    """The (doc_id, score) top-k collector: per-partition and driver
    merges are both the _topk_cut (so the TakeOrderedAndProject bound
    of k rows per partition holds); finishes as the Arrow answer.
    ``boost_fn`` reads its docvalues column unless it is the intrinsic
    doc_id. ``after``: a (score, doc_id) searchAfter cursor, applied
    in each segment before its cut and again in the merge."""
    _check_k(k)
    return _Collector(
        _TOPK_SCHEMA,
        functools.partial(
            _collect_topk, k=k, boost_terms=boost_terms, boost_fn=boost_fn,
            only=only,
            after=None if after is None else (float(after[0]), int(after[1]), round_to),
        ),
        functools.partial(_topk_cut, k=k, round_to=round_to, after=after),
        lambda res: res,
        dv_cols=(
            () if boost_fn is None or boost_fn[0] == "doc_id" else (boost_fn[0],)
        ),
        extra_terms=tuple(sorted({t for t, _ in boost_terms})),
        empty=k == 0,
    )


def wand_boolean_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
    boost_fn: tuple | None = None,
) -> DataFrame:
    """Parsed boolean query (NOT > AND > OR precedence, the reference
    grammar) over PACKED segments: the boolean tree evaluates
    independently per segment (boolean algebra is doc-local; segments
    partition docs), one Spark job, k rows per segment merged
    globally. Rank-identical to the flat execute_query
    (tests/test_segments_v3.py). Supports Operand/And/Or/Not/Quote
    plus FieldQuery routing to per-field packed indexes
    (``field_segments``: field name -> SegmentIndex built over that
    field's flat index; must share the doc space and seg_size so the
    per-segment evaluation stays aligned; ``field_sims``: per-field
    k1/b overrides) and Range terminals — over the intrinsic doc_id
    key, or over any numeric column packed as a docvalues stream
    (``build_segments(..., value_cols=[...])``).

    ``seg_index`` may be a LIST of generations (streamed deltas,
    disjoint doc sets): dfs sum across the generations' sidecars and
    n/avgdl aggregate globally, so results equal the compacted
    index's — boolean serving never waits for compaction."""
    return _relation(spark, _boolean_top(
        spark, seg_index, query, k, k1, b, round_to, field_segments,
        field_sims, boost_fn,
    ))


def _boolean_top(
    spark: SparkSession,
    seg_index,
    query: str,
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
    boost_fn: tuple | None = None,
):
    """wand_boolean_search's Arrow answer, before it is held."""
    return _serve(
        spark, seg_index, query, _topk_collector(k, round_to, boost_fn=boost_fn),
        k1, b, field_segments, field_sims,
    )


def wand_boolean_boosted_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query: str,
    boost_terms: list[tuple[str, float]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
    boost_fn: tuple | None = None,
) -> DataFrame:
    """The feedback FINAL query on the packed path: seed query MUST +
    expansion SHOULD (UnsupervisedFeedbackHelper.java:110-118).
    Candidates are the boolean tree's matches; each (term, boost) in
    ``boost_terms`` adds boost*BM25 on co-occurring docs. Same
    one-job shape as wand_boolean_search — the expansion terms ride
    the same term-isin-pruned postings scan and the same per-segment
    Arrow stage; the merge stays k rows per segment."""
    return _relation(spark, _serve(
        spark, seg_index, query,
        _topk_collector(k, round_to, boost_terms=boost_terms, boost_fn=boost_fn),
        k1, b, field_segments, field_sims,
    ))


def wand_phrase_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    phrase_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    slop: int = 0,
) -> DataFrame:
    """Quoted-phrase top-k over packed v3 segments (positions
    sub-stream): the one-clause boolean query ``"t0 t1 .."~slop``,
    served like every boolean query by _segment_match's phrase matcher
    (rarest-first block-skip decode, position intersection,
    member-term BM25) and the top-k collector. Rank-identical to the
    flat positional path (tests/test_segments_v3.py). ``slop > 0``
    relaxes exact adjacency to ordered span-near (`"a b"~n`). Phrase
    terms are analyzer tokens; the clause analyzes them again, as the
    flat execute_query('"…"') does."""
    from ..query.ast import Operand, Quote

    return _relation(spark, _serve(
        spark, seg_index, Quote(Operand(" ".join(phrase_terms)), slop),
        _topk_collector(k, round_to), k1, b,
    ))


def fetch_docs(
    spark: SparkSession,
    seg_index: SegmentIndex,
    doc_ids: list[int],
) -> DataFrame:
    """Stored-field retrieval from the packed index — the
    ir.document(docNum) analogue (MoreLikeThis.java:1113-1145): rows
    for a bounded doc-id set (a top-k result page), tombstoned ids
    excluded, in doc_id order. The rows are ``fetch_docs_local``'s
    driver-side point read (zero Spark jobs), held under the docstore
    DDL recorded at build; an index built before the DDL was recorded
    keeps the parquet types of what it read."""
    from pyspark.sql.pandas.types import from_arrow_schema

    tbl = _docstore_read(seg_index, doc_ids)
    schema = _as_gens(seg_index)[0][1].store_schema
    return local_relation(spark, tbl, schema or from_arrow_schema(tbl.schema))


def fetch_docs_local(seg_index, doc_ids: list[int], columns: list[str] | None = None):
    """Driver-side docstore point read for a BOUNDED id list — ZERO
    Spark jobs (pyarrow dataset, same bounded-driver-read contract as
    the termstats sidecar / tombstone streams). The hive layout
    (docstore/group=g/seg=s/, rows sorted by doc_id) makes the
    seg-isin filter a directory prune and the doc_id-isin a row-group
    prune, so the read is O(requested ids), never a corpus scan.

    This is the serving hot path for seed-text retrieval: the packed
    /mlt and /uf handlers fetch <= max_seed_docs texts per request,
    and paying a Spark job (scheduling + stage round-trip, ~0.3 s on
    a loaded driver) for a point read of a handful of rows was the
    difference between a 3-job and a 2-job /uf (BENCH/BASELINE.md
    r06). Returns a pandas frame (doc_id + requested columns),
    tombstoned ids excluded, rows in doc_id order — the rows
    ``fetch_docs`` holds."""
    return _docstore_read(seg_index, doc_ids, columns).to_pandas()


def _docstore_read(seg_index, doc_ids, columns=None):
    """The live docstore rows for ``doc_ids`` as an Arrow table, in
    doc_id order (with no live row, a long doc_id and string columns,
    the schema an index built before its docstore DDL was recorded
    answers under). The dataset is constructed from the EXPLICIT
    group=<seg%groups>/seg=<seg> directories derived from the requested
    ids — never the docstore root, whose recursive listing would be
    O(total segments) driver work on a large index."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    gens = _as_gens(seg_index)
    for _, si in gens:
        if not si.store_cols:
            raise ValueError(
                "packed index has no docstore — rebuild with "
                "build_segments(..., store_cols=[...])"
            )
    # mixed store_cols across generations would concatenate into a
    # silent null-filled column union
    if len({si.store_cols for _, si in gens}) > 1:
        raise ValueError(
            "fetch_docs across generations needs identical "
            f"store_cols; got {[si.store_cols for _, si in gens]}"
        )
    cols = ["doc_id"] + [
        c for c in (columns or list(gens[0][1].store_cols)) if c != "doc_id"
    ]
    ids = [int(d) for d in doc_ids]
    tables = []
    for _, si in gens if ids else []:
        # the index's reader holds the tombstone stream and manifest;
        # liveDocs: tombstoned ids are not retrievable
        rd = si.reader()
        tombs = _tombstones_by_seg(rd.stream("deletes"))
        if tombs:
            dead = {int(x) for v in tombs.values() for x in v}
            ids_g = [d for d in ids if d not in dead]
        else:
            ids_g = ids
        if not ids_g:
            continue
        n_groups = int(rd.manifest.get("n_groups", 1))
        segs = sorted({d // si.seg_size for d in ids_g})
        files: list[str] = []
        for s in segs:
            d = os.path.join(
                si.path, "docstore", f"group={s % n_groups}", f"seg={s}"
            )
            # ids a generation doesn't hold (disjoint doc sets across
            # generations, or ids past the end) have no seg dir — skip
            if os.path.isdir(d):
                files.extend(
                    os.path.join(d, f)
                    for f in sorted(os.listdir(d))
                    if f.endswith(".parquet")
                )
        if files:
            tables.append(ds.dataset(files, format="parquet").to_table(
                columns=cols, filter=ds.field("doc_id").isin(ids_g)
            ))
    if not tables:
        types = {c: pa.string() for c in cols} | {"doc_id": pa.int64()}
        return pa.schema(list(types.items())).empty_table()
    return pa.concat_tables(tables, promote_options="permissive").sort_by("doc_id")


def wand_facet_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query: str,
    facet_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
) -> DataFrame:
    """Facet counts over the FULL docset matching a boolean query, on
    the packed path (the match+facet behavior —
    DiceMoreLikeThisHandler.java:263-271 / DocValuesFacets.getCounts):
    the tree evaluates per segment, matched docs map to ordinals from
    the ``facet_col`` SortedDocValues stream (build_segments
    string_cols), and per-segment (ordinal, count) partials — at most
    |facet vocabulary| rows each — sum by ordinal inside the kernels'
    stage (_partials); the driver maps the merged ordinals through the
    dictionary back to values. The corpus is never touched at query
    time; ONE Spark job on the Spark path, none on the local tier.
    Returns (facet_col, cnt), rows in value order ASC NULLS FIRST.

    ``seg_index`` may be a LIST of generations (disjoint doc sets):
    each generation has its OWN ordinal dictionary, so partials carry
    the generation id, map through their generation's dictionary, and
    merge by VALUE — counts equal the compacted index's."""
    return _serve(spark, seg_index, query, _Collector(
        "gen long, ord long, cnt long",
        functools.partial(_collect_facet, col=facet_col),
        functools.partial(_fold, keys=["gen", "ord"], how={"cnt": "sum"}),
        lambda res: _facet_counts(spark, res, _as_gens(seg_index), facet_col),
        str_cols=(facet_col,),
    ), k1, b, field_segments, field_sims)


def wand_collapse_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query: str,
    collapse_col: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
) -> DataFrame:
    """Field collapse on the packed path — Solr's
    CollapsingQParserPlugin (`fq={!collapse field=...}`): one
    representative doc per ``collapse_col`` value — the group's
    highest-scoring match under the deterministic (score desc, doc_id
    asc) order — then top-k over representatives. The dedup-to-best
    serving shape (one hit per conversation / per source domain).

    Plan at scale: the boolean tree evaluates per segment, matched
    docs map to ordinals from the collapse column's SortedDocValues
    stream (build_segments string_cols), and the kernel emits ONE
    winner row per segment-local ordinal — at most |group vocab| rows
    per segment, never the match set. Winners merge per ordinal inside
    the kernels' stage; the driver maps them through the dictionary
    and keeps the best per value. ONE Spark job, exactly the
    wand_facet_search shape with a max in place of the sum. Returns
    (collapse_col, doc_id, score), rows in (score desc, doc_id asc)
    order.

    ``seg_index`` may be a LIST of generations (disjoint doc sets):
    partials carry the generation id, map through their generation's
    own dictionary, and merge by VALUE — winners equal the compacted
    index's."""
    _check_k(k)
    return _serve(spark, seg_index, query, _Collector(
        _TOP_PER_ORD_SCHEMA,
        functools.partial(
            _collect_top_per_ord, col=collapse_col, limit=1, round_to=round_to
        ),
        functools.partial(_top_per_ord, limit=1),
        lambda res: _collapse_topk(
            spark, res, _as_gens(seg_index), collapse_col, k
        ),
        str_cols=(collapse_col,),
        empty=k == 0,
    ), k1, b, field_segments, field_sims)


def wand_facet_range_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query: str,
    facet_col: str,
    start: int,
    end: int,
    gap: int,
    k1: float = 1.2,
    b: float = 0.75,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
) -> DataFrame:
    """Range faceting on the packed path — Solr's ``facet.range``
    (RangeFacetProcessor): counts of query-matching docs per
    ``[start + i*gap, start + (i+1)*gap)`` bucket of a numeric
    docvalues column. Zero-count buckets are included (Solr returns
    the full lattice); values outside [start, end) are ignored (the
    facet.range.other=NONE default).

    Plan: the boolean tree evaluates per segment, matched docs map to
    bucket ids by pure arithmetic over the dense numeric stream, and
    per-segment partials — at most n_buckets rows each — sum by bucket
    inside the kernels' stage; the driver lays them on the bucket
    lattice. The corpus is never touched; ONE Spark job, the
    wand_facet_search shape with floor-divide in place of the ordinal
    dictionary. Returns (bucket, cnt), rows in bucket order."""
    if gap <= 0 or end <= start:
        raise ValueError("facet.range needs gap > 0 and end > start")
    n_buckets = -(-(end - start) // gap)
    return _serve(spark, seg_index, query, _Collector(
        "ord long, cnt long",
        functools.partial(
            _collect_range, col=facet_col, start=float(start), gap=float(gap),
            n_buckets=int(n_buckets), end=float(end),
        ),
        functools.partial(_fold, keys=["ord"], how={"cnt": "sum"}),
        lambda res: _range_counts(spark, res, int(start), int(gap), n_buckets),
        dv_cols=(facet_col,),
    ), k1, b, field_segments, field_sims)


def wand_stats_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query: str,
    stats_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
) -> DataFrame:
    """Solr StatsComponent (``stats=true&stats.field=...``) on the
    packed path: count / min / max / sum / mean / sample-stddev of a
    numeric docvalues column over the query's matched docset.

    Plan: each segment emits ONE moment row (count, sum, sum of
    squares, min, max) — the classic mergeable-moments trick — the
    rows merge inside the kernels' stage, and the driver derives mean
    and the corrected (sample) stddev exactly: sqrt((ss - s^2/n) /
    (n-1)), StatsValuesFactory's formula. The matched docset never
    leaves the kernels. Returns one row, or none when nothing
    matched."""
    return _serve(spark, seg_index, query, _Collector(
        _STATS_PARTIAL,
        functools.partial(_collect_stats, col=stats_col),
        functools.partial(_fold, keys=[], how=_MOMENTS),
        lambda res: _stats_answer(spark, res, round_to),
        dv_cols=(stats_col,),
    ), k1, b, field_segments, field_sims)


def wand_facet_query_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query: str,
    facet_queries: dict[str, str],
    k1: float = 1.2,
    b: float = 0.75,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
) -> DataFrame:
    """Solr ``facet.query`` on the packed path
    (SimpleFacets.getFacetQueryCounts): for each named subquery, the
    count of docs matching BOTH the main query and that subquery.
    Zero counts served; (name, cnt) ordered by name — the flat twin
    is components.facet_query_search.

    Plan at scale: ONE Spark job. Every facet query's default-field
    terms join the main tree's postings fetch (one pruned scan covers
    all of them), the kernel evaluates main + each subquery per
    segment over the SAME decoded postings, and per-segment
    (name, cnt) rows — |facet_queries| each — merge in one bounded
    sum. Facet queries may use terms, AND/OR/NOT, doc_id ranges, and
    docvalues-column ranges; phrases inside a facet query are
    rejected (the positions sub-stream fetch is main-tree-only)."""
    from ..query.parser import parse_query

    if not facet_queries:
        raise ValueError("facet.query needs at least one named subquery")
    fq_trees: list[tuple[str, object]] = []
    extra_terms: set = set()
    range_fields: set = set()
    for name, fq in sorted(facet_queries.items()):
        t, _errors = parse_query(fq)
        terms, ranges, quote = _walk_query(t)
        if quote:
            raise ValueError(
                "facet.query does not support phrases — use the main "
                "query for positional clauses"
            )
        fields = sorted(set(terms) - {""})
        if fields:
            raise ValueError(
                "facet.query field clauses support ranges only "
                f"(got a term clause for field {fields[0]!r})"
            )
        extra_terms |= terms.get("", set())
        range_fields |= ranges - {"doc_id"}
        fq_trees.append((name, t))
    return _serve(spark, seg_index, query, _Collector(
        "name string, cnt long",
        functools.partial(_collect_facet_query, trees=fq_trees),
        functools.partial(_fold, keys=["name"], how={"cnt": "sum"}),
        lambda res: _facet_query_counts(spark, res, [nm for nm, _ in fq_trees]),
        dv_cols=tuple(sorted(range_fields)),
        extra_terms=tuple(sorted(extra_terms)),
    ), k1, b, field_segments, field_sims)


def wand_stats_facet_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query: str,
    stats_col: str,
    facet_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
) -> DataFrame:
    """Solr ``stats.facet`` on the packed path (StatsComponent
    per-bucket stats): count / min / max / sum / mean / sample stddev
    of a numeric docvalues column, computed separately per value of an
    ordinal docvalues column, over the query's matched docset. Empty
    buckets are absent (Solr omits them); ordered by facet value —
    the flat twin is components.stats_facet_search.

    Plan: each segment emits ONE mergeable moment row per facet
    ordinal (at most |segment facet vocab| rows — never the match
    set); partials merge by (generation, ordinal) inside the kernels'
    stage, the driver maps them through each generation's dictionary
    and merges again by VALUE, and mean/stddev derive exactly from the
    merged moments (StatsValuesFactory's corrected formula, the
    wand_stats_search math applied per bucket). Rows in value order
    ASC NULLS FIRST."""
    return _serve(spark, seg_index, query, _Collector(
        "gen long, ord long, " + _STATS_PARTIAL,
        functools.partial(_collect_stats_facet, s_col=stats_col, f_col=facet_col),
        functools.partial(_fold, keys=["gen", "ord"], how=_MOMENTS),
        lambda res: _stats_facet(
            spark, res, _as_gens(seg_index), facet_col, round_to
        ),
        str_cols=(facet_col,),
        dv_cols=(stats_col,),
    ), k1, b, field_segments, field_sims)


def wand_stats_percentiles_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query: str,
    stats_col: str,
    percentiles: list[float],
    k1: float = 1.2,
    b: float = 0.75,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
) -> DataFrame:
    """Solr StatsComponent ``percentiles`` on the packed path, served
    EXACTLY: each segment emits the (value, cnt) histogram of its
    matched docs from the numeric docvalues stream — bounded by the
    segment's distinct-value count, never the match set — histograms
    merge in one sum, and the k-th-smallest rule (k = ceil(p*n))
    derives each percentile from the bounded cumulative histogram
    (the rule of components.percentiles_from_hist; flat twin
    stats_percentiles_search). Returns (pct, value), one row per
    distinct percentile in pct order; ValueError unless every
    percentile is in (0, 1]. Solr itself approximates with t-digest;
    for bounded-cardinality docvalues the exact histogram is smaller
    than a digest — swap a mergeable digest into the kernel for
    genuinely unbounded columns, the derivation is unchanged."""
    _check_percentiles(percentiles)
    return _serve(spark, seg_index, query, _Collector(
        "ord long, cnt long",
        functools.partial(_collect_hist, col=stats_col),
        functools.partial(_fold, keys=["ord"], how={"cnt": "sum"}),
        lambda res: _percentiles(spark, res, percentiles),
        dv_cols=(stats_col,),
    ), k1, b, field_segments, field_sims)


def wand_group_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query: str,
    group_col: str,
    k_groups: int = 10,
    group_limit: int = 2,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
) -> DataFrame:
    """Result grouping on the packed path — Solr's
    ``group=true&group.field=...&group.limit=n`` (Grouping.java): the
    top ``k_groups`` groups ranked by their best doc (Solr's default
    group sort), each with its top ``group_limit`` members. Field
    collapse is the n=1 special case (wand_collapse_search keeps the
    flat one-row-per-group shape).

    Plan: the kernel emits the per-segment top-n PER ORDINAL (at most
    n * |segment group vocab| rows — never the match set); the
    partials keep the top n per ordinal inside the kernels' stage, and
    the driver maps them through each generation's dictionary, sorts
    and slices each value's member list, ranks groups by their head
    member and explodes the k_groups winners back to rows. Returns
    (grp_rank, group_col, pos, doc_id, score), rows in (grp_rank, pos)
    order.
    ``group_limit`` must be >= 1 and ``k_groups`` >= 0 (ValueError on
    both tiers, before anything is read); ``k_groups=0`` answers no
    group with no read."""
    if group_limit < 1:
        raise ValueError(f"group_limit must be >= 1, got {group_limit}")
    if k_groups < 0:
        raise ValueError(f"k_groups must be >= 0, got {k_groups}")
    return _serve(spark, seg_index, query, _Collector(
        _TOP_PER_ORD_SCHEMA,
        functools.partial(
            _collect_top_per_ord, col=group_col, limit=group_limit,
            round_to=round_to,
        ),
        functools.partial(_top_per_ord, limit=group_limit),
        lambda res: _group_topn(
            spark, res, _as_gens(seg_index), group_col, k_groups, group_limit
        ),
        str_cols=(group_col,),
        empty=k_groups == 0,
    ), k1, b, field_segments, field_sims)


def wand_scores_for_ids(
    spark: SparkSession,
    seg_index: SegmentIndex,
    query: str,
    doc_ids: list[int],
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
) -> DataFrame:
    """Scores of a BOUNDED doc-id set under a boolean query — the
    second-pass primitive behind re-ranking and query elevation: the
    tree evaluates per segment against the allowlist, each segment
    emits at most |allowlist| rows, and ids the query does not match
    are simply absent; rows in (score desc, doc_id asc) order. ONE
    Spark job on the Spark path; the match set never leaves the
    kernels."""
    return _relation(spark, _scores_for_ids(
        spark, seg_index, query, doc_ids, k1, b, round_to, field_segments,
        field_sims,
    ))


def _scores_for_ids(
    spark: SparkSession,
    seg_index,
    query: str,
    doc_ids: list[int],
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
):
    """wand_scores_for_ids' Arrow answer, before it is held."""
    allow = np.unique(np.asarray([int(d) for d in doc_ids], np.int64))
    # each doc lives in one segment: a cut at |allowlist| keeps all
    return _serve(
        spark, seg_index, query, _topk_collector(len(allow), round_to, only=allow),
        k1, b, field_segments, field_sims,
    )


def wand_rerank_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    base_query: str,
    rerank_query: str,
    k: int = 10,
    rerank_docs: int = 30,
    weight: float = 1.0,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    field_segments: dict[str, SegmentIndex] | None = None,
    field_sims: dict | None = None,
) -> DataFrame:
    """Two-pass re-ranking on the packed path — Solr's
    ReRankQParserPlugin (`rq={!rerank reRankQuery=... reRankDocs=N
    reRankWeight=w}`): the base query ranks, the top ``rerank_docs``
    are re-scored as ``base + weight * rerank_score``, and the re-sorted
    page is served. The cheap-retrieval + expensive-rescoring shape
    every learning-to-rank deployment sits on.

    Job shape (the bounded-driver-crossing discipline of the packed
    /mlt and /uf handlers): pass 1 = base top-N (per-segment fan-out,
    N rows cross the driver); pass 2 = the rerank tree evaluated per
    segment against the N-id allowlist — each segment emits at most
    |allowlist| rows, the match set never leaves the kernel. The
    combine is driver-side arithmetic over <= N rows. On the Spark
    path that is one job per pass, each N-row bounded regardless of
    how many docs match either query; on the local tier, none
    (asserted in tests/test_serving_plans.py).

    ``k`` must be <= ``rerank_docs`` (Solr serves reranked rows from
    within the reRankDocs prefix; the below-N tail keeps base order —
    a page past N is a base-query cursor page, not a rerank)."""
    _check_k(k)
    if k > rerank_docs:
        raise ValueError(
            f"rerank serves from the top-{rerank_docs} prefix; page size "
            f"k={k} exceeds it — raise rerank_docs or page the base query"
        )
    if k == 0:
        return empty_df(spark, _TOPK_SCHEMA)
    # pass 1: the base top-N as a driver-side table (bounded:
    # rerank_docs rows)
    base = _boolean_top(
        spark, seg_index, base_query, rerank_docs, k1, b, round_to,
        field_segments, field_sims,
    )
    if not len(base):
        return empty_df(spark, _TOPK_SCHEMA)
    ids = base["doc_id"].to_numpy()
    # pass 2: the rerank tree against the N-id allowlist (bounded: at
    # most |base| rows)
    rr_top = _scores_for_ids(
        spark, seg_index, rerank_query, ids.tolist(), k1, b, round_to,
        field_segments, field_sims,
    )

    # both sides are bounded driver-side rows, so the combine is pure
    # arithmetic over <= rerank_docs entries: rounding via _spark_round
    # == F.round (exact HALF_UP), ordering via the same (score desc,
    # doc_id asc) lexsort the packed kernels use.
    rr = dict(zip(rr_top["doc_id"].to_pylist(), rr_top["score"].to_pylist()))
    boost = np.array([rr.get(int(d), 0.0) for d in ids], np.float64)
    total = _spark_round(
        base["score"].to_numpy() + float(weight) * boost, round_to
    )
    order = np.lexsort((ids, -total))[: min(k, len(ids))]
    return local_relation(
        spark, {"doc_id": ids[order], "score": total[order]}, _TOPK_SCHEMA
    )


def compact_packed(
    spark: SparkSession,
    seg_indexes: list[SegmentIndex],
    out_path: str,
    groups: int = 4,
    resume: bool = True,
) -> SegmentIndex:
    """Merge MULTIPLE packed indexes (streamed generations) into one,
    at the POSTING-BINARY level — the Lucene-style sorted segment
    merge (north rule: "posting-list construction, merge,
    compression"). Unlike compact_generations (which re-encodes from
    flat postings), this never re-tokenizes and never shuffles raw
    posting rows: the unit of work is a (seg, term) group whose
    per-generation binaries are decoded, merge-sorted (generations
    hold disjoint doc sets), and re-encoded in one Arrow pass.

    Doclen streams merge element-wise (disjoint docs: absent = 0, so
    max() is the union). All generations must share seg_size.

    Resumable like build_segments: segments are compacted in
    ``groups`` sequential jobs (seg % groups); each completed group
    appends a manifest entry with lineage + throughput, and a killed
    compaction resumes from the manifest without redoing finished
    groups.
    """
    sizes = {s.seg_size for s in seg_indexes}
    assert len(sizes) == 1, "compact_packed requires a uniform seg_size"
    seg_size = sizes.pop()
    # mixed sub-stream presence would silently drop positions/payloads
    # for terms present in BOTH generations while keeping them for
    # generation-unique terms — an inconsistent index where some
    # phrases raise and others answer. Fail fast instead (flags are
    # None only for pre-r03 manifests, which we let through unchecked).
    for stream in ("has_positions", "has_payloads"):
        flags = {getattr(s, stream) for s in seg_indexes} - {None}
        if len(flags) > 1:
            raise ValueError(
                f"compact_packed: mixed {stream} across input generations "
                f"({[(s.path, getattr(s, stream)) for s in seg_indexes]}) — "
                "rebuild the odd generation with matching sub-streams"
            )
    n_docs = sum(s.n_docs for s in seg_indexes)
    total_tokens = sum(s.avgdl * s.n_docs for s in seg_indexes)
    avgdl = total_tokens / n_docs if n_docs else 0.0
    # the doc-id SPACE is unchanged by deletions (ids are never
    # renumbered — docstore keys and query results stay stable), so
    # segment layout derives from the space, stats from live docs
    n_docs_space = n_docs

    # tombstones across all inputs (driver-side bounded read): raw seg
    # -> sorted unique deleted ids. Generations hold disjoint doc sets,
    # so a plain union per segment is exact.
    del_by_seg: dict[int, np.ndarray] = {}
    for si in seg_indexes:
        for seg, arr in _load_tombstones(si.path).items():
            prev = del_by_seg.get(seg)
            del_by_seg[seg] = (
                arr if prev is None else np.unique(np.concatenate([prev, arr]))
            )

    posts, dls = (
        functools.reduce(DataFrame.unionByName, [
            _scan(spark, si.path, rel, schema) for si in seg_indexes
        ])
        for rel, schema in (("postings", POSTINGS_SCHEMA), ("doclens", DOCLEN_SCHEMA))
    )

    if del_by_seg:
        # Lucene merge semantics: the compacted index's stats count
        # LIVE docs only (docFreq/N drop once deletions are purged).
        # The deleted docs' token mass is recovered with ONE small
        # Spark agg over the affected segments' doclen streams: each
        # task's working set is a single segment's streams (a few rows
        # x seg_size ints) and the driver receives exactly two
        # numbers, so a mass compaction touching every segment of a
        # 100-TB index can't balloon driver memory (r05 review item).
        # The per-segment deleted-id lists ship in the UDF closure —
        # tombstones are already a bounded driver-side read above.
        affected = sorted(del_by_seg.keys())
        del_ids_by_seg = {
            int(s): np.asarray(v, dtype=np.int64)
            for s, v in del_by_seg.items()
        }

        def _recover_stats(key, pdf):
            d_ids = del_ids_by_seg[int(key[0])]
            tokens = 0
            live = np.zeros(len(d_ids), dtype=bool)
            for dl_data, lo in zip(pdf["dl_data"], pdf["doc_lo"]):
                arr = _decode_doclens(dl_data)
                idx = d_ids - int(lo)
                ok = (idx >= 0) & (idx < len(arr))
                vals = arr[idx[ok]]
                real = vals != TOMBSTONE
                tokens += int(vals[real].sum())
                # generations hold disjoint docs: at most one
                # generation's stream has a real length for a given
                # id, but dl=0 slots exist in every stream — count
                # each deleted doc once across generations
                live[np.flatnonzero(ok)[real]] = True
            return pd.DataFrame(
                {"del_tokens": [tokens], "n_del_live": [int(live.sum())]}
            )

        rec = (
            dls.filter(F.col("seg").isin(affected))
            .select("seg", "doc_lo", "dl_data")
            .groupBy("seg")
            .applyInPandas(_recover_stats, "del_tokens long, n_del_live long")
            .agg(
                F.sum("del_tokens").alias("t"),
                F.sum("n_del_live").alias("n"),
            )
            .collect()[0]
        )
        n_docs = n_docs - int(rec["n"] or 0)
        total_tokens = total_tokens - int(rec["t"] or 0)
        avgdl = total_tokens / n_docs if n_docs else 0.0

    def merge_postings(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for (seg, term), g in pdf.groupby(["seg", "term"], sort=False):
            del_ids = del_by_seg.get(int(seg))
            if len(g) == 1 and del_ids is None:
                # (seg, term) present in a single generation — the
                # common case, since generations hold disjoint doc
                # ranges and most segments belong wholly to one
                # generation. The packed binary is already exactly what
                # a from-scratch build of these docs produces (content
                # is a pure function of the postings), so pass it
                # through untouched: zero decode/encode work, most of a
                # compaction becomes a metadata rewrite.
                r = g.iloc[0]
                rows.append(
                    (
                        int(seg), term, int(r["df"]), int(r["cf"]),
                        list(r["block_last"]), list(r["block_max"]),
                        list(r["block_off"]), r["data"],
                        None if r["pos_off"] is None else list(r["pos_off"]),
                        r["pos_data"], r["pay_data"],
                    )
                )
                continue
            docs_parts, tf_parts, pos_parts, pay_parts = [], [], [], []
            has_pos = has_pay = True
            for _, r in g.iterrows():
                docs, tfs = decode_postings(r["data"])
                docs_parts.append(docs)
                tf_parts.append(tfs)
                if r["pos_data"] is not None:
                    flat = decode_positions(r["pos_data"], tfs)
                    bounds = np.zeros(len(tfs) + 1, np.int64)
                    np.cumsum(tfs, out=bounds[1:])
                    pos_parts.append(
                        [flat[bounds[i]:bounds[i + 1]] for i in range(len(tfs))]
                    )
                else:
                    has_pos = False
                if r["pay_data"] is not None:
                    pay_parts.append(decode_payloads(r["pay_data"]))
                else:
                    has_pay = False
            docs = np.concatenate(docs_parts)
            tfs = np.concatenate(tf_parts)
            order = np.argsort(docs, kind="stable")  # disjoint doc sets
            docs, tfs = docs[order], tfs[order]
            pos_lists = None
            if has_pos and pos_parts:
                flat_lists = [p for part in pos_parts for p in part]
                pos_lists = [flat_lists[i] for i in order]
            pays = None
            if has_pay and pay_parts:
                pays = np.concatenate(pay_parts)[order]
            if del_ids is not None:
                # the physical purge: tombstoned docs leave the posting
                # list here; df/cf/block metadata re-derive from the
                # survivors below
                keep = ~np.isin(docs, del_ids, assume_unique=True)
                docs, tfs = docs[keep], tfs[keep]
                if pos_lists is not None:
                    pos_lists = [
                        pl for pl, kp in zip(pos_lists, keep) if kp
                    ]
                if pays is not None:
                    pays = pays[keep]
                if len(docs) == 0:
                    continue
            rows.append(_postings_row(seg, term, docs, tfs, pos_lists, pays))
        return pd.DataFrame(rows, columns=_POSTINGS_COLS)

    n_segments = max(
        int(np.ceil(n_docs_space / seg_size)),
        max(s.n_segments for s in seg_indexes),
    )
    groups = max(1, min(groups, n_segments))

    flags_pos_in = {s.has_positions for s in seg_indexes} - {None}
    flags_pay_in = {s.has_payloads for s in seg_indexes} - {None}
    # docvalues carry-through: columns packed by EVERY input generation
    # survive compaction (numeric streams merge element-wise over the
    # disjoint doc sets; ordinal streams remap to a merged dictionary).
    # Columns missing from any generation are dropped — recorded in the
    # manifest either way.
    vc_common = sorted(
        set.intersection(*(set(s.value_cols) for s in seg_indexes))
        if seg_indexes
        else set()
    )
    sc_common = sorted(
        set.intersection(*(set(s.string_cols) for s in seg_indexes))
        if seg_indexes
        else set()
    )
    st_common = sorted(
        set.intersection(*(set(s.store_cols) for s in seg_indexes))
        if seg_indexes
        else set()
    )
    # carry the docstore schema, projected to the carried columns
    st_schema = None
    if st_common:
        src = next((s.store_schema for s in seg_indexes if s.store_schema), None)
        if src is not None:
            from pyspark.sql.types import _parse_datatype_string

            by_name = {f.name: f for f in _parse_datatype_string(src).fields}
            if all(c in by_name for c in ["doc_id", *st_common]):
                st_schema = ", ".join(
                    f"{c} {by_name[c].dataType.simpleString()}"
                    for c in ["doc_id", *st_common]
                )
    m = _read_manifest(out_path) if resume else None
    if m is None or m.get("codec_version") != CODEC_VERSION:
        os.makedirs(out_path, exist_ok=True)
        m = {
            "codec_version": CODEC_VERSION,
            "n_docs": n_docs,
            # doc ids are never renumbered: the id space keeps its
            # original extent even after deletions are purged (segment
            # layout + delete-by-id validation derive from this)
            "n_docs_space": n_docs_space,
            "n_purged": int(sum(len(v) for v in del_by_seg.values())),
            "avgdl": avgdl,
            "seg_size": seg_size,
            "n_segments": n_segments,
            "n_groups": groups,
            # propagate sub-stream presence so SegmentIndex.load of the
            # compacted dir agrees with the returned object (and later
            # compactions keep failing fast on mixed inputs)
            "has_positions": flags_pos_in.pop() if flags_pos_in else None,
            "has_payloads": flags_pay_in.pop() if flags_pay_in else None,
            "value_cols": vc_common,
            "string_cols": sc_common,
            "store_cols": st_common,
            "store_schema": st_schema,
            # carry the tokenizer contract (first input that recorded
            # one; generations built from one corpus share it)
            "tok_kwargs": next(
                (s.tok_kwargs for s in seg_indexes if s.tok_kwargs is not None),
                None,
            ),
            "completed_groups": [],
            "lineage": [],
        }
        _write_manifest(out_path, m)
    else:
        assert m["n_docs"] == n_docs and m["seg_size"] == seg_size, (
            "resume with different inputs — wipe the output dir"
        )
        # a pre-docvalues (or differently-configured) partial output
        # would resume with completed groups that lack the docvalues
        # files this run promises — the returned SegmentIndex would
        # claim streams that don't exist. Fail fast instead.
        assert (
            m.get("value_cols", []) == vc_common
            and m.get("string_cols", []) == sc_common
            and m.get("store_cols", []) == st_common
        ), (
            "resume with different carried docvalues/docstore columns — "
            "wipe the output dir (manifest "
            f"{m.get('value_cols', [])}/{m.get('string_cols', [])}/"
            f"{m.get('store_cols', [])} vs inputs "
            f"{vc_common}/{sc_common}/{st_common})"
        )
        groups = m["n_groups"]

    _all_done = set(m["completed_groups"]) == set(range(groups))
    # merged ordinal dictionaries + per-generation remap arrays: each
    # generation assigned its own ordinals; the compacted index needs
    # ONE dictionary, so build the union (sorted values, ords from 1)
    # and a facet-vocab-bounded old->new remap per (generation, col)
    remaps: dict[tuple[int, str], np.ndarray] = {}
    if sc_common and not (_all_done and m.get("string_dicts")):
        # skipped entirely on a fully-resumed dir: the remaps would
        # feed a group loop that has nothing left to do
        for col in sc_common:
            gen_dicts = []
            for si in seg_indexes:
                d = spark.read.parquet(
                    os.path.join(si.path, "docvalues_str", col, "dict")
                ).collect()
                gen_dicts.append({r["value"]: int(r["ord"]) for r in d})
            merged_vals = sorted(set().union(*(d.keys() for d in gen_dicts)))
            new_ord = {v: i + 1 for i, v in enumerate(merged_vals)}
            for gi, d in enumerate(gen_dicts):
                arr = np.zeros(max(d.values(), default=0) + 1, np.int64)
                for v, o in d.items():
                    arr[o] = new_ord[v]
                remaps[(gi, col)] = arr
            if not m.get("string_dicts"):
                spark.createDataFrame(
                    [(new_ord[v], v) for v in merged_vals], "ord long, value string"
                ).write.mode("overwrite").parquet(
                    os.path.join(out_path, "docvalues_str", col, "dict")
                )
        if not m.get("string_dicts"):
            m["string_dicts"] = True
            _write_manifest(out_path, m)

    def _merge_dense_factory(remap_by_gen: dict[int, np.ndarray] | None):
        def merge_dense(pdf: pd.DataFrame) -> pd.DataFrame:
            seg = int(pdf["seg"].iloc[0])
            d_lo = int(pdf["doc_lo"].iloc[0])
            n = int(pdf["n"].max())
            dense = np.zeros(n, np.int64)
            for _, r in pdf.iterrows():
                arr = _decode_doclens(r["data_dl"]).astype(np.int64)
                if remap_by_gen is not None:
                    # TOMBSTONE slots (an input that was itself
                    # compacted with deletions) survive the ordinal
                    # remap untouched
                    tomb = arr == TOMBSTONE
                    if tomb.any():
                        arr = np.where(tomb, 0, arr)
                        arr = remap_by_gen[int(r["gen"])][arr]
                        arr[tomb] = TOMBSTONE
                    else:
                        arr = remap_by_gen[int(r["gen"])][arr]
                # generations hold disjoint doc sets: absent docs hold
                # 0 in a generation's dense array, so max() is the union
                # (TOMBSTONE is the max of anything, so dead slots stay
                # dead across the union)
                dense[: len(arr)] = np.maximum(dense[: len(arr)], arr)
            del_ids = del_by_seg.get(seg)
            if del_ids is not None:
                idx = del_ids - d_lo
                idx = idx[(idx >= 0) & (idx < n)]
                # the tombstone stream is cleared by compaction; the
                # sentinel in the dense streams is what keeps match-all
                # / range / facet from resurrecting the doc
                dense[idx] = TOMBSTONE
            return _dense_row(seg, d_lo, dense)

        return merge_dense

    def _dv_streams(col: str, subdir: str) -> DataFrame:
        return functools.reduce(DataFrame.unionByName, [
            _scan(spark, si.path, _dv_rel(col, subdir), DOCLEN_SCHEMA)
            .withColumn("gen", F.lit(gi))
            for gi, si in enumerate(seg_indexes)
        ])

    for g in range(groups):
        if g in m["completed_groups"]:
            continue
        t0 = time.time()
        # one Arrow group per SEGMENT (not per term): the inner pandas
        # groupby walks the terms — same shape as the single-pass encoder
        (
            posts.filter(F.col("seg") % groups == g)
            .groupBy("seg")
            .applyInPandas(
                lambda pdf: merge_postings(pdf), schema=POSTINGS_SCHEMA
            )
            .write.mode("overwrite")
            .partitionBy("seg")
            .parquet(os.path.join(out_path, "postings", f"group={g}"))
        )
        (
            dls.filter(F.col("seg") % groups == g)
            .withColumnRenamed("dl_data", "data_dl")
            .groupBy("seg")
            # doclens merge IS the dense max-union (disjoint docs,
            # absent = 0) — same kernel as the docvalues streams
            .applyInPandas(_merge_dense_factory(None), schema=DOCLEN_SCHEMA)
            .write.mode("overwrite")
            .partitionBy("seg")
            .parquet(os.path.join(out_path, "doclens", f"group={g}"))
        )
        for vc in vc_common:
            (
                _dv_streams(vc, "docvalues")
                .filter(F.col("seg") % groups == g)
                .withColumnRenamed("dl_data", "data_dl")
                .groupBy("seg")
                .applyInPandas(_merge_dense_factory(None), schema=DOCLEN_SCHEMA)
                .write.mode("overwrite")
                .partitionBy("seg")
                .parquet(os.path.join(out_path, "docvalues", vc, f"group={g}"))
            )
        if st_common:
            # docstore rows carry through as-is (disjoint doc sets);
            # repartition+sort restores the one-file-per-seg, doc_id-
            # ordered layout fetch_docs' row-group pruning relies on
            st = None
            for si in seg_indexes:
                base = os.path.join(si.path, "docstore")
                d = (
                    spark.read.option("basePath", base)
                    .parquet(base)
                    .select("seg", "doc_id", *st_common)
                )
                st = d if st is None else st.unionByName(d)
            if del_by_seg:
                all_dead = [
                    int(x) for v in del_by_seg.values() for x in v
                ]
                if len(all_dead) <= 10_000:
                    st = st.filter(~F.col("doc_id").isin(all_dead))
                else:
                    # a delete_by_query near its cap would bloat the
                    # plan as an isin literal — broadcast anti-join
                    # keeps the purge a single map-side filter
                    dead_df = spark.createDataFrame(
                        [(i,) for i in all_dead], "doc_id long"
                    )
                    st = st.join(
                        F.broadcast(dead_df), "doc_id", "left_anti"
                    )
            (
                st.filter(F.col("seg") % groups == g)
                .repartition("seg")
                .sortWithinPartitions("seg", "doc_id")
                .write.mode("overwrite")
                .partitionBy("seg")
                .parquet(os.path.join(out_path, "docstore", f"group={g}"))
            )

        for sc in sc_common:
            remap_by_gen = {
                gi: remaps[(gi, sc)] for gi in range(len(seg_indexes))
            }
            (
                _dv_streams(sc, "docvalues_str")
                .filter(F.col("seg") % groups == g)
                .withColumnRenamed("dl_data", "data_dl")
                .groupBy("seg")
                .applyInPandas(
                    _merge_dense_factory(remap_by_gen), schema=DOCLEN_SCHEMA
                )
                .write.mode("overwrite")
                .partitionBy("seg")
                .parquet(
                    os.path.join(
                        out_path, "docvalues_str", sc, "streams", f"group={g}"
                    )
                )
            )
        elapsed = time.time() - t0
        m["completed_groups"].append(g)
        m["lineage"].append(
            {
                "group": g,
                "compacted_from": [s.path for s in seg_indexes],
                "codec_version": CODEC_VERSION,
                "seconds": round(elapsed, 3),
            }
        )
        _write_manifest(out_path, m)

    if not m.get("termstats"):
        if del_by_seg:
            # deletions changed df: re-derive the sidecar from the
            # purged postings metadata (term, df, cf) — one
            # column-pruned job; only runs when tombstones were purged
            merged_terms = _scan(
                spark, out_path, "postings", POSTINGS_SCHEMA
            ).select("term", "df", "cf")
        else:
            # merged termstats sidecar: per-generation sidecars are
            # global for their generation; df/cf are additive over
            # disjoint doc sets. Pre-cf sidecars read cf as NULL; a
            # term with ANY NULL contribution keeps cf NULL ("unknown")
            # — sum() alone would skip the NULLs and serve a partial
            # count indistinguishable from a real total.
            merged_terms = None
            for si in seg_indexes:
                t = spark.read.parquet(os.path.join(si.path, "termstats"))
                if "cf" not in t.columns:
                    t = t.withColumn("cf", F.lit(None).cast("long"))
                merged_terms = (
                    t if merged_terms is None else merged_terms.unionByName(t)
                )
        (
            merged_terms.groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.when(F.count(F.lit(1)) == F.count("cf"), F.sum("cf"))
                .otherwise(F.lit(None).cast("long"))
                .alias("cf"),
            )
            .repartitionByRange(max(2, groups), "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(os.path.join(out_path, "termstats"))
        )
        m["termstats"] = True
        _write_manifest(out_path, m)

    flags_pos = {s.has_positions for s in seg_indexes} - {None}
    flags_pay = {s.has_payloads for s in seg_indexes} - {None}
    return SegmentIndex(
        path=out_path, n_docs=n_docs, avgdl=avgdl,
        n_segments=n_segments, seg_size=seg_size,
        has_positions=flags_pos.pop() if flags_pos else None,
        has_payloads=flags_pay.pop() if flags_pay else None,
        value_cols=tuple(vc_common),
        string_cols=tuple(sc_common),
        store_cols=tuple(st_common),
        store_schema=m.get("store_schema"),
        tok_kwargs=m.get("tok_kwargs"),
    )


def wand_phrase_search_multi(
    spark: SparkSession,
    seg_indexes: list[SegmentIndex],
    phrase_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
) -> DataFrame:
    """Quoted-phrase top-k across MULTIPLE packed generations (before
    compaction) with GLOBAL statistics — the phrase analogue of
    wand_search_multi: wand_phrase_search's one-clause query over the
    generation list, whose disjoint doc sets each run the phrase
    matcher independently (with summed df and token-weighted avgdl)
    before the k-rows-per-segment partials merge globally. Identical
    to querying the compacted index (tests)."""
    from ..query.ast import Operand, Quote

    return _relation(spark, _serve(
        spark, list(seg_indexes), Quote(Operand(" ".join(phrase_terms))),
        _topk_collector(k, round_to), k1, b,
    ))


def wand_search_multi(
    spark: SparkSession,
    seg_indexes: list[SegmentIndex],
    terms_boosts: list[tuple[str, float]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    sim=None,
    min_should_match: int = 1,
    boost_fn: tuple | None = None,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Top-k across MULTIPLE packed indexes (e.g. streamed generations
    before compaction) with GLOBAL statistics: wand_search's bag over
    the generation list.

    Generations hold disjoint doc sets, so df sums and avgdl is the
    token-weighted mean; each generation's segments are scored
    independently (each under its own gen tag) and the k-row
    partials merge globally. Results equal a compacted/batch index
    (tests/test_streaming_payloads.py) — querying never has to wait
    for compaction.
    """
    return _relation(spark, _serve(
        spark, list(seg_indexes), _Terms.of(terms_boosts, min_should_match),
        _topk_collector(k, round_to, boost_fn=boost_fn, after=after),
        k1, b, sim=sim,
    ))


def wand_search(
    spark: SparkSession,
    seg_index: SegmentIndex,
    terms_boosts: list[tuple[str, float]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 5,
    sim=None,
    min_should_match: int = 1,
    boost_fn: tuple | None = None,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Distributed top-k of a weighted term bag over packed segments:
    the _Terms query (boosted SHOULD clauses, a repeated term summing
    its weights) served by _serve with the top-k collector.

    Plan: term->df from the build-time sidecar (driver-side pyarrow,
    no job) -> parquet scan with term-isin pushdown (few rows per
    segment) -> per-segment scoring in one Arrow batch -> a k-row
    top-k cut per partition in the same stage -> one collect and the
    same cut on the driver (_topk_cut): ONE Spark job, none on the
    local tier. At 10^12 docs this is the query fast path: work per
    segment is bounded by the query's posting sizes, the merge is k
    rows per partition.

    ``sim``: any query.scorer.Similarity — plain BM25 takes the
    block-max pruned path (_segment_topk_core); payload/classic/toggle
    variants score the full match over the codec-v3 sub-streams,
    rank-identical to the flat path.

    ``min_should_match``: drop docs matching fewer than mm distinct
    query terms (BooleanQuery minShouldMatch; the reference's
    configurable mm, MoreLikeThis.java:147), rank-identical to the
    flat search_terms(min_should_match=mm). mm>1 scores the full match
    (counting clause matches needs every term's postings).

    ``boost_fn``: (value_col, fn) — BoostedQuery at the serve tier
    (the flat handlers.boosted_search twin; MoreLikeThisHelper
    .java:131-145): fn is a vectorized np.ndarray -> np.ndarray
    ValueSource over ``value_col`` ("doc_id", or any column packed
    via build_segments(..., value_cols=[...])), multiplied into every
    candidate's raw score BEFORE ranking. Scores the full match — an
    unbounded multiplier invalidates block-max bounds.
    ``after``: (score, doc_id) searchAfter cursor (Lucene
    IndexSearcher.searchAfter / Solr cursorMark) — return the k docs
    strictly after that position in (score desc, doc_id asc) order.
    The cursor filter runs in each segment before its top-k cut, so
    every page costs k rows per segment at any depth — OFFSET paging
    would refetch offset+k rows per segment per page, the deep-paging
    anti-pattern at 10^12 docs. Cursor pages score the full match
    (the block-max heap prunes against the unfiltered top-k, which
    would drop page-2 docs). ``k=0`` answers an empty page with no
    read; a negative ``k`` raises ValueError.
    """
    return _relation(spark, _serve(
        spark, seg_index, _Terms.of(terms_boosts, min_should_match),
        _topk_collector(k, round_to, boost_fn=boost_fn, after=after),
        k1, b, sim=sim,
    ))


def _sidecar_stats(
    si: "SegmentIndex", term_list: list[str]
) -> dict[str, tuple[int, int]] | None:
    """term -> (df, cf) from the build-time termstats sidecar, read
    driver-side with pyarrow (row-group pruning on the sorted term
    column) — no Spark job. None if the index predates the sidecar.

    Every query looks its terms up here first, so this is where it
    checks its index's reader (one os.stat) and reuses the reader's
    sidecar dataset on both tiers."""
    if not si.path:
        return None
    rd = si.reader()
    dset = rd.dataset("termstats")
    if dset is None:
        return None
    if not term_list:
        return {}
    import pyarrow.dataset as ds

    tbl = dset.to_table(
        columns=["term", "df", "cf"], filter=ds.field("term").isin(term_list)
    )
    return {
        t: (int(d), int(c))
        for t, d, c in zip(
            tbl["term"].to_pylist(),
            tbl["df"].to_pylist(),
            tbl["cf"].to_pylist(),
        )
    }


def _sidecar_dfs(
    si: "SegmentIndex", term_list: list[str]
) -> dict[str, int] | None:
    """term->df from the termstats sidecar (see _sidecar_stats)."""
    st = _sidecar_stats(si, term_list)
    if st is None:
        return None
    return {t: d for t, (d, _c) in st.items()}


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (the parser unescapes the
    backslash and quote escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _scan(spark: SparkSession, path: str, rel: str, schema: str):
    """One (group=, seg=) hive-partitioned stream directory of the
    index at ``path`` as a Spark scan of codec ``schema``. Explicit
    schemas: the layout is fixed by the codec, and schema inference
    would cost a footer-read job per query."""
    base = os.path.join(path, rel)
    return (
        spark.read.option("basePath", base).schema(schema + ", group int")
        .parquet(base)
    )


def _tags(gen: int, kind: str, field: str) -> tuple:
    """The gen, seg, _kind and fld columns of a Spark kernel-input part."""
    return (
        f"CAST({int(gen)} AS bigint) AS gen", "seg",
        f"{_sql_str(kind)} AS _kind", f"{_sql_str(field)} AS fld",
    )


def _stream_rows(stream, gen: int, kind: str, field: str, term: str | None = None):
    """A dense per-segment stream (doclens, deletes, docvalues) as a
    Spark kernel-input part, in ONE selectExpr; ``term`` tags
    docvalues rows with their column."""
    return stream.selectExpr(
        *_tags(gen, kind, field),
        *(() if term is None else (f"{_sql_str(term)} AS term",)),
        "doc_lo",
        "dl_data AS data",
    )


def _unified_parts(
    spark: SparkSession,
    gens: list[tuple[int, SegmentIndex]],
    term_list: list[str],
    plan: _Plan,
    with_subs: bool = False,
    field: str = "",
):
    """Kernel-input parts (_stack stacks them, keyed by (gen, seg)):
    postings (term-pruned scan) + doclen rows of every generation, as
    Arrow tables from each index's reader on ``plan``'s "local"
    strategy, else as Spark frames of the same rows — the postings read
    is the only per-query I/O on the local tier. ``with_subs`` adds
    the v3 positions/payload sub-stream columns (left out of the
    plain-BM25 scan so parquet column pruning skips those bytes).
    ``field`` tags every row (fld column) so per-field packed indexes
    over the SAME doc space can stack into one frame — same seg covers
    the same doc range, so field routing stays segment-local
    (wand_boolean_search field_segments). Tombstone streams
    (delete_docs) ride the same frame as _kind='del' rows, so every
    kernel sees its segment's deletions in the same Arrow group.
    Postings files are (seg, term)-sorted, so both tiers hand a
    segment its rows in the same order."""
    # an empty isin (pyarrow) or IN list (Spark SQL) does not bind:
    # match nothing instead
    term_list = term_list or ["\x00none"]
    post_cols = [
        "term", "df", "block_last", "block_max", "block_off", "data",
    ] + (_SUB_COLS if with_subs else [])
    if plan.strategy == "local":
        import pyarrow.dataset as ds

        parts = [
            _tagged(
                si.reader(check=False).dataset("postings").to_table(
                    columns=["seg"] + post_cols,
                    filter=ds.field("term").isin(term_list),
                ),
                gen_id, "post", field,
            )
            for gen_id, si in gens
        ]
        parts += [
            _tagged(st, gen_id, kind, field)
            for kind, rel in (("dl", "doclens"), ("del", "deletes"))
            for gen_id, si in gens
            if (st := si.reader(check=False).stream(rel)) is not None
        ]
        return parts
    in_terms = "term IN (" + ", ".join(_sql_str(t) for t in term_list) + ")"
    parts = [
        _scan(spark, si.path, "postings", POSTINGS_SCHEMA)
        .filter(in_terms)
        .selectExpr(*_tags(gen_id, "post", field), *post_cols)
        for gen_id, si in gens
    ]
    parts += [
        _stream_rows(
            _scan(spark, si.path, "doclens", DOCLEN_SCHEMA), gen_id, "dl", field
        )
        for gen_id, si in gens
    ]
    # the existence check is one driver-side stat call; an absent
    # directory (the common case) costs nothing
    parts += [
        _stream_rows(
            spark.read.schema(DOCLEN_SCHEMA).parquet(_deletes_dir(si.path)),
            gen_id, "del", field,
        )
        for gen_id, si in gens
        if os.path.isdir(_deletes_dir(si.path))
    ]
    return parts


def _dv_parts(
    spark: SparkSession,
    gens: list[tuple[int, SegmentIndex]],
    col: str,
    plan: _Plan,
    subdir: str = "docvalues",
):
    """Kernel-input parts of one numeric/ordinal docvalues column in
    every generation (_kind='dv', term=column name, data=varint dense
    stream), from each index's reader on ``plan``'s "local" strategy,
    else from a Spark scan."""
    rel = _dv_rel(col, subdir)
    if plan.strategy == "local":
        parts = []
        for gen_id, si in gens:
            st = si.reader(check=False).stream(rel)
            if st is None:
                raise FileNotFoundError(f"no {rel!r} stream under {si.path!r}")
            parts.append(_tagged(st, gen_id, "dv", "", term=col))
        return parts
    return [
        _stream_rows(_scan(spark, si.path, rel, DOCLEN_SCHEMA), gen_id, "dv", "", col)
        for gen_id, si in gens
    ]


def describe_index(path: str) -> dict:
    """Driver-side index introspection (the SegmentInfos / Luke-style
    ops view): manifest stats, per-group build lineage, stream
    presence, and on-disk bytes per stream directory — pure filesystem
    reads, no Spark job. The dict is JSON-serializable for ops
    tooling and the query CLI."""
    m = _read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no packed index manifest under {path!r}")

    streams = {
        name: _dir_bytes(os.path.join(path, name))
        for name in (
            "postings", "doclens", "docstore", "docvalues",
            "docvalues_str", "termstats", "deletes",
        )
        if os.path.isdir(os.path.join(path, name))
    }
    n_deleted = (
        live_docs(path)["n_deleted"] if m.get("has_deletes") else 0
    )
    return {
        "n_deleted": n_deleted,
        "n_live": (m.get("n_docs") or 0) - n_deleted,
        "path": path,
        "codec_version": m.get("codec_version"),
        "n_docs": m.get("n_docs"),
        "avgdl": m.get("avgdl"),
        "n_segments": m.get("n_segments"),
        "seg_size": m.get("seg_size"),
        "complete": set(m.get("completed_groups", []))
        == set(range(m.get("n_groups", 0))),
        "has_positions": m.get("has_positions"),
        "has_payloads": m.get("has_payloads"),
        "value_cols": m.get("value_cols", []),
        "string_cols": m.get("string_cols", []),
        "store_cols": m.get("store_cols", []),
        "tok_kwargs": m.get("tok_kwargs"),
        "lineage": m.get("lineage", []),
        "stream_bytes": streams,
        "total_bytes": sum(streams.values()),
    }
