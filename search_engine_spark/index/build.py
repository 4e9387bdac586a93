"""Compressed inverted-index build (SURVEY.md §4.4 step 1, M2).

Replaces the reference's row-per-posting PostgreSQL upsert pipeline
(``IndexerService.java:370-452`` batching, ``:57-68`` upserts) with a
Spark-first staged build over the transcripts table:

  phase 0  doc ids/staging:  global ``doc_id`` by rank over
           ``(conv_id, turn_idx)`` (two-phase range partition + offset —
           the scalable analog of Ranker1's sorted-docId densification,
           ``Ranker1.java:128-137``), plus ``group = pmod(xxhash64(conv_id), G)``
           — the checkpoint/shard unit.  Staged parquet is partitioned by
           ``group`` so every later phase prunes to 1/G of the corpus.
  phase 1  tokenize + per-partition posting-FRAGMENT construction in one
           Arrow-batched ``mapInPandas`` kernel: within each input batch,
           postings are aggregated per term and emitted as delta+varbyte
           compressed fragment rows (term, group, n, min_doc, doc/tf/pos/dl
           blobs) — a map-side combine that shrinks the shuffle from one
           row per (doc, term) to one row per (batch, term).  Doc-length
           rows ride along as ``term IS NULL`` fragments.  Two modes with
           identical on-disk layout: one job for the whole corpus (fast
           path) or one job per group (checkpoint/resume unit + lineage).
  phase 2  corpus stats: N, avgdl (``IndexerService.java:1017-1020`` path).
  phase 3  merge: ONE hash shuffle on ``(term, group)`` — the *group* key
           is the doc-range salt that spreads one Zipf head term over G
           reducers instead of one (SURVEY.md §4.1 "skew handling") —
           sort-within-partition by (term, group, min_doc), then a
           ``mapInPandas`` kernel (one invocation per Arrow batch, NOT per
           term) decodes the batch's fragments column-wise, puts every
           (term, group) run in doc order with one lexsort and packs the
           runs into blocks of ``block_size`` with block-max BM25 partial
           upper bounds for WAND.  Written partitioned by
           ``bucket = pmod(xxhash64(term), NB)`` for query-time partition
           pruning (the Iceberg ``bucket(term)`` analog).
  phase 4  idf table (``idf = ln((1+N)/(1+df)) + 1``, IndexerService.java:966)
           and per-group doclen blobs for the query kernels.

All heavy work is DataFrame ops + Arrow-batched numpy kernels, with no
driver-side loops over data.  The merge and block-rewrite kernels
(:class:`PostingBatch`) run whole-batch array operations; the per-row
Python left is the tokenize kernel's ``analyze_text`` call per turn and
its loop building one output row per fragment.

Driver-local builds: an input within ``reader.LOCAL_BUDGET_BYTES``
(:func:`driver_rows`: Catalyst's size estimate, then the collected
Arrow bytes) skips the Spark jobs, whose fixed cost dominates a small
build.  :func:`build_local` runs the same phases in-process —
:func:`rank_local` for phase 0, one :func:`_fragment_kernel` pass,
:func:`merge_local` (the merge kernel after the shuffle's sort) and
:func:`finalize_local` — and writes the same tables with pyarrow
(:func:`write_table`).  Both finalizers share :func:`_commit` (lineage,
N/avgdl, meta) and :func:`idf_of`.  Checkpoint and resume builds always
run on Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..config import BM25_B, BM25_K1, BuildConfig
from ..textproc import analyze_text
from .codec import stream_byte_offsets, varbyte_decode, varbyte_encode


def _cols(ddl: str) -> list[str]:
    return [f.split()[0] for f in ddl.split(",")]


# term IS NULL rows are doclen fragments: doc_blob=delta(doc_ids),
# dl_blob=varbyte(dls), n=doc count, sum_dl=Σdl (for avgdl).
FRAGMENTS_SCHEMA = (
    "term string, group int, n int, min_doc long, sum_dl long, "
    "doc_blob binary, tf_blob binary, pos_blob binary, dl_blob binary"
)
FRAGMENT_COLS = _cols(FRAGMENTS_SCHEMA)
# a checkpoint group's fragment files (``group`` is their directory)
_FRAGMENT_FILE_SCHEMA = ", ".join(
    f.strip() for f in FRAGMENTS_SCHEMA.split(",") if f.split()[0] != "group"
)
# Format v5: posting blocks carry the per-posting doclen stream
# (dl_blob) INLINE — scoring needs each candidate doc's length, and
# serving it from the side doclen table forced every query (and every
# batch) to shuffle the corpus-wide doclen blobs through a cogroup;
# inline, the per-query exchange is proportional to the PRUNED postings
# only.  Cost: ~1 varbyte/posting (~1 byte at typical dl<128).
BLOCKS_SCHEMA = (
    "term string, group int, block_id int, n int, first_doc long, last_doc long, "
    "doc_blob binary, tf_blob binary, pos_blob binary, dl_blob binary, "
    "max_tf int, min_dl int"
)
# (max_tf, min_dl) give an avgdl-INDEPENDENT block upper bound:
# tf_bm25 is increasing in tf and decreasing in dl, so
# partial(max_tf, min_dl) >= partial(tf_i, dl_i) for every posting in the
# block at ANY avgdl — the bound is computed at query time, which lets the
# merge run without a corpus-stats pre-pass (single fused build job).
DOCLEN_SCHEMA = "group int, n_docs long, sum_dl long, doc_blob binary, dl_blob binary"
CONVS_SCHEMA = "conv_id string, conv_rank long, group int"
IDF_SCHEMA = "term string, df long, idf double"
# the bucket-partitioned tables as read back (partition column last)
POSTINGS_SCHEMA = BLOCKS_SCHEMA + ", bucket int"
IDF_READ_SCHEMA = IDF_SCHEMA + ", bucket int"

NUM_BUCKETS = 64  # term-hash partitions of the postings/idf tables

# doc_id = conv_rank << TURN_BITS | turn_idx: order-isomorphic to
# (conv_id, turn_idx), deterministic, assigned with ONE tiny job over
# distinct conv_ids — the corpus itself is read exactly once (by the
# fragment kernel).  2^21 turns per conversation max.
TURN_BITS = 21
TURN_MASK = (1 << TURN_BITS) - 1


def _dir(base: str, name: str) -> str:
    return os.path.join(base, name)


# ------------------------------------------------ driver-written tables

_ARROW_TYPES = {
    "string": pa.string(), "int": pa.int32(), "long": pa.int64(),
    "double": pa.float64(), "binary": pa.binary(),
}
_BLOB_COLS = {"doc_blob", "tf_blob", "pos_blob", "dl_blob"}


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema Spark writes for a DDL string of this module's
    types (an all-null column keeps its declared type)."""
    return pa.schema([(n, _ARROW_TYPES[t]) for n, t in (f.split() for f in ddl.split(","))])


def _write_parquet(table: pa.Table, path: str) -> None:
    """One parquet file with Spark's column types and none of pyarrow's
    extras that grow it: no Arrow schema blob, and no dictionary pages
    or statistics on the blob columns (whose values are all distinct)."""
    import pyarrow.parquet as pq

    plain = [c for c in table.column_names if c not in _BLOB_COLS]
    pq.write_table(table, path, store_schema=False, use_dictionary=plain, write_statistics=plain)


def write_table(pdf: pd.DataFrame, ddl: str | None, table_dir: str, partition: str | None = None) -> None:
    """``pdf`` as a parquet table directory written on the driver, laid
    out as a Spark write lays it out: one file (also when empty), or
    with ``partition`` one file per ``{partition}=N`` directory (none
    when empty); ``ddl`` gives the schema (None: inferred from pandas)."""
    os.makedirs(table_dir, exist_ok=True)
    table = pa.Table.from_pandas(
        pdf if partition is None else pdf.drop(columns=partition),
        schema=None if ddl is None else arrow_schema(ddl), preserve_index=False,
    )
    name = "part-00000.snappy.parquet"
    if partition is None:
        _write_parquet(table, os.path.join(table_dir, name))
    else:
        keys = pdf[partition].to_numpy()
        order = np.argsort(keys, kind="stable")
        keys, table = keys[order], table.take(order)
        cuts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]]) if len(keys) else []
        for lo, hi in zip(cuts, np.append(cuts[1:], len(keys))):
            d = os.path.join(table_dir, f"{partition}={keys[lo]}")
            os.makedirs(d)
            _write_parquet(table.slice(lo, hi - lo), os.path.join(d, name))


def _read_frame(table_dir: str, ddl: str) -> pd.DataFrame:
    """A local parquet table (partition dirs included) as pandas, read
    on the driver; only ``ddl``'s file columns."""
    import pyarrow.parquet as pq

    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(table_dir)
        for f in sorted(names)
        if not f.startswith(("_", "."))
    ]
    schema = arrow_schema(ddl)
    if not files:
        return schema.empty_table().to_pandas()
    return pq.read_table(files, columns=schema.names, schema=schema).to_pandas()


def driver_rows(transcripts: DataFrame) -> pd.DataFrame | None:
    """``transcripts``' (conv_id, turn_idx, text) rows on the driver when
    the input is small enough to index in-process, else None (the
    unchanged Spark plan runs).

    The choice is the input's size against
    :data:`reader.LOCAL_BUDGET_BYTES`: first Catalyst's estimate of the
    plan (no job; a Spark-scale input is never collected), then the
    collected rows' Arrow bytes, because a local relation is estimated
    at 20 B per string.  Collecting a local relation launches no job, a
    scan one.  A null conv_id keeps the Spark plan (its conv table ranks
    a null conversation)."""
    from . import reader

    budget = reader.LOCAL_BUDGET_BYTES
    df = transcripts.select("conv_id", "turn_idx", "text")
    if df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() > budget:
        return None
    pdf = pd.DataFrame(df.collect(), columns=["conv_id", "turn_idx", "text"])
    table = pa.Table.from_pandas(pdf, schema=arrow_schema("conv_id string, turn_idx int, text string"),
                                 preserve_index=False)
    if table.nbytes > budget or pdf.empty or pdf["conv_id"].isna().any():
        return None
    return pdf


@dataclass
class IndexPaths:
    root: str
    convs: str = field(init=False)  # conv_id ↔ conv_rank table
    tokens: str = field(init=False)  # fragment table (kept name for layout compat)
    postings: str = field(init=False)
    idf: str = field(init=False)
    doclen: str = field(init=False)
    lineage: str = field(init=False)
    meta: str = field(init=False)

    def __post_init__(self) -> None:
        self.convs = _dir(self.root, "convs")
        self.tokens = _dir(self.root, "fragments")
        self.postings = _dir(self.root, "postings")
        self.idf = _dir(self.root, "idf")
        self.doclen = _dir(self.root, "doclen")
        self.lineage = _dir(self.root, "lineage")
        self.meta = _dir(self.root, "meta.json")


# ---------------------------------------------------------------- phase 0


def conv_ranks(
    transcripts: DataFrame, num_groups: int, scratch_dir: str | None = None
) -> DataFrame:
    """Distinct conversations → (conv_id, conv_rank, group).

    ``conv_rank`` is the global rank of ``conv_id`` among distinct
    conversations — deterministic regardless of where the range-partition
    boundaries fall, because range partitions are contiguous in sort
    order and a partition's offset is the count of rows in all earlier
    partitions.  This runs over the ~N/turns-per-conv DISTINCT conv ids,
    not the corpus: the corpus itself is read once, by the fragment
    kernel, with doc ids computed as ``conv_rank << TURN_BITS | turn_idx``.
    """
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    p = max(transcripts.sparkSession.sparkContext.defaultParallelism, 8)
    t = (
        transcripts.select("conv_id")
        .distinct()
        .repartitionByRange(p, "conv_id")
        .withColumn("_pid", F.spark_partition_id())
    )
    # Pin the sampled range boundaries: repartitionByRange re-samples per
    # job, so the counts job and the rank job MUST see the same (_pid →
    # conv set) assignment.  With a scratch dir the staged table is
    # MATERIALIZED to parquet with _pid as a data column — executor loss
    # or cache eviction can then never re-sample different boundaries
    # between the two jobs (persist() alone recomputes on eviction).
    if scratch_dir is not None:
        t.write.mode("overwrite").parquet(scratch_dir)
        t = transcripts.sparkSession.read.schema("conv_id string, _pid int").parquet(scratch_dir)
    else:
        t = t.persist(StorageLevel.MEMORY_AND_DISK)
    counts = {r["_pid"]: r["c"] for r in t.groupBy("_pid").agg(F.count("*").alias("c")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = t.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    w = Window.partitionBy("_pid").orderBy("conv_id")
    ranked = (
        t.join(F.broadcast(off_df), "_pid")
        .withColumn("conv_rank", F.col("_off") + F.row_number().over(w) - 1)
        .withColumn("group", F.pmod(F.xxhash64("conv_id"), F.lit(num_groups)).cast("int"))
        .select("conv_id", "conv_rank", "group")
    )
    return ranked


def with_doc_ids(transcripts: DataFrame, convs: DataFrame, hint_broadcast: bool = True) -> DataFrame:
    """transcripts ⋈ convs → (group, doc_id, text) with encoded doc ids.

    The conv table is broadcast when it fits (≲5M conversations); beyond
    that Spark falls back to a shuffle join of the THIN key table — the
    corpus side still streams through once either way.
    """
    c = F.broadcast(convs) if hint_broadcast else convs
    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .join(c, "conv_id")
        .select(
            "group",
            (F.shiftleft(F.col("conv_rank"), TURN_BITS) + F.col("turn_idx"))
            .cast("long")
            .alias("doc_id"),
            "text",
        )
    )


# ---------------------------------------------------------------- phase 1


def _delta(a: np.ndarray) -> np.ndarray:
    d = np.empty_like(a)
    d[0] = a[0]
    d[1:] = a[1:] - a[:-1]
    return d


def _fragment_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(group, doc_id, text) batches → compressed fragment rows.

    Map-side combine: one output row per (term, group) per batch, postings
    sorted by doc_id and delta+varbyte packed.  One ``term IS NULL`` row
    per (group, batch) carries the doclen fragment.

    Per-posting work is vectorized: a fragment's per-doc position lists
    are concatenated and encoded with ONE ``varbyte_encode`` call (the
    per-doc streams are delta-encoded in place via boundary fix-up) —
    encoding call count is O(distinct terms per batch), not O(postings).
    """
    stem_cache: dict[str, str] = {}
    ones_cache: np.ndarray = np.ones(0, dtype=np.int64)
    for pdf in batches:
        rows: list = []
        for group, gdf in pdf.groupby("group", sort=False):
            g = int(group)
            gdf = gdf.sort_values("doc_id", kind="mergesort")
            toks_per_doc = [
                analyze_text(t if isinstance(t, str) else "", _stem_cache=stem_cache)
                for t in gdf["text"]
            ]
            doc_ids = gdf["doc_id"].to_numpy(dtype=np.int64)
            lens = np.fromiter(map(len, toks_per_doc), dtype=np.int64, count=len(toks_per_doc))
            # doclen fragment (one per (group, batch))
            rows.append(
                (
                    None, g, len(doc_ids), int(doc_ids[0]), int(lens.sum()),
                    varbyte_encode(_delta(doc_ids).astype(np.uint64)),
                    None, None,
                    varbyte_encode(lens.astype(np.uint64)),
                )
            )
            total = int(lens.sum())
            if total == 0:
                continue
            # flatten: token stream + owning doc index + in-doc position
            flat = np.empty(total, dtype=object)
            off = 0
            for t in toks_per_doc:
                n = len(t)
                flat[off : off + n] = t
                off += n
            doc_idx = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            pos = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
            # factorize terms (C-speed) and cluster by (term, doc, pos)
            codes, uniques = pd.factorize(flat, sort=False)
            order = np.lexsort((pos, doc_idx, codes))
            codes_s = codes[order]
            doc_s = doc_idx[order]
            pos_s = pos[order]
            # posting boundaries = change of (term, doc)
            newpost = np.empty(total, dtype=bool)
            newpost[0] = True
            newpost[1:] = (codes_s[1:] != codes_s[:-1]) | (doc_s[1:] != doc_s[:-1])
            post_starts = np.flatnonzero(newpost)
            tfs_all = np.diff(np.concatenate([post_starts, [total]]))
            post_code = codes_s[post_starts]
            post_doc = doc_ids[doc_s[post_starts]]
            post_dl = lens[doc_s[post_starts]]
            # fragment boundaries = change of term over postings
            npost = len(post_starts)
            newfrag = np.empty(npost, dtype=bool)
            newfrag[0] = True
            newfrag[1:] = post_code[1:] != post_code[:-1]
            frag_starts = np.flatnonzero(newfrag)
            frag_ends = np.concatenate([frag_starts[1:], [npost]])
            # ONE varbyte stream per quantity, sliced per fragment/posting
            pos_deltas = pos_s.copy()
            pos_deltas[1:] -= pos_s[:-1]
            pos_deltas[post_starts] = pos_s[post_starts]
            pos_stream = varbyte_encode(pos_deltas.astype(np.uint64))
            pos_off = stream_byte_offsets(pos_stream, tfs_all)

            doc_deltas = post_doc.copy()
            doc_deltas[1:] -= post_doc[:-1]
            doc_deltas[frag_starts] = post_doc[frag_starts]
            doc_stream = varbyte_encode(doc_deltas.astype(np.uint64))
            if len(ones_cache) < npost:
                ones_cache = np.ones(npost, dtype=np.int64)
            ones = ones_cache[:npost]
            doc_off = stream_byte_offsets(doc_stream, ones)
            tf_stream = varbyte_encode(tfs_all.astype(np.uint64))
            tf_off = stream_byte_offsets(tf_stream, ones)
            dl_stream = varbyte_encode(post_dl.astype(np.uint64))
            dl_off = stream_byte_offsets(dl_stream, ones)

            for fs, fe in zip(frag_starts, frag_ends):
                rows.append(
                    (
                        str(uniques[post_code[fs]]), g, int(fe - fs), int(post_doc[fs]), 0,
                        doc_stream[doc_off[fs] : doc_off[fe]],
                        tf_stream[tf_off[fs] : tf_off[fe]],
                        pos_stream[pos_off[fs] : pos_off[fe]],
                        dl_stream[dl_off[fs] : dl_off[fe]],
                    )
                )
        yield pd.DataFrame(rows, columns=FRAGMENT_COLS)


# ---------------------------------------------------------------- phase 3


_BLOCK_COLS = _cols(BLOCKS_SCHEMA)
def _binary(stream: bytes, offsets: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """Row slices ``stream[offsets[i]:offsets[i + 1]]``, None where not
    ``valid``, as an object array of bytes (sliced by Arrow, not by a
    Python loop over rows)."""
    return pa.Array.from_buffers(
        pa.large_binary(), len(valid),
        [
            pa.py_buffer(np.packbits(valid, bitorder="little")),
            pa.py_buffer(np.ascontiguousarray(offsets, dtype=np.int64)),
            pa.py_buffer(stream),
        ],
    ).to_numpy(zero_copy_only=False)


class PostingBatch:
    """A batch of fragment rows decoded column-wise: each blob column is
    ONE ``varbyte_decode`` over the rows' concatenated bytes (the stream
    is self-delimiting), and doc ids are a cumulative sum that restarts
    at each row.

    Fragment layout: a ``term IS NULL`` row is a doclen row whose
    per-doc lengths are its ``dl`` stream; it has no tf or pos stream.
    Per posting the batch holds its source ``row``, ``doc``, ``tf`` (0 on
    doclen rows) and ``dl``, and where its tf, dl and pos bytes sit in
    one byte buffer (``tf_at``/``dl_at``/``pos_at``: start, length), so
    any selection of postings is repacked by copying bytes
    (:meth:`blob`); only doc ids are re-encoded (:meth:`doc_blob`).
    """

    def __init__(self, pdf: pd.DataFrame, dl_blobs: pd.Series):
        n = pdf["n"].to_numpy(np.int64)
        self.terms = pdf["term"].to_numpy(object)
        self.groups = pdf["group"].to_numpy(np.int64)
        self.is_dl = pd.isna(self.terms)
        self.row = np.repeat(np.arange(len(n)), n)
        term_rows = ~self.is_dl
        # uint64 sums wrap, but each row's difference is exact
        cs = np.cumsum(varbyte_decode(b"".join(pdf["doc_blob"].to_numpy(object))))
        first = np.cumsum(n) - n
        before = np.where(first > 0, cs[np.maximum(first - 1, 0)], 0).astype(np.uint64)
        self.doc = (cs - np.repeat(before, n)).view(np.int64)
        tf_bytes = b"".join(pdf["tf_blob"].to_numpy(object)[term_rows])
        dl_bytes = b"".join(dl_blobs.to_numpy(object))
        pos_bytes = b"".join(pdf["pos_blob"].to_numpy(object)[term_rows])
        has_tf = term_rows[self.row]
        self.tf = np.zeros(len(self.row), dtype=np.int64)
        self.tf[has_tf] = varbyte_decode(tf_bytes).astype(np.int64)
        self.dl = varbyte_decode(dl_bytes).astype(np.int64)
        self.buf = np.frombuffer(tf_bytes + dl_bytes + pos_bytes, dtype=np.uint8)
        base = 0
        spans = []
        for stream, counts in ((tf_bytes, has_tf), (dl_bytes, np.ones(len(self.row), np.int64)), (pos_bytes, self.tf)):
            off = stream_byte_offsets(stream, counts)
            spans.append((off[:-1] + base, np.diff(off)))
            base += len(stream)
        self.tf_at, self.dl_at, self.pos_at = spans

    def doc_blob(self, doc: np.ndarray, sel: np.ndarray, cuts: np.ndarray) -> np.ndarray:
        """Postings ``sel`` (in output order) cut into rows at ``cuts``
        → one delta+varbyte doc blob per row, ``doc`` giving the ids."""
        d = doc[sel]
        delta = d.copy()
        delta[1:] -= d[:-1]
        delta[cuts] = d[cuts]
        stream = varbyte_encode(delta.astype(np.uint64))
        counts = np.diff(np.append(cuts, len(sel)))
        return _binary(stream, stream_byte_offsets(stream, counts), np.ones(len(cuts), bool))

    def blob(self, at: tuple, sel: np.ndarray, cuts: np.ndarray, valid: np.ndarray) -> np.ndarray:
        """The bytes ``at`` (start, length per posting) of postings ``sel``
        copied in order, cut into rows at ``cuts``, None where not ``valid``."""
        starts, lens = at[0][sel], at[1][sel]
        off = np.zeros(len(sel) + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        idx = np.repeat(starts - off[:-1], lens) + np.arange(off[-1])
        return _binary(self.buf[idx].tobytes(), np.append(off[cuts], off[-1]), valid)


def _run_starts(pdf: pd.DataFrame) -> np.ndarray:
    """True on each row whose (term, group) differs from the row before
    (NULL terms compare equal)."""
    codes = pd.factorize(pdf["term"].to_numpy(object))[0]
    groups = pdf["group"].to_numpy()
    starts = np.ones(len(pdf), dtype=bool)
    starts[1:] = (codes[1:] != codes[:-1]) | (groups[1:] != groups[:-1])
    return starts


def _merge_frame(pdf: pd.DataFrame, block_size: int) -> pd.DataFrame:
    """Fragment rows sorted by (term, group, min_doc) → block rows.

    Fragments of one (term, group) run overlap in doc range when input
    splits interleave doc ids, so each run is put in doc order by one
    stable lexsort over the batch, then cut into blocks of
    ``block_size``.  A ``term IS NULL`` run packs DOCLEN blocks: the dl
    stream rides in tf_blob, pos_blob and dl_blob are NULL, bounds zero.
    """
    p = PostingBatch(pdf, pdf["dl_blob"])
    run = np.cumsum(_run_starts(pdf))[p.row]
    sel = np.lexsort((p.doc, run))
    run_s = run[sel]
    firsts = np.flatnonzero(np.r_[True, run_s[1:] != run_s[:-1]])
    local = np.arange(len(sel)) - np.repeat(firsts, np.diff(np.append(firsts, len(sel))))
    cuts = np.flatnonzero(local % block_size == 0)
    src = p.row[sel[cuts]]
    dl_block = p.is_dl[src]
    ends = np.append(cuts[1:], len(sel))
    d = p.doc[sel]
    dl_post = p.is_dl[p.row]
    tf_or_dl = tuple(np.where(dl_post, a, b) for a, b in zip(p.dl_at, p.tf_at))
    return pd.DataFrame({
        "term": p.terms[src],
        "group": p.groups[src],
        "block_id": local[cuts] // block_size,
        "n": ends - cuts,
        "first_doc": d[cuts],
        "last_doc": d[ends - 1],
        "doc_blob": p.doc_blob(p.doc, sel, cuts),
        "tf_blob": p.blob(tf_or_dl, sel, cuts, np.ones(len(cuts), bool)),
        "pos_blob": p.blob(p.pos_at, sel, cuts, ~dl_block),
        "dl_blob": p.blob(p.dl_at, sel, cuts, ~dl_block),
        "max_tf": np.where(dl_block, 0, np.maximum.reduceat(p.tf[sel], cuts)),
        "min_dl": np.where(dl_block, 0, np.minimum.reduceat(p.dl[sel], cuts)),
    }, columns=_BLOCK_COLS)


def _make_merge_mapper(block_size: int):
    """mapInPandas kernel over a (term, group)-hash partition sorted by
    (term, group, min_doc): one invocation per Arrow batch (a corpus has
    millions of terms — per-key applyInPandas overhead would dominate).
    A (term, group) run can span batch boundaries, so each batch's
    trailing run is carried over."""

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: pd.DataFrame | None = None
        for pdf in batches:
            if buf is not None:
                pdf = pd.concat([buf, pdf], ignore_index=True)
                buf = None
            if len(pdf) == 0:
                continue
            head_end = int(np.flatnonzero(_run_starts(pdf))[-1])
            buf = pdf.iloc[head_end:].reset_index(drop=True)
            if head_end:
                yield _merge_frame(pdf.iloc[:head_end], block_size)
        if buf is not None and len(buf):
            yield _merge_frame(buf, block_size)

    return mapper


# ---------------------------------------------------------------- phase 4


def _doclen_concat_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    """Doclen BLOCK rows of one group → a single (group, blobs) row.

    Input: the ``term IS NULL`` block rows (dl stream rides in tf_blob),
    block_id-ordered so docs are globally ascending per group.
    """
    (group,) = key
    pdf = pdf.sort_values("block_id", kind="mergesort")
    docs = np.concatenate(
        [np.cumsum(varbyte_decode(b).astype(np.int64)) for b in pdf["doc_blob"]]
    )
    dls = np.concatenate([varbyte_decode(b).astype(np.int64) for b in pdf["tf_blob"]])
    return pd.DataFrame(
        [
            (
                int(group),
                len(docs),
                int(dls.sum()),
                varbyte_encode(_delta(docs).astype(np.uint64)),
                varbyte_encode(dls.astype(np.uint64)),
            )
        ],
        columns=["group", "n_docs", "sum_dl", "doc_blob", "dl_blob"],
    )


def _bucket_col(term: Column) -> Column:
    return F.pmod(F.xxhash64(term), F.lit(NUM_BUCKETS)).cast("int")


def write_blocks(
    frags: DataFrame, paths: IndexPaths, shuffle_partitions: int, block_size: int
) -> None:
    """(term, group)-salted shuffle → merge kernel → bucketed postings.

    Doclen fragments (term IS NULL) flow through the same shuffle and land
    in the reserved ``bucket=-1`` partition.
    """
    clustered = frags.select(
        "term", "group", "n", "min_doc", "doc_blob", "tf_blob", "pos_blob", "dl_blob"
    ).repartition(shuffle_partitions, "term", "group").sortWithinPartitions(
        "term", "group", "min_doc"
    )
    blocks = clustered.mapInPandas(_make_merge_mapper(block_size), schema=BLOCKS_SCHEMA)
    blocks = blocks.withColumn(
        "bucket",
        F.when(F.col("term").isNull(), F.lit(-1)).otherwise(_bucket_col(F.col("term"))),
    )
    # one file per bucket dir: queries list/schedule O(query buckets)
    # files instead of O(write tasks × buckets).  The hash key IS the
    # bucket, so each bucket lands in one write task however many tasks
    # adaptive execution sizes the stage to; the kernel stage above
    # still ran at full parallelism
    blocks.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(
        paths.postings
    )


def merge_local(frags: pd.DataFrame, block_size: int) -> pd.DataFrame:
    """:func:`write_blocks` on the driver: fragment rows sorted as the
    merge shuffle sorts them, the same merge kernel, and the bucket
    column (``term_bucket``, the writer's xxhash64)."""
    from .xxhash import term_bucket

    frags = frags.sort_values(
        ["term", "group", "min_doc"], na_position="first", kind="mergesort", ignore_index=True
    )
    out = list(_make_merge_mapper(block_size)(iter([frags])))
    blocks = pd.concat(out, ignore_index=True) if out else pd.DataFrame(columns=_BLOCK_COLS)
    terms = blocks["term"]
    bucket = {t: term_bucket(t, NUM_BUCKETS) for t in terms.dropna().unique()}
    blocks["bucket"] = terms.map(bucket).fillna(-1).astype(np.int32)
    return blocks


def idf_of(n_docs: int, df, log):
    """``ln((1+N)/(1+df)) + 1`` (IndexerService.java:966) over a Spark
    Column (``log=F.log``) or a numpy array (``log=np.log``)."""
    return log((1.0 + n_docs) / (1.0 + df)) + 1.0


def _commit(
    paths: IndexPaths, stats: list, tokenize_metrics: list[dict] | None, started: float | None,
    write_idf, num_groups: int, block_size: int, extra_meta: dict | None,
) -> dict:
    """The finalize steps both paths share, from the per-group rows
    ``stats`` (group, n_docs, sum_dl, n_postings, pos_bytes, bytes;
    None counts 0): lineage (with the build's wall seconds so far, from
    ``started``), N and avgdl, then ``write_idf(N)``, then ``meta.json``
    — written last, it commits the index."""
    wall_s = round(time.perf_counter() - started, 3) if started is not None else 0.0
    build_rows = [
        {
            "group": int(r["group"]),
            "phase": "build",
            "n_docs": int(r["n_docs"] or 0),
            "n_tokens": int(r["sum_dl"] or 0),
            "n_posting_rows": int(r["n_postings"] or 0),
            "pos_bytes": int(r["pos_bytes"] or 0),
            "bytes": int(r["bytes"] or 0),
            "wall_s": wall_s,
            "status": "complete",
        }
        for r in stats
    ]
    write_table(pd.DataFrame((tokenize_metrics or []) + build_rows), None, paths.lineage)
    n_docs = sum(r["n_docs"] for r in build_rows)
    avgdl = (sum(r["n_tokens"] for r in build_rows) / n_docs) if n_docs else 0.0
    write_idf(n_docs)
    meta = {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "num_groups": num_groups,
        "num_buckets": NUM_BUCKETS,
        "block_size": block_size,
        "k1": BM25_K1,
        "b": BM25_B,
        "docid_scheme": "conv_rank",
        "turn_bits": TURN_BITS,
        "format_version": 5,  # v5: inline per-posting dl_blob in blocks
    }
    meta.update(extra_meta or {})
    with open(paths.meta, "w") as f:
        json.dump(meta, f, indent=2)
    return meta


def finalize_index(
    spark: SparkSession,
    paths: IndexPaths,
    num_groups: int,
    block_size: int,
    extra_meta: dict | None = None,
    tokenize_metrics: list[dict] | None = None,
    started: float | None = None,
) -> dict:
    """Doclen table, idf table, lineage, meta — all from the postings table.

    Returns the meta dict (n_docs, avgdl, ...).  ``started`` is the
    ``time.perf_counter()`` the build began at (lineage ``wall_s``).
    """
    blocks = spark.read.schema(POSTINGS_SCHEMA).parquet(paths.postings)

    dl_blocks = blocks.filter(F.col("bucket") == -1).select(
        "group", "block_id", "doc_blob", "tf_blob"
    )
    doclen = dl_blocks.groupBy("group").applyInPandas(
        _doclen_concat_kernel, schema=DOCLEN_SCHEMA
    )
    doclen.write.mode("overwrite").parquet(paths.doclen)
    doclen = spark.read.schema(DOCLEN_SCHEMA).parquet(paths.doclen)

    post_stats = (
        blocks.filter(F.col("bucket") >= 0)
        .groupBy("group")
        .agg(
            F.sum("n").alias("n_postings"),
            F.sum(F.octet_length("pos_blob")).alias("pos_bytes"),
            F.sum(
                F.octet_length("doc_blob")
                + F.octet_length("tf_blob")
                + F.octet_length("pos_blob")
            ).alias("bytes"),
        )
    )
    stats = doclen.select("group", "n_docs", "sum_dl").join(post_stats, "group", "left").collect()

    def write_idf(n_docs: int) -> None:
        idf = (
            blocks.filter(F.col("bucket") >= 0)
            .groupBy("term")
            .agg(F.sum("n").alias("df"))
            .withColumn("idf", idf_of(n_docs, F.col("df"), F.log))
            .withColumn("bucket", _bucket_col(F.col("term")))
        )
        idf.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(paths.idf)

    return _commit(paths, stats, tokenize_metrics, started, write_idf, num_groups, block_size, extra_meta)


def finalize_local(
    paths: IndexPaths,
    blocks: pd.DataFrame,
    num_groups: int,
    block_size: int,
    extra_meta: dict | None = None,
    started: float | None = None,
) -> dict:
    """:func:`finalize_index` on the driver, over the block rows of
    :func:`merge_local`: the postings, doclen and idf tables are written
    with pyarrow, and the lineage and meta are the same."""
    write_table(blocks, BLOCKS_SCHEMA, paths.postings, partition="bucket")
    is_dl = blocks["term"].isna()
    parts = [_doclen_concat_kernel((g,), gdf) for g, gdf in blocks[is_dl].groupby("group", sort=True)]
    doclen = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=_cols(DOCLEN_SCHEMA))
    write_table(doclen, DOCLEN_SCHEMA, paths.doclen)

    post = blocks[~is_dl]

    def size(c: str) -> np.ndarray:
        return post[c].map(len).to_numpy(np.int64)

    post_stats = pd.DataFrame({
        "group": post["group"].to_numpy(np.int64),
        "n_postings": post["n"].to_numpy(np.int64),
        "pos_bytes": size("pos_blob"),
        "bytes": size("doc_blob") + size("tf_blob") + size("pos_blob"),
    }).groupby("group").sum()
    stats = (
        doclen[["group", "n_docs", "sum_dl"]].join(post_stats, on="group").fillna(0).to_dict("records")
    )

    def write_idf(n_docs: int) -> None:
        df = post.groupby("term")["n"].sum()
        idf = pd.DataFrame({
            "term": df.index.to_numpy(object),
            "df": df.to_numpy(np.int64),
            "idf": idf_of(n_docs, df.to_numpy(np.float64), np.log),
        })
        bucket = dict(zip(post["term"], post["bucket"]))
        idf["bucket"] = idf["term"].map(bucket)
        write_table(idf, IDF_SCHEMA, paths.idf, partition="bucket")

    return _commit(paths, stats, None, started, write_idf, num_groups, block_size, extra_meta)


def rank_local(conv_ids: pd.Series, num_groups: int) -> pd.DataFrame:
    """:func:`conv_ranks` on the driver: the sorted distinct conv_ids
    ranked 0..n-1, ``group`` by the same xxhash64 (``term_bucket``)."""
    from .xxhash import term_bucket

    ids = np.sort(conv_ids.unique().astype(object))
    groups = np.fromiter((term_bucket(c, num_groups) for c in ids), dtype=np.int32, count=len(ids))
    return pd.DataFrame({"conv_id": ids, "conv_rank": np.arange(len(ids), dtype=np.int64), "group": groups})


def build_local(rows: pd.DataFrame, paths: IndexPaths, config: BuildConfig, started: float) -> dict:
    """A whole build on the driver, from :func:`driver_rows`: conv ranks
    over the sorted distinct conv_ids and ``group`` by the same xxhash64
    as :func:`conv_ranks`, one :func:`_fragment_kernel` pass, then
    :func:`merge_local` and :func:`finalize_local`.  The tables equal
    the Spark plan's row for row (idf within an ulp: numpy's log, not
    the JVM's)."""
    convs = rank_local(rows["conv_id"], config.num_groups)
    write_table(convs, CONVS_SCHEMA, paths.convs)
    rank = pd.Index(convs["conv_id"]).get_indexer(rows["conv_id"]).astype(np.int64)
    staged = pd.DataFrame({
        "group": convs["group"].to_numpy()[rank],
        "doc_id": (rank << TURN_BITS) + rows["turn_idx"].to_numpy(np.int64),
        "text": rows["text"].to_numpy(object),
    })
    frags = pd.concat(list(_fragment_kernel(iter([staged]))), ignore_index=True)
    return finalize_local(
        paths, merge_local(frags, config.block_size), config.num_groups, config.block_size,
        started=started,
    )


# ---------------------------------------------------------------- driver


def _group_done_marker(paths: IndexPaths, group: int) -> str:
    return os.path.join(paths.tokens, f"group={group}", "_GROUP_SUCCESS")


class IndexBuilder:
    """Checkpoint-resumable build driver.

    ``build()`` runs every phase; ``build(resume=True)`` after a crash
    skips groups whose fragment output committed (per-group marker +
    lineage row) — the resume test asserts the final index is identical.
    """

    def __init__(self, spark: SparkSession, out_dir: str, config: BuildConfig | None = None):
        self.spark = spark
        self.paths = IndexPaths(out_dir)
        self.config = config or BuildConfig()
        self.metrics: list[dict] = []

    # -- phases ------------------------------------------------------

    def stage(self, transcripts: DataFrame) -> None:
        """Phase 0: rank distinct conversations → tiny convs table."""
        import shutil

        scratch = os.path.join(self.paths.root, "_convs_scratch")
        ranked = conv_ranks(transcripts, self.config.num_groups, scratch_dir=scratch)
        ranked.write.mode("overwrite").parquet(self.paths.convs)
        shutil.rmtree(scratch, ignore_errors=True)
        with open(os.path.join(self.paths.root, "_STAGED_SUCCESS"), "w") as f:
            f.write("ok")

    def _convs(self) -> DataFrame:
        return self.spark.read.schema(CONVS_SCHEMA).parquet(self.paths.convs)

    def groups_done(self) -> set[int]:
        return {
            g
            for g in range(self.config.num_groups)
            if os.path.exists(_group_done_marker(self.paths, g))
        }

    def _lineage_rows(self, frags: DataFrame, wall_s: float) -> list[dict]:
        rows = (
            frags.groupBy("group")
            .agg(
                F.sum(F.when(F.col("term").isNull(), F.col("n")).otherwise(0)).alias("docs"),
                F.sum(F.when(F.col("term").isNull(), F.col("sum_dl")).otherwise(0)).alias("tokens"),
                F.sum(F.when(F.col("term").isNotNull(), F.col("n")).otherwise(0)).alias("postings"),
                F.sum(
                    F.when(F.col("term").isNotNull(), F.octet_length("pos_blob")).otherwise(0)
                ).alias("pos_bytes"),
            )
            .collect()
        )
        return [
            {
                "group": int(r["group"]),
                "phase": "tokenize",
                "n_docs": int(r["docs"] or 0),
                "n_tokens": int(r["tokens"] or 0),
                "n_posting_rows": int(r["postings"] or 0),
                "pos_bytes": int(r["pos_bytes"] or 0),
                "wall_s": wall_s,
                "status": "complete",
            }
            for r in rows
        ]

    def tokenize_group(self, transcripts: DataFrame, group: int) -> dict:
        """Phase 1 (checkpoint path) for one group; idempotent.

        The inner join against the group's conversations prunes the
        tokenize work to 1/G; with a conv-bucketed Iceberg table layout
        the SCAN prunes too — in this sandbox the corpus is re-read.
        """
        t0 = time.time()
        gconvs = self._convs().filter(F.col("group") == group)
        staged = self._parallelize_input(with_doc_ids(transcripts, gconvs))
        frags = staged.mapInPandas(_fragment_kernel, schema=FRAGMENTS_SCHEMA).drop("group")
        gdir = os.path.join(self.paths.tokens, f"group={group}")
        frags.write.mode("overwrite").parquet(gdir)
        out = self.spark.read.schema(_FRAGMENT_FILE_SCHEMA).parquet(gdir).withColumn(
            "group", F.lit(group)
        )
        lineage = self._lineage_rows(out, round(time.time() - t0, 3))[0]
        with open(_group_done_marker(self.paths, group), "w") as f:
            json.dump(lineage, f)
        self.metrics.append(lineage)
        return lineage

    def _parallelize_input(self, staged: DataFrame) -> DataFrame:
        """Ensure the tokenize stage has ≥1 partition per core.

        A small/single-file corpus yields too few input splits to use the
        cluster; a hash repartition on doc_id fixes that.  It spreads each
        conversation's turns over all tasks, so the fragments one
        (term, group) gets from different tasks overlap in doc range and
        the merge re-sorts the run (:func:`_merge_frame`).  Big corpora
        arrive with ample splits, so this is a no-op there — no shuffle
        added at scale.
        """
        p = self.spark.sparkContext.defaultParallelism
        if staged.rdd.getNumPartitions() < p:
            return staged.repartition(p * 2, "doc_id")
        return staged

    def build_fused(self, transcripts: DataFrame) -> None:
        """Fast path: tokenize → fragment → shuffle → merge in ONE job.

        Fragments never touch disk — the corpus is read once and the
        only materializations are the final postings/doclen/idf tables.
        """
        staged = self._parallelize_input(with_doc_ids(transcripts, self._convs()))
        frags = staged.mapInPandas(_fragment_kernel, schema=FRAGMENTS_SCHEMA)
        write_blocks(frags, self.paths, self.config.shuffle_partitions, self.config.block_size)

    def _tokens(self) -> DataFrame:
        return self.spark.read.schema(_FRAGMENT_FILE_SCHEMA + ", group int").option(
            "basePath", self.paths.tokens
        ).parquet(
            *[
                os.path.join(self.paths.tokens, f"group={g}")
                for g in range(self.config.num_groups)
            ]
        )

    def corpus_stats(self) -> tuple[int, float]:
        """N and avgdl (post-build: from meta; mid-build: from lineage)."""
        if os.path.exists(self.paths.meta):
            meta = load_meta(self.paths.root)
            return int(meta["n_docs"]), float(meta["avgdl"])
        if self.metrics:
            n = sum(m["n_docs"] for m in self.metrics)
            tok = sum(m["n_tokens"] for m in self.metrics)
            return n, (tok / n) if n else 0.0
        doc_rows = self._tokens().filter(F.col("term").isNull())
        r = doc_rows.agg(F.sum("n").alias("n"), F.sum("sum_dl").alias("tok")).collect()[0]
        n = int(r["n"] or 0)
        avgdl = (int(r["tok"] or 0) / n) if n else 0.0
        return n, avgdl

    def merge_from_fragments(self) -> None:
        """Checkpoint path: merge the materialized per-group fragments."""
        write_blocks(
            self._tokens(), self.paths, self.config.shuffle_partitions, self.config.block_size
        )

    # -- entry point -------------------------------------------------

    def build(self, transcripts: DataFrame, resume: bool = False) -> IndexPaths:
        """Every phase, on the driver when the input is small
        (:func:`driver_rows`; never for checkpoint or resume builds,
        whose unit is a Spark job per group), else as Spark jobs."""
        started = time.perf_counter()
        if self.config.html_clean:
            # reference cleanHTML parity (PreIndexer.java:48-75): a pure
            # JVM regexp chain fused into the scan projection — zero
            # extra shuffles at any corpus size.  Incremental callers
            # (extend/stream) apply clean_html_col to their deltas
            # themselves; the flag is a build-time property, not meta.
            from ..textproc.htmlclean import clean_html_col

            transcripts = transcripts.withColumn("text", clean_html_col("text"))
        rows = None if resume or self.config.checkpoint else driver_rows(transcripts)
        if not resume:
            if os.path.exists(self.paths.root):
                shutil.rmtree(self.paths.root)
            os.makedirs(self.paths.root, exist_ok=True)
        if rows is not None:
            build_local(rows, self.paths, self.config, started)
            return self.paths
        if not resume or not os.path.exists(os.path.join(self.paths.root, "_STAGED_SUCCESS")):
            self.stage(transcripts)
        if resume or self.config.checkpoint:
            done = self.groups_done() if resume else set()
            for g in range(self.config.num_groups):
                if g in done:
                    with open(_group_done_marker(self.paths, g)) as f:
                        self.metrics.append(json.load(f))
                    continue
                self.tokenize_group(transcripts, g)
            self.merge_from_fragments()
        else:
            self.build_fused(transcripts)
        finalize_index(
            self.spark,
            self.paths,
            self.config.num_groups,
            self.config.block_size,
            tokenize_metrics=self.metrics,
            started=started,
        )
        return self.paths


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    config: BuildConfig | None = None,
    resume: bool = False,
) -> IndexPaths:
    return IndexBuilder(spark, out_dir, config).build(transcripts, resume=resume)


def load_meta(out_dir: str) -> dict:
    with open(IndexPaths(out_dir).meta) as f:
        return json.load(f)


def load_layout(root: str) -> dict:
    """``root``'s meta, refusing an index this engine cannot read or
    fold: format v5 (per-posting doclens inline in the blocks), conv_rank
    doc ids, and doc ids encoded with this build's :data:`TURN_BITS`
    (tombstone encoding and the remap kernels shift by the constant, so
    a mismatch would silently mask the wrong conv ranks)."""
    meta = load_meta(root)
    if int(meta.get("format_version", 0)) < 5:
        raise ValueError(
            f"index at {root} is format v{meta.get('format_version')}: "
            "v5 readers score from inline per-posting doclens "
            "(blocks carry dl_blob) — rebuild the index"
        )
    if meta.get("docid_scheme") != "conv_rank":
        raise ValueError(
            f"index at {root} uses doc-id scheme {meta.get('docid_scheme')!r}; "
            "this engine reads only conv_rank doc ids — rebuild the index"
        )
    if int(meta["turn_bits"]) != TURN_BITS:
        raise ValueError(
            f"index at {root} records turn_bits={meta['turn_bits']} but "
            f"this build of the engine encodes doc ids with "
            f"TURN_BITS={TURN_BITS}; rebuild the index or match the "
            "engine version that wrote it"
        )
    return meta
