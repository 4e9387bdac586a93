"""Incremental index extension (LSM-style delta ingest + compaction).

The reference keeps its index fresh with row-level PostgreSQL upserts
(``IndexerService.java:57-68`` ``ON CONFLICT`` statements, driven by the
crawler's incremental batches at ``:370-452``).  A 10^12-turn corpus can
never re-tokenize itself to absorb a day of new transcripts, and
row-upserts don't exist for an immutable columnar index — so the
Spark-first analog is the LSM pattern:

  1. tokenize ONLY the delta (the expensive phase — Porter stemming per
     token — runs over new turns alone),
  2. reread the existing index's posting BLOCKS as pre-merged fragments
     (a block row carries the same delta+varbyte blobs a fragment row
     does, just already doc-sorted — zero decode on the old side), and
  3. run both through the one (term, group)-salted merge shuffle into a
     NEW index root.

Cost is O(delta tokenize + index bytes), never O(corpus text); the old
index stays live and readable until the new root's meta commits, so the
swap is atomic and a crashed extend is simply re-run.

Doc-id contract
---------------
``doc_id = conv_rank << TURN_BITS | turn_idx`` with ``conv_rank`` the
lexicographic rank among distinct conversations.  New conversations get
ranks APPENDED after the existing ones (rank offset = old conv count) so
existing doc ids — and therefore every existing posting blob — stay
valid byte-for-byte.  Two consequences, both handled:

* If every new ``conv_id`` sorts after every existing one (the natural
  shape for time-ordered ids), doc-id order stays isomorphic to
  ``(conv_id, turn_idx)`` and the reader keeps its exact-cut kernels.
  Otherwise the extend still produces a CORRECT index but records
  ``docid_order_isomorphic: false`` in meta, and the reader switches to
  tie-safe kernels (return score-ties at the k boundary; the final
  ``ORDER BY score, conv_id, turn_idx LIMIT k`` resolves them) — results
  remain identical to a from-scratch build.
* Appending turns to an EXISTING conversation interleaves new doc ids
  inside old posting runs; the merge kernel (``build._merge_frame``)
  puts every run in doc order with a stable sort.

Updating an already-indexed ``(conv_id, turn_idx)`` has two paths, the
analogs of the reference's ``ON CONFLICT ... DO UPDATE`` upsert
(``IndexerService.java:57-68``): ``extend_index(..., updates=True)``
drops the old version's postings block-wise during the merge (exact
stats, O(index bytes)); ``ingest_update_segment`` builds the delta as
its own LSM segment with a SHADOW sidecar naming the superseded docs —
O(delta) work, read through ``MultiIndex`` which excludes shadowed docs
and corrects N/Σdl/df exactly.  A collision under the default
``updates=False`` still FAILS LOUDLY.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import BuildConfig
from .build import (
    FRAGMENT_COLS,
    FRAGMENTS_SCHEMA,
    TURN_BITS,
    TURN_MASK,
    IndexBuilder,
    IndexPaths,
    PostingBatch,
    build_index,
    conv_ranks,
    finalize_index,
    load_layout,
    with_doc_ids,
    write_blocks,
    _fragment_kernel,
)
from .codec import varbyte_decode

_DOC_EXPLODE_SCHEMA = "conv_rank long, max_turn long"


def _decode_doclen_blob(blob) -> tuple[np.ndarray, np.ndarray]:
    """Doclen doc-id stream (delta+varbyte) → (conv_ranks, turn_idxs)."""
    docs = np.cumsum(varbyte_decode(blob).astype(np.int64))
    return docs >> TURN_BITS, docs & TURN_MASK


def _doclen_max_turn_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Doclen blob rows → per-conversation max indexed turn.

    Reduces docs → conversations INSIDE the kernel so the downstream
    shuffle carries |conversations| rows, not |docs| (the turns kernel
    below exists for consumers that need every row)."""
    for pdf in batches:
        frames = []
        for blob in pdf["doc_blob"]:
            ranks, turns = _decode_doclen_blob(blob)
            s = pd.Series(turns).groupby(ranks).max()
            frames.append(pd.DataFrame({"conv_rank": s.index, "max_turn": s.values}))
        yield (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame({"conv_rank": [], "max_turn": []})
        )


def _assert_no_turn_overlap(
    spark: SparkSession, old_paths: IndexPaths, delta_known: DataFrame
) -> None:
    """Fail loudly if the delta re-submits an already-indexed turn.

    ``delta_known`` is the delta restricted to conversations the index
    already contains, joined to their ranks.  A delta turn must be
    strictly greater than that conversation's max indexed turn —
    anything else is an update/delete, which extend does not do."""
    max_turns = (
        spark.read.parquet(old_paths.doclen)
        .select("doc_blob")
        .mapInPandas(_doclen_max_turn_kernel, schema=_DOC_EXPLODE_SCHEMA)
        .groupBy("conv_rank")
        .agg(F.max("max_turn").alias("max_turn"))
    )
    bad = (
        delta_known.select("conv_id", "conv_rank", "turn_idx")
        .join(max_turns, "conv_rank")
        .filter(F.col("turn_idx") <= F.col("max_turn"))
    )
    sample = bad.select("conv_id", "turn_idx").limit(5).collect()
    if sample:
        shown = ", ".join(f"({r.conv_id}, {r.turn_idx})" for r in sample)
        raise ValueError(
            "extend_index: delta contains turns already present in the "
            f"index (e.g. {shown}). Incremental extension appends new "
            "conversations or new turns only; to update or delete "
            "indexed turns, rebuild the index."
        )


def _blocks_as_fragments(blocks: DataFrame) -> DataFrame:
    """Existing posting blocks → fragment rows, zero decode.

    A block row IS a doc-sorted fragment: same delta+varbyte blobs, with
    ``first_doc`` as ``min_doc``.  Doclen blocks (``term IS NULL``) carry
    their dl stream in ``tf_blob`` (see ``build._merge_frame``); fragment
    doclen rows carry it in ``dl_blob`` — swapped here in the projection.
    """
    is_dl = F.col("term").isNull()
    return blocks.select(
        "term",
        "group",
        "n",
        F.col("first_doc").alias("min_doc"),
        F.lit(0).cast("long").alias("sum_dl"),
        "doc_blob",
        F.when(is_dl, F.lit(None).cast("binary")).otherwise(F.col("tf_blob")).alias(
            "tf_blob"
        ),
        "pos_blob",
        F.when(is_dl, F.col("tf_blob")).otherwise(F.col("dl_blob")).alias("dl_blob"),
    )


_TURNS_SCHEMA = "conv_rank long, turn_idx long"


def _doclen_turns_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Doclen blob rows → every (conv_rank, turn_idx) the index holds."""
    for pdf in batches:
        frames = []
        for blob in pdf["doc_blob"]:
            ranks, turns = _decode_doclen_blob(blob)
            frames.append(pd.DataFrame({"conv_rank": ranks, "turn_idx": turns}))
        yield (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame({"conv_rank": [], "turn_idx": []})
        )


_TURNS_DL_SCHEMA = "conv_rank long, turn_idx long, dl long"


def _doclen_turns_dl_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Doclen table rows → (conv_rank, turn_idx, doclen) per indexed doc
    — the update path reads old doc lengths from here (shadow sidecars
    carry them so MultiIndex can correct Σdl exactly)."""
    for pdf in batches:
        frames = []
        for doc_blob, dl_blob in zip(pdf["doc_blob"], pdf["dl_blob"]):
            ranks, turns = _decode_doclen_blob(doc_blob)
            dls = varbyte_decode(dl_blob).astype(np.int64)
            frames.append(
                pd.DataFrame({"conv_rank": ranks, "turn_idx": turns, "dl": dls})
            )
        yield (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame({"conv_rank": [], "turn_idx": [], "dl": []})
        )


def _rewrite_blocks(pdf: pd.DataFrame, tomb=None, ranks=None) -> pd.DataFrame:
    """Posting/doclen BLOCK rows → fragment rows, one per block that keeps
    a posting: ``tomb``'s postings (a resolved :class:`reader.Tombstones`
    in the blocks' id space) are dropped, and with ``ranks`` = (old, new)
    conv ranks sorted by old, doc ids move into the new rank space.

    Each row's postings are re-sorted by their new doc id (stable): the
    remap is monotone unless the segment came from an
    order-isomorphism-breaking extend.  Doclen blocks carry their dl
    stream in ``tf_blob``; their fragment rows carry it in ``dl_blob``
    (the projection of :func:`_blocks_as_fragments`)."""
    if pdf.empty:
        return pd.DataFrame(columns=FRAGMENT_COLS)
    p = PostingBatch(pdf, pdf["dl_blob"].where(pdf["term"].notna(), pdf["tf_blob"]))
    keep = np.ones(len(p.doc), dtype=bool) if tomb is None else tomb.keep_mask(p.doc, TURN_BITS)
    if not keep.any():
        return pd.DataFrame(columns=FRAGMENT_COLS)
    doc = p.doc
    if ranks is not None:
        old, new = ranks
        conv = doc >> TURN_BITS
        i = np.minimum(np.searchsorted(old, conv), len(old) - 1)
        if not len(old) or (old[i] != conv)[keep].any():
            raise ValueError(
                "compact_segments: a posting references a conv_rank absent "
                "from its segment's conv table — the segment is corrupt"
            )
        doc = (new[i] << TURN_BITS) | (doc & TURN_MASK)
    sel = np.lexsort((doc, p.row))
    sel = sel[keep[sel]]
    row_s = p.row[sel]
    cuts = np.flatnonzero(np.r_[True, row_s[1:] != row_s[:-1]])
    src = row_s[cuts]
    dl_row = p.is_dl[src]
    return pd.DataFrame({
        "term": p.terms[src],
        "group": p.groups[src],
        "n": np.diff(np.append(cuts, len(sel))),
        "min_doc": doc[sel[cuts]],
        "sum_dl": np.where(dl_row, np.add.reduceat(p.dl[sel], cuts), 0),
        "doc_blob": p.doc_blob(doc, sel, cuts),
        "tf_blob": p.blob(p.tf_at, sel, cuts, ~dl_row),
        "pos_blob": p.blob(p.pos_at, sel, cuts, ~dl_row),
        "dl_blob": p.blob(p.dl_at, sel, cuts, np.ones(len(cuts), bool)),
    }, columns=FRAGMENT_COLS)


def _make_drop_kernel(tomb):
    """mapInPandas kernel: posting/doclen BLOCK rows → fragment rows with
    tombstoned postings REMOVED (doc ids unchanged — no remap).

    The update leg of ``extend_index``: blocks of groups containing an
    updated doc are decode-filtered here; every other group passes
    through :func:`_blocks_as_fragments` zero-decode."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _rewrite_blocks(pdf, tomb)

    return kernel


def _make_remap_kernel(tomb=None):
    """Cogroup kernel factory: one segment's posting blocks of one group
    → fragment rows with doc ids rewritten into the compacted global
    rank space (:func:`_rewrite_blocks`).

    ``tomb`` (a resolved :class:`reader.Tombstones` in the segment's OLD
    id space) drops deleted postings before the remap — compaction is
    where LSM deletions become physical, so the rebuilt doclen/idf/meta
    (finalize_index) reflect the post-deletion corpus exactly."""

    def kernel(key: tuple, blocks_pdf: pd.DataFrame, map_pdf: pd.DataFrame):
        old = map_pdf["old_rank"].to_numpy(dtype=np.int64)
        o = np.argsort(old)
        new = map_pdf["new_rank"].to_numpy(dtype=np.int64)[o]
        return _rewrite_blocks(blocks_pdf, tomb, (old[o], new))

    return kernel


def compact_segments(
    spark: SparkSession,
    roots: list[str],
    out_dir: str,
    config: BuildConfig | None = None,
    tombstones: list | None = None,
) -> IndexPaths:
    """Fold N disjoint index segments into ONE index root — no raw text.

    The compaction leg of the LSM triad (``build_index`` on a delta =
    O(delta) ingest, ``MultiIndex`` = segmented reads, this = fold):
    unlike ``extend_index`` it never re-reads the corpus, only index
    bytes — each segment's posting blocks are decoded, their doc ids
    rewritten into a single global ``conv_rank`` space, and re-merged
    through the same salted shuffle a fresh build uses.  Global ranks
    are lexicographic, so the output is always order-isomorphic: a
    compaction RESTORES the exact-cut/WAND fast path even when an input
    segment had lost it.

    Segments must hold disjoint LIVE (conv_id, turn_idx) documents —
    verified here (one pass over the doclen blobs, fail-loud), since a
    silent duplicate would corrupt merged statistics.  Occurrences
    superseded by a later segment's shadow sidecar (update ingests) are
    exempt: compaction drops them physically, exactly like tombstones,
    so the output equals a fresh build of the updated corpus.  All segments must share
    num_groups/block_size/turn_bits (the conversation→group hash must
    agree); use ``extend_index`` to absorb a layout-incompatible delta.

    ``tombstones`` (bare conv_id strings and/or (conv_id, turn_idx)
    pairs) are deleted PHYSICALLY here: their postings are dropped
    before the merge, and the rebuilt doclen/idf/meta reflect the
    post-deletion corpus exactly — query-time exclusion (the readers'
    ``tombstones=`` parameter) becomes unnecessary after the fold.
    Fully-deleted conversations keep a rank in the conv table (harmless:
    no posting references them).
    """
    if not roots:
        raise ValueError("compact_segments needs at least one segment root")
    metas = [load_layout(r) for r in roots]
    for r, m in zip(roots, metas):
        for k in ("num_groups", "block_size"):
            if m[k] != metas[0][k]:
                raise ValueError(
                    f"compact_segments: segments disagree on {k} "
                    f"({r}: {m[k]} vs {roots[0]}: {metas[0][k]}) — "
                    "rebuild or extend instead"
                )
    num_groups = int(metas[0]["num_groups"])
    block_size = int(metas[0]["block_size"])
    shuffle_partitions = (config or BuildConfig()).shuffle_partitions
    if os.path.abspath(out_dir) in {os.path.abspath(r) for r in roots}:
        raise ValueError("compact_segments: out_dir must differ from every segment")
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    paths = IndexPaths(out_dir)
    seg_paths = [IndexPaths(r) for r in roots]

    # shadow sidecars: segment j's shadow keys supersede every earlier
    # occurrence — compaction is where supersession becomes physical
    # (the shadowed postings are dropped like tombstones)
    shadow_keys = [read_shadow_keys(spark, r) for r in roots]
    shadow_for: list[list[tuple[str, int]]] = []
    for i in range(len(roots)):
        s: set[tuple[str, int]] = set()
        for j in range(i + 1, len(roots)):
            s.update(shadow_keys[j])
        shadow_for.append(sorted(s))

    # -- disjointness: a (conv_id, turn) indexed twice is corruption —
    # unless a later segment's sidecar shadows the earlier occurrence
    turns = None
    for p, dead in zip(seg_paths, shadow_for):
        segc = spark.read.parquet(p.convs).select("conv_id", "conv_rank")
        t = (
            spark.read.parquet(p.doclen)
            .select("doc_blob")
            .mapInPandas(_doclen_turns_kernel, schema=_TURNS_SCHEMA)
            .join(segc, "conv_rank")
            .select("conv_id", "turn_idx")
        )
        if dead:
            t = t.join(
                F.broadcast(
                    spark.createDataFrame(list(dead), "conv_id string, turn_idx long")
                ),
                ["conv_id", "turn_idx"],
                "left_anti",
            )
        turns = t if turns is None else turns.unionByName(t)
    dup = (
        turns.groupBy("conv_id", "turn_idx")
        .count()
        .filter(F.col("count") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        shown = ", ".join(f"({r.conv_id}, {r.turn_idx})" for r in dup)
        raise ValueError(
            f"compact_segments: segments overlap on indexed turns (e.g. {shown})"
            " — segments must hold disjoint documents"
        )

    # -- one global rank space over the union of conversations
    all_convs = None
    for p in seg_paths:
        c = spark.read.parquet(p.convs).select("conv_id")
        all_convs = c if all_convs is None else all_convs.unionByName(c)
    scratch = os.path.join(out_dir, "_convs_scratch")
    merged = conv_ranks(all_convs.distinct(), num_groups, scratch_dir=scratch)
    merged.write.mode("overwrite").parquet(paths.convs)
    shutil.rmtree(scratch, ignore_errors=True)
    merged = spark.read.parquet(paths.convs)

    # -- remap every segment's blocks into fragments, one merge shuffle
    from .reader import resolve_tombstones

    frags = None
    for p, dead in zip(seg_paths, shadow_for):
        seg_convs = spark.read.parquet(p.convs)
        items = list(tombstones or []) + [tuple(k) for k in dead]
        tomb = resolve_tombstones(seg_convs, items) if items else None
        segc = seg_convs.select("conv_id", F.col("conv_rank").alias("old_rank"))
        mapping = segc.join(merged, "conv_id").select(
            "group", "old_rank", F.col("conv_rank").alias("new_rank")
        )
        f = (
            spark.read.parquet(p.postings)
            .groupBy("group")
            .cogroup(mapping.groupBy("group"))
            .applyInPandas(_make_remap_kernel(tomb), schema=FRAGMENTS_SCHEMA)
        )
        frags = f if frags is None else frags.unionByName(f)
    write_blocks(frags, paths, shuffle_partitions, block_size)
    finalize_index(
        spark,
        paths,
        num_groups,
        block_size,
        extra_meta={
            "docid_order_isomorphic": True,
            "compacted_from": [os.path.abspath(r) for r in roots],
        },
        tokenize_metrics=None,
    )
    return paths


def _resolve_update_collisions(
    spark: SparkSession,
    old_paths: IndexPaths,
    delta_known: DataFrame,
    known: DataFrame,
):
    """(conv_rank, turn_idx) pairs the delta re-submits → a resolved
    :class:`reader.Tombstones` in the OLD index's doc-id space plus the
    groups whose blocks contain them.

    The collision list is collected driver-side: updates are assumed to
    be batch-sized (the reference re-indexes one page per request,
    ``ReindexController.java:40-104``), not corpus-sized — a delta that
    rewrites a large share of the corpus should be a rebuild."""
    from .reader import Tombstones

    groups = [int(r.group) for r in known.select("group").distinct().collect()]
    indexed = (
        spark.read.parquet(old_paths.doclen)
        .filter(F.col("group").isin(groups))
        .select("doc_blob")
        .mapInPandas(_doclen_turns_kernel, schema=_TURNS_SCHEMA)
    )
    hits = (
        indexed.join(
            F.broadcast(delta_known.select("conv_rank", "turn_idx").distinct()),
            ["conv_rank", "turn_idx"],
        )
        .join(
            F.broadcast(known.select("conv_rank", "group").distinct()), "conv_rank"
        )
        .collect()
    )
    if not hits:
        return None, []
    doc_ids = np.asarray(
        [(int(r.conv_rank) << TURN_BITS) | int(r.turn_idx) for r in hits],
        dtype=np.int64,
    )
    tomb = Tombstones(doc_ids, np.empty(0, dtype=np.int64))
    return tomb, sorted({int(r.group) for r in hits})


def extend_index(
    spark: SparkSession,
    index_root: str,
    delta: DataFrame,
    out_dir: str,
    config: BuildConfig | None = None,
    updates: bool = False,
) -> IndexPaths:
    """Absorb ``delta`` transcripts into the index at ``index_root``,
    writing a NEW index under ``out_dir`` (the old root stays live).

    Layout invariants (num_groups, block_size, turn_bits) are taken from
    the existing index's meta — ``group = hash(conv_id) % G`` must stay
    consistent or old and new postings of one conversation would land in
    different shards.  ``config`` only supplies the shuffle width.

    ``updates=True`` is the reference's ``ON CONFLICT ... DO UPDATE``
    (IndexerService.java:57-68): a delta turn that is already indexed
    REPLACES the old version — its old postings are dropped block-wise
    (only the groups containing an updated doc are decode-filtered;
    every other group still passes through zero-decode) before the
    delta's tokenized postings merge in.  Doc ids are reused, so order
    isomorphism is untouched, and ``finalize_index`` recomputes
    N/avgdl/df from the merged blocks — the result equals a fresh build
    of the updated corpus byte-for-byte (pinned by tests).  With the
    default ``updates=False`` a collision still fails loudly.
    """
    old_paths = IndexPaths(index_root)
    meta = load_layout(index_root)
    num_groups = int(meta["num_groups"])
    block_size = int(meta["block_size"])
    shuffle_partitions = (config or BuildConfig()).shuffle_partitions
    if os.path.abspath(out_dir) == os.path.abspath(index_root):
        raise ValueError(
            "extend_index: out_dir must differ from index_root (the old "
            "index stays readable until the new meta commits)"
        )
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    paths = IndexPaths(out_dir)

    old_convs = spark.read.parquet(old_paths.convs)
    # the delta's distinct conv set feeds ~5 downstream jobs (overlap
    # check, rank counts, rank assignment, the tokenize join) — persist
    # it once instead of re-scanning the delta per consumer
    delta_convs = delta.select("conv_id").distinct().persist()
    known = delta_convs.join(old_convs, "conv_id").select(
        "conv_id", "conv_rank", "group"
    )
    new_ids = delta_convs.join(old_convs, "conv_id", "left_anti")

    # -- rank assignment: new conversations APPEND after existing ranks
    n_old, max_old_id = old_convs.agg(
        F.count("*").alias("n"), F.max("conv_id").alias("m")
    ).collect()[0]
    n_new = new_ids.count()
    iso = bool(meta.get("docid_order_isomorphic", True))
    if n_new:
        scratch = os.path.join(out_dir, "_convs_scratch")
        new_convs = conv_ranks(new_ids, num_groups, scratch_dir=scratch).withColumn(
            "conv_rank", F.col("conv_rank") + F.lit(int(n_old))
        )
        min_new_id = new_ids.agg(F.min("conv_id")).collect()[0][0]
        # appended ranks keep doc-id order isomorphic to (conv_id, turn)
        # only when every new id sorts after every old one
        iso = iso and (max_old_id is None or str(min_new_id) > str(max_old_id))
        merged_convs = old_convs.unionByName(new_convs)
    else:
        merged_convs = old_convs
    merged_convs.write.mode("overwrite").parquet(paths.convs)
    if n_new:
        shutil.rmtree(scratch, ignore_errors=True)
    merged_convs = spark.read.parquet(paths.convs)

    # -- append-only contract: no delta turn may already be indexed —
    # unless updates=True, where collisions become block-level drops
    delta_known = delta.join(F.broadcast(known.select("conv_id", "conv_rank")), "conv_id")
    tomb, touched_groups = None, []
    if known.limit(1).count():
        if updates:
            tomb, touched_groups = _resolve_update_collisions(
                spark, old_paths, delta_known, known
            )
        else:
            _assert_no_turn_overlap(spark, old_paths, delta_known)

    # -- tokenize ONLY the delta; reread old blocks as fragments.
    # The doc-id join uses just the conversations the delta touches (a
    # delta-sized table, broadcastable even when the corpus has billions
    # of conversations).
    builder = IndexBuilder(
        spark, out_dir, BuildConfig(num_groups=num_groups, block_size=block_size,
                                    shuffle_partitions=shuffle_partitions)
    )
    touched_convs = merged_convs.join(F.broadcast(delta_convs), "conv_id")
    staged = builder._parallelize_input(with_doc_ids(delta, touched_convs))
    delta_frags = staged.mapInPandas(_fragment_kernel, schema=FRAGMENTS_SCHEMA)
    old_blocks = spark.read.parquet(old_paths.postings)
    if tomb is not None and touched_groups:
        old_frags = _blocks_as_fragments(
            old_blocks.filter(~F.col("group").isin(touched_groups))
        ).unionByName(
            old_blocks.filter(F.col("group").isin(touched_groups)).mapInPandas(
                _make_drop_kernel(tomb), schema=FRAGMENTS_SCHEMA
            )
        )
    else:
        old_frags = _blocks_as_fragments(old_blocks)
    write_blocks(
        delta_frags.unionByName(old_frags), paths, shuffle_partitions, block_size
    )
    delta_convs.unpersist()

    # meta/idf/doclen/lineage all derive from the merged blocks (same
    # code path as a fresh build — no incremental-stats special case to
    # drift); the delta's own size is recoverable as n_docs - old n_docs.
    finalize_index(
        spark,
        paths,
        num_groups,
        block_size,
        extra_meta={
            "docid_order_isomorphic": iso,
            "extended_from": os.path.abspath(index_root),
            "n_docs_before_extend": int(meta["n_docs"]),
        },
        tokenize_metrics=None,
    )
    return paths


# -------------------------------------------------------------- updates


def shadows_path(root: str) -> str:
    """Shadow sidecar location inside a segment root (parquet dir:
    conv_id string, turn_idx long, n_prev long, dl_prev long)."""
    return os.path.join(root, "shadows")


def read_shadow_keys(spark: SparkSession, root: str) -> list[tuple[str, int]]:
    """(conv_id, turn_idx) keys this segment SUPERSEDES in earlier
    segments, or [] when the segment has no sidecar.  Shadow lists are
    update-batch-sized, so the sidecar is read with pyarrow on the
    driver (no Spark job)."""
    from .reader import _read_table

    t = _read_table(shadows_path(root), ["conv_id", "turn_idx"])
    if t is None:
        return []
    return list(zip(t.column("conv_id").to_pylist(), map(int, t.column("turn_idx").to_pylist())))


def ingest_update_segment(
    spark: SparkSession,
    existing_roots: list[str],
    delta: DataFrame,
    out_dir: str,
    config: BuildConfig | None = None,
) -> IndexPaths:
    """Build ``delta`` as a NEW LSM segment that may UPDATE docs already
    indexed in ``existing_roots`` (chronological order, oldest first).

    The O(delta) leg of the update story (``extend_index(updates=True)``
    is the O(index bytes) fold): the delta becomes its own segment via a
    plain ``build_index``, plus a SHADOW sidecar listing every delta
    (conv_id, turn_idx) that a LIVE earlier occurrence must yield to —
    ``MultiIndex`` excludes shadowed docs at candidate time and corrects
    the global statistics exactly:

    * the sidecar row's ``n_prev``/``dl_prev`` count only occurrences
      not already shadowed by an intermediate segment's sidecar, so
      Σ n_prev over all sidecars == the number of excluded docs and
      Σ dl_prev == their total length (N and avgdl corrections are a
      metadata sum, no corpus scan);
    * per-term df corrections are counted at query time from the
      shadowed docs' own posting blocks (see MultiIndex.idf_map) —
      exact, pruned to the queried terms and affected groups.

    Results through ``MultiIndex([old..., this])`` therefore equal a
    fresh build of the updated corpus byte-for-byte (pinned by tests);
    ``compact_segments`` folds the supersession physically.

    The reference analog is the re-index flow (``ReindexController.
    java:40-104`` driving ``IndexerService.java:57-68`` upserts).
    """
    if not existing_roots:
        raise ValueError("ingest_update_segment needs at least one existing root")
    meta0 = load_layout(existing_roots[0])
    cfg = config or BuildConfig()
    cfg = BuildConfig(
        num_groups=int(meta0["num_groups"]),
        block_size=int(meta0["block_size"]),
        shuffle_partitions=cfg.shuffle_partitions,
    )
    paths = build_index(spark, delta, out_dir, cfg)

    # -- shadow computation: which delta keys have a LIVE occurrence in
    # an earlier segment?  "Live" honors existing shadow chains: an
    # occurrence already superseded by a later existing segment is not
    # counted again (Σ n_prev across sidecars must equal the number of
    # excluded docs exactly).
    delta_keys = delta.select("conv_id", F.col("turn_idx").cast("long")).distinct()
    later_keys: set[tuple[str, int]] = set()
    per_root_live = []
    for i, root in enumerate(existing_roots):
        shadowed_here = set()
        for later in existing_roots[i + 1 :]:
            shadowed_here.update(read_shadow_keys(spark, later))
        per_root_live.append(shadowed_here)
    hits = None
    for root, dead in zip(existing_roots, per_root_live):
        p = IndexPaths(root)
        convs = spark.read.parquet(p.convs)
        known = (
            delta_keys.select("conv_id")
            .distinct()
            .join(convs, "conv_id")
            .select("conv_id", "conv_rank", "group")
        )
        if not known.limit(1).count():
            continue
        groups = [int(r.group) for r in known.select("group").distinct().collect()]
        seg_turns = (
            spark.read.parquet(p.doclen)
            .filter(F.col("group").isin(groups))
            .select("doc_blob", "dl_blob")
            .mapInPandas(_doclen_turns_dl_kernel, schema=_TURNS_DL_SCHEMA)
            .join(F.broadcast(known.select("conv_id", "conv_rank")), "conv_rank")
            .join(F.broadcast(delta_keys), ["conv_id", "turn_idx"])
            .select("conv_id", "turn_idx", "dl")
        )
        if dead:
            dead_df = spark.createDataFrame(
                list(dead), "conv_id string, turn_idx long"
            )
            seg_turns = seg_turns.join(
                F.broadcast(dead_df), ["conv_id", "turn_idx"], "left_anti"
            )
        hits = seg_turns if hits is None else hits.unionByName(seg_turns)

    if hits is not None:
        shadow = hits.groupBy("conv_id", "turn_idx").agg(
            F.count("*").alias("n_prev"), F.sum("dl").alias("dl_prev")
        )
        shadow.coalesce(1).write.mode("overwrite").parquet(shadows_path(out_dir))
    else:
        spark.createDataFrame(
            [], "conv_id string, turn_idx long, n_prev long, dl_prev long"
        ).coalesce(1).write.mode("overwrite").parquet(shadows_path(out_dir))
    return paths
