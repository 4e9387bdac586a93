"""Byte identity of the batch-vectorized block kernels.

``build._merge_frame`` (merge) and ``extend._rewrite_blocks`` (the
update drop and the compaction remap) must emit exactly the rows the
per-run / per-row code they replaced emitted.  That code lives on below
only as the oracle; inputs are seeded random fragment and block rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from search_engine_spark.index.build import (
    _BLOCK_COLS,
    FRAGMENT_COLS,
    TURN_BITS,
    TURN_MASK,
    _make_merge_mapper,
    _merge_frame,
)
from search_engine_spark.index.codec import (
    delta_encode,
    stream_byte_offsets,
    varbyte_decode,
    varbyte_encode,
)
from search_engine_spark.index.extend import _make_drop_kernel, _make_remap_kernel
from search_engine_spark.index.reader import Tombstones

BLOCK = 64

# ------------------------------------------------------------------ oracles
# The per-run merge and per-row remap/drop loops the kernels replaced.


def _delta(a):
    d = np.empty_like(a)
    d[0] = a[0]
    d[1:] = a[1:] - a[:-1]
    return d


def _emit_blocks(rows, term, group, doc_ids, tfs, dls, pos_stream, block_size):
    if pos_stream is not None and len(doc_ids) > block_size:
        pos_offsets = stream_byte_offsets(pos_stream, tfs)
    for bi, s in enumerate(range(0, len(doc_ids), block_size)):
        e = min(s + block_size, len(doc_ids))
        d = doc_ids[s:e]
        t = tfs[s:e]
        if pos_stream is None:
            pos_part = None
        elif len(doc_ids) <= block_size:
            pos_part = pos_stream
        else:
            pos_part = bytes(pos_stream[pos_offsets[s] : pos_offsets[e]])
        rows.append((
            term, group, bi, e - s, int(d[0]), int(d[-1]),
            varbyte_encode(_delta(d).astype(np.uint64)),
            varbyte_encode(t.astype(np.uint64)),
            pos_part,
            None if term is None else varbyte_encode(dls[s:e].astype(np.uint64)),
            0 if term is None else int(t.max()),
            0 if term is None else int(dls[s:e].min()),
        ))


def _merge_run(rows, pdf, block_size):
    term_v = pdf["term"].iloc[0]
    term = None if term_v is None or (isinstance(term_v, float) and np.isnan(term_v)) else str(term_v)
    group = int(pdf["group"].iloc[0])
    docs = np.concatenate([np.cumsum(varbyte_decode(b).astype(np.int64)) for b in pdf["doc_blob"]])
    if term is None:
        dls = np.concatenate([varbyte_decode(b).astype(np.int64) for b in pdf["dl_blob"]])
        if not np.all(docs[1:] > docs[:-1]):
            o = np.argsort(docs, kind="stable")
            docs, dls = docs[o], dls[o]
        _emit_blocks(rows, None, group, docs, dls, None, None, block_size)
        return
    tfs = np.concatenate([varbyte_decode(b).astype(np.int64) for b in pdf["tf_blob"]])
    dls = np.concatenate([varbyte_decode(b).astype(np.int64) for b in pdf["dl_blob"]])
    pos_stream = b"".join(pdf["pos_blob"])
    if not np.all(docs[1:] > docs[:-1]):
        offsets = stream_byte_offsets(pos_stream, tfs)
        o = np.argsort(docs, kind="stable")
        pos_stream = b"".join(pos_stream[offsets[i] : offsets[i + 1]] for i in o)
        docs, tfs, dls = docs[o], tfs[o], dls[o]
    _emit_blocks(rows, term, group, docs, tfs, dls, pos_stream, block_size)


def oracle_merge(pdf, block_size):
    key = list(zip(pdf["term"].fillna("\0"), pdf["group"]))
    rows: list = []
    s = 0
    for e in range(1, len(pdf) + 1):
        if e == len(pdf) or key[e] != key[s]:
            _merge_run(rows, pdf.iloc[s:e], block_size)
            s = e
    return pd.DataFrame(rows, columns=_BLOCK_COLS)


def oracle_drop(pdf, tomb):
    """The per-row update drop: untouched rows copied, sum_dl left 0."""
    rows = []
    for r in pdf.itertuples(index=False):
        docs = np.cumsum(varbyte_decode(r.doc_blob).astype(np.int64))
        keep = tomb.keep_mask(docs, TURN_BITS)
        is_dl = r.term is None
        if keep.all():
            rows.append((
                None if is_dl else r.term, int(r.group), int(r.n), int(docs[0]), 0,
                bytes(r.doc_blob), None if is_dl else bytes(r.tf_blob),
                None if is_dl else bytes(r.pos_blob),
                bytes(r.tf_blob) if is_dl else bytes(r.dl_blob),
            ))
            continue
        if not keep.any():
            continue
        docs = docs[keep]
        if is_dl:
            dls = varbyte_decode(r.tf_blob).astype(np.int64)[keep]
            rows.append((None, int(r.group), len(docs), int(docs[0]), 0,
                         varbyte_encode(delta_encode(docs)), None, None,
                         varbyte_encode(dls.astype(np.uint64))))
            continue
        tfs = varbyte_decode(r.tf_blob).astype(np.int64)
        dls = varbyte_decode(r.dl_blob).astype(np.int64)
        pos = bytes(r.pos_blob)
        offs = stream_byte_offsets(pos, tfs)
        pos = b"".join(pos[offs[i] : offs[i + 1]] for i in np.flatnonzero(keep))
        rows.append((r.term, int(r.group), len(docs), int(docs[0]), 0,
                     varbyte_encode(delta_encode(docs)),
                     varbyte_encode(tfs[keep].astype(np.uint64)), pos,
                     varbyte_encode(dls[keep].astype(np.uint64))))
    return pd.DataFrame(rows, columns=FRAGMENT_COLS)


def oracle_remap(g, blocks_pdf, map_pdf, tomb):
    """The per-row compaction remap (tombstone drop, then re-rank)."""
    old = map_pdf["old_rank"].to_numpy(dtype=np.int64)
    new = map_pdf["new_rank"].to_numpy(dtype=np.int64)
    o = np.argsort(old)
    old_s, new_s = old[o], new[o]
    rows = []
    for r in blocks_pdf.itertuples(index=False):
        docs = np.cumsum(varbyte_decode(r.doc_blob).astype(np.int64))
        is_dl = r.term is None
        if is_dl:
            tfs, dls, pos = None, varbyte_decode(r.tf_blob).astype(np.int64), None
        else:
            tfs = varbyte_decode(r.tf_blob).astype(np.int64)
            dls = varbyte_decode(r.dl_blob).astype(np.int64)
            pos = bytes(r.pos_blob)
        if tomb is not None:
            keep = tomb.keep_mask(docs, TURN_BITS)
            if not keep.all():
                if not keep.any():
                    continue
                if pos is not None:
                    offs = stream_byte_offsets(pos, tfs)
                    pos = b"".join(pos[offs[i] : offs[i + 1]] for i in np.flatnonzero(keep))
                docs, dls = docs[keep], dls[keep]
                if tfs is not None:
                    tfs = tfs[keep]
        idx = np.searchsorted(old_s, docs >> TURN_BITS)
        ndocs = (new_s[idx] << TURN_BITS) | (docs & TURN_MASK)
        if is_dl:
            if not np.all(ndocs[1:] > ndocs[:-1]):
                o2 = np.argsort(ndocs, kind="stable")
                ndocs, dls = ndocs[o2], dls[o2]
            rows.append((None, g, len(ndocs), int(ndocs[0]), int(dls.sum()),
                         varbyte_encode(delta_encode(ndocs)), None, None,
                         varbyte_encode(dls.astype(np.uint64))))
            continue
        if not np.all(ndocs[1:] > ndocs[:-1]):
            offs = stream_byte_offsets(pos, tfs)
            o2 = np.argsort(ndocs, kind="stable")
            pos = b"".join(pos[offs[i] : offs[i + 1]] for i in o2)
            ndocs, tfs, dls = ndocs[o2], tfs[o2], dls[o2]
        rows.append((r.term, g, len(ndocs), int(ndocs[0]), 0,
                     varbyte_encode(delta_encode(ndocs)),
                     varbyte_encode(tfs.astype(np.uint64)), pos,
                     varbyte_encode(dls.astype(np.uint64))))
    return pd.DataFrame(rows, columns=FRAGMENT_COLS)


# ------------------------------------------------------------------ inputs


def _frag_row(term, group, docs, tfs, dls, rng):
    """One fragment row over doc-sorted postings (term None: doclen)."""
    docs = np.asarray(docs, dtype=np.int64)
    row = {
        "term": term, "group": group, "n": len(docs), "min_doc": int(docs[0]),
        "doc_blob": varbyte_encode(_delta(docs).astype(np.uint64)),
        "tf_blob": None, "pos_blob": None,
        "dl_blob": varbyte_encode(np.asarray(dls, dtype=np.uint64)),
    }
    if term is not None:
        pos = [np.cumsum(rng.integers(1, 4, size=t)) - 1 for t in tfs]
        row["tf_blob"] = varbyte_encode(np.asarray(tfs, dtype=np.uint64))
        row["pos_blob"] = b"".join(varbyte_encode(delta_encode(p)) for p in pos)
    return row


def _doc_ids(rng, n_convs, size):
    ranks = rng.integers(0, n_convs, size=size)
    turns = rng.integers(0, 40, size=size)
    return np.unique((ranks << TURN_BITS) | turns)


def random_fragments(seed, overlap=True):
    """Fragment rows sorted like the merge input: (term, group, min_doc),
    NULL (doclen) terms first.  Runs are 1-300 postings over 1-5
    fragments; ``overlap`` deals postings to fragments at random (as
    doc_id-hashed input splits do), else in contiguous doc ranges.
    Doclen runs include docs of length 0 (turns with no tokens)."""
    rng = np.random.default_rng(seed)
    rows = []
    for term in [None] + [f"t{i:02d}" for i in range(int(rng.integers(3, 9)))]:
        for group in sorted(rng.choice(4, size=int(rng.integers(1, 4)), replace=False)):
            docs = _doc_ids(rng, 60, int(rng.integers(1, 300)))
            dls = rng.integers(0 if term is None else 1, 30, size=len(docs))
            tfs = rng.integers(1, 5, size=len(docs))
            k = int(rng.integers(1, 6))
            part = rng.integers(0, k, size=len(docs)) if overlap else np.sort(rng.integers(0, k, size=len(docs)))
            frags = [
                _frag_row(term, int(group), docs[part == j], tfs[part == j], dls[part == j], rng)
                for j in range(k) if (part == j).any()
            ]
            rows.extend(sorted(frags, key=lambda r: r["min_doc"]))
    return pd.DataFrame(rows, columns=["term", "group", "n", "min_doc", "doc_blob", "tf_blob", "pos_blob", "dl_blob"])


def _rows(df, cols):
    return [
        tuple(v if v is None or isinstance(v, (bytes, str)) else int(v) for v in r)
        for r in df[cols].itertuples(index=False)
    ]


# ------------------------------------------------------------------ merge


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("overlap", [True, False])
def test_merge_matches_oracle(seed, overlap):
    frags = random_fragments(seed, overlap)
    got = _merge_frame(frags, BLOCK)
    want = oracle_merge(frags, BLOCK)
    assert _rows(got, _BLOCK_COLS) == _rows(want, _BLOCK_COLS)
    assert (want["block_id"] > 0).any()  # some run crossed a block boundary
    assert want["term"].isna().any()  # doclen runs were packed


@pytest.mark.parametrize("seed", range(4))
def test_merge_mapper_carries_runs_across_batches(seed):
    """Arrow batches end mid-run; the mapper carries the trailing run
    into the next batch, so the blocks equal a merge of the whole frame."""
    frags = random_fragments(100 + seed)
    rng = np.random.default_rng(seed)
    cuts = np.sort(rng.choice(np.arange(1, len(frags)), size=5, replace=False))
    bounds = [0, *cuts, len(frags)]
    batches = [frags.iloc[a:b].reset_index(drop=True) for a, b in zip(bounds, bounds[1:])]
    got = pd.concat(list(_make_merge_mapper(BLOCK)(iter(batches))), ignore_index=True)
    assert _rows(got, _BLOCK_COLS) == _rows(oracle_merge(frags, BLOCK), _BLOCK_COLS)


# ------------------------------------------------------------------ rewrite


def random_blocks(seed):
    """Block rows of one group, merged by the oracle, plus one run whose
    postings all belong to conversation 7 (so dropping it empties every
    one of its blocks)."""
    frags = random_fragments(200 + seed)
    frags = frags[frags["group"] == frags["group"].iloc[0]]
    rng = np.random.default_rng(seed)
    conv7 = np.unique((7 << TURN_BITS) | rng.integers(0, 2000, size=150))
    own = pd.DataFrame([_frag_row("zz-conv7", int(frags["group"].iloc[0]), conv7,
                                  rng.integers(1, 4, size=len(conv7)),
                                  rng.integers(1, 9, size=len(conv7)), rng)])
    return oracle_merge(pd.concat([frags, own], ignore_index=True), BLOCK)


def _tombstones(blocks, rng):
    """Conversation 7 plus a random tenth of the indexed docs."""
    docs = np.concatenate([np.cumsum(varbyte_decode(b).astype(np.int64)) for b in blocks["doc_blob"]])
    docs = np.unique(docs)
    return Tombstones(rng.choice(docs, size=len(docs) // 10, replace=False),
                      np.asarray([7], dtype=np.int64))


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("monotone", [True, False])
@pytest.mark.parametrize("drop", [False, True])
def test_remap_matches_oracle(seed, monotone, drop):
    """Compaction: a monotone rank shift, or a permutation (a segment
    from an out-of-order extend), with or without tombstone/shadow drops."""
    blocks = random_blocks(seed)
    rng = np.random.default_rng(seed)
    old = rng.permutation(60)
    new = old + 1000 if monotone else rng.permutation(60) + 1000
    tomb = _tombstones(blocks, rng) if drop else None
    mapping = pd.DataFrame({"old_rank": old, "new_rank": new})
    g = int(blocks["group"].iloc[0])
    got = _make_remap_kernel(tomb)((g,), blocks, mapping)
    want = oracle_remap(g, blocks, mapping, tomb)
    assert _rows(got, FRAGMENT_COLS) == _rows(want, FRAGMENT_COLS)
    if drop:
        assert len(got) < len(blocks)  # whole blocks were emptied


@pytest.mark.parametrize("seed", range(6))
def test_drop_matches_oracle(seed):
    """extend_index(updates=True): tombstoned postings removed, ids kept.
    The per-row drop left sum_dl 0 where the rewrite sets Σdl on doclen
    rows, as the remap did; write_blocks reads neither."""
    blocks = random_blocks(seed)
    tomb = _tombstones(blocks, np.random.default_rng(seed))
    batches = [blocks.iloc[:40], blocks.iloc[40:]]
    got = pd.concat(list(_make_drop_kernel(tomb)(iter(batches))), ignore_index=True)
    cols = [c for c in FRAGMENT_COLS if c != "sum_dl"]
    assert _rows(got, cols) == _rows(oracle_drop(blocks, tomb), cols)


def test_remap_rejects_unknown_rank():
    blocks = random_blocks(0)
    mapping = pd.DataFrame({"old_rank": np.arange(5), "new_rank": np.arange(5)})
    with pytest.raises(ValueError, match="corrupt"):
        _make_remap_kernel()((0,), blocks, mapping)
