"""Posting-list physical format: sorted doc_id runs, delta + varint (LEB128)
compressed, fixed-size blocks with block-max metadata.

This plays the role Lucene's postings format plays for the reference's
Elasticsearch deployment (the reference itself ships no index code — it bulk
POSTs docs, reference: internal/elasticsearch/elasticsearch.go:86-170, and
lets Lucene build segments). Everything here is numpy-vectorized: these
functions run inside Arrow-batched pandas UDFs on executors, so per-row
Python is forbidden by design (BASELINE.json input_hint).

Format per posting block (one DataFrame row in the `postings` table):
    term        string
    shard_id    long      -- doc-range shard: doc_id // shard_range
    block_no    int       -- ordinal within (term, shard)
    first_doc   long      -- absolute smallest doc_id in block
    last_doc    long      -- absolute largest doc_id in block
    n           int       -- postings in block (<= BLOCK_SIZE)
    max_tf      long      -- block-max term frequency (WAND upper bound)
    min_dl      long      -- block-min document length (tightens the bound)
    sum_tf      long      -- block total term frequency (term_stats cf rolls
                             up from block metadata, no re-tokenize pass)
    doc_ids_enc binary    -- varint(delta(doc_ids)); first delta vs first_doc-? see below
    tfs_enc     binary    -- varint(tf - 1) per posting
    dls_enc     binary    -- varint(doc_len) per posting (the "norms"; stored
                             inline so BM25 scoring needs no docs-table join)

doc_ids are encoded as: first value stored as delta vs `first_doc` (i.e. 0),
subsequent values as gaps minus 1 (gaps are >= 1 in a strictly-increasing
run), which shaves a byte exactly at the varint 128/16384 boundaries.

Optional positional payload (`pos_enc` binary, NULL when the index is built
without positions): one varint stream holding the per-posting position
COUNTS (n values — n is known from block metadata) followed by every
posting's positions delta-encoded (first raw, then gap-1), concatenated in
posting order. Encoding and decoding are fully vectorized including the
per-posting cumsum reset (the segmented-cumsum trick). Positions are token
ordinals from the analyzer (0-based), what phrase adjacency checks consume
— the Lucene proximity-data analogue.
"""

from __future__ import annotations

import numpy as np

#: postings per block — 128 is the classic Lucene-ish block size; block-max
#: metadata granularity and decode batch size trade off here.
BLOCK_SIZE = 128

_U64_7 = np.uint64(7)
_U64_0x7F = np.uint64(0x7F)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints, fully vectorized.

    Builds an (n, 10) byte matrix + presence mask (a uint64 needs <= 10
    LEB128 bytes) and flattens row-major through the mask, so bytes come out
    value-by-value without a Python loop over values.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    mat = np.zeros((n, 10), np.uint8)
    mask = np.zeros((n, 10), bool)
    cur = v.copy()
    active = np.ones(n, bool)
    for i in range(10):
        mat[:, i] = (cur & _U64_0x7F).astype(np.uint8)
        mask[:, i] = active
        cur >>= _U64_7
        more = cur != 0
        mat[more, i] |= 0x80
        active &= more
        if not active.any():
            break
    return mat[mask].tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`varint_encode`; returns uint64 array."""
    b = np.frombuffer(buf, np.uint8)
    if b.size == 0:
        return np.zeros(0, np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    value_id = np.zeros(b.size, np.int64)
    value_id[1:] = np.cumsum(is_last[:-1])
    pos = np.arange(b.size) - starts[value_id]
    parts = (b & 0x7F).astype(np.uint64) << (pos.astype(np.uint64) * _U64_7)
    out = np.zeros(ends.size, np.uint64)
    np.add.at(out, value_id, parts)
    return out


def delta_encode(sorted_ids: np.ndarray, base: int) -> np.ndarray:
    """Strictly-increasing ids -> (first - base, gap-1, gap-1, ...)."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return ids
    out = np.empty_like(ids)
    out[0] = ids[0] - np.uint64(base)
    if ids.size > 1:
        out[1:] = np.diff(ids) - np.uint64(1)
    return out


def delta_decode(deltas: np.ndarray, base: int) -> np.ndarray:
    """Inverse of :func:`delta_encode`."""
    d = np.ascontiguousarray(deltas, dtype=np.uint64)
    if d.size == 0:
        return d
    out = d.copy()
    out[0] += np.uint64(base)
    if d.size > 1:
        out[1:] += np.uint64(1)
    return np.cumsum(out, dtype=np.uint64)


def encode_positions(flat_pos: np.ndarray, lens: np.ndarray) -> bytes:
    """Encode per-posting position lists (flat values + per-posting counts).

    Stream layout: varint(lens) ++ varint(deltas) where each posting's
    positions are (first raw, then gap-1). Fully vectorized.
    """
    lens = np.ascontiguousarray(lens, np.uint64)
    flat = np.ascontiguousarray(flat_pos, np.uint64)
    if flat.size == 0:
        return varint_encode(lens)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1])).astype(np.int64)
    starts = starts[lens > 0]
    d = np.empty_like(flat)
    d[0] = flat[0]
    d[1:] = flat[1:] - flat[:-1] - np.uint64(1)
    d[starts] = flat[starts]
    return varint_encode(lens) + varint_encode(d)


def decode_positions(buf: bytes, n_postings: int):
    """Inverse of :func:`encode_positions` -> (lens int64, flat uint64).

    Per-posting slices are flat[starts[i] : starts[i] + lens[i]] with
    starts = cumsum-exclusive(lens). Segmented delta-decode is vectorized
    (global cumsum minus per-segment base)."""
    vals = varint_decode(buf)
    lens = vals[:n_postings].astype(np.int64)
    d = vals[n_postings:]
    if d.size == 0:
        return lens, np.zeros(0, np.uint64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    starts = starts[lens > 0]
    adj = d + np.uint64(1)
    adj[starts] = d[starts]
    c = np.cumsum(adj, dtype=np.uint64)
    seg_base = (c[starts] - adj[starts]).astype(np.uint64)
    nz_lens = lens[lens > 0]
    flat = c - np.repeat(seg_base, nz_lens)
    return lens, flat


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """LEB128 byte count per value, vectorized (1..10 for uint64)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nb = np.ones(v.size, np.int64)
    for k in range(1, 10):
        nb += (v >= np.uint64(1) << np.uint64(7 * k)).astype(np.int64)
    return nb


def encode_concat(values: np.ndarray, counts: np.ndarray) -> list[bytes]:
    """varint-encode `values` ONCE, then split the byte stream into
    len(counts) segments where segment i holds counts[i] values.

    The batched form of varint_encode: one numpy pass over a whole Arrow
    batch's worth of runs/blocks instead of a Python-level encode call per
    group (tail terms make groups tiny — per-group call overhead dominates
    otherwise). sum(counts) must equal len(values)."""
    buf = varint_encode(values)
    counts = np.ascontiguousarray(counts, np.int64)
    if counts.size == 1:
        return [buf]
    cum = np.concatenate(([0], np.cumsum(varint_lengths(values))))
    vend = np.cumsum(counts)
    vstart = vend - counts
    mv = memoryview(buf)
    return [bytes(mv[cum[a]:cum[b]]) for a, b in zip(vstart, vend)]


def segmented_delta_decode(deltas: np.ndarray, seg_counts: np.ndarray,
                           seg_bases: np.ndarray) -> np.ndarray:
    """Decode many delta runs at once: run i has seg_counts[i] values whose
    first delta is relative to seg_bases[i] (first stored raw-offset, rest
    gap-1) — the vectorized, multi-run form of :func:`delta_decode`."""
    d = np.ascontiguousarray(deltas, np.uint64)
    seg_counts = np.ascontiguousarray(seg_counts, np.int64)
    if d.size == 0:
        return d
    starts = np.concatenate(([0], np.cumsum(seg_counts)[:-1]))
    starts = starts[seg_counts > 0]
    adj = d + np.uint64(1)
    adj[starts] = d[starts] + seg_bases.astype(np.uint64)[seg_counts > 0]
    c = np.cumsum(adj, dtype=np.uint64)
    base = (c[starts] - adj[starts]).astype(np.uint64)
    return c - np.repeat(base, seg_counts[seg_counts > 0])


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    block_size: int = BLOCK_SIZE,
    positions: list | None = None,
) -> list[dict]:
    """Chop one sorted posting run into encoded blocks.

    ``doc_ids`` must be strictly increasing; ``tfs``/``doc_lens`` aligned.
    ``positions``: optional per-posting position arrays (same length as
    doc_ids) — encoded into pos_enc; NULL otherwise. Returns a list of
    plain dicts matching the postings-table row schema (minus term/shard,
    which the caller owns).
    """
    n = doc_ids.size
    blocks: list[dict] = []
    for b0 in range(0, n, block_size):
        b1 = min(b0 + block_size, n)
        ids = np.ascontiguousarray(doc_ids[b0:b1], dtype=np.uint64)
        btf = np.ascontiguousarray(tfs[b0:b1], dtype=np.uint64)
        bdl = np.ascontiguousarray(doc_lens[b0:b1], dtype=np.uint64)
        first = int(ids[0])
        if positions is not None:
            plists = positions[b0:b1]
            lens = np.fromiter((len(p) for p in plists), np.int64,
                               count=len(plists))
            flat = (np.concatenate([np.asarray(p, np.uint64) for p in plists])
                    if lens.sum() else np.zeros(0, np.uint64))
            pos_enc = encode_positions(flat, lens)
        else:
            pos_enc = None
        blocks.append(
            {
                "block_no": b0 // block_size,
                "first_doc": first,
                "last_doc": int(ids[-1]),
                "n": int(ids.size),
                "max_tf": int(btf.max()),
                "min_dl": int(bdl.min()),
                "sum_tf": int(btf.sum()),
                "doc_ids_enc": varint_encode(delta_encode(ids, first)),
                "tfs_enc": varint_encode(btf - np.uint64(1)),
                "dls_enc": varint_encode(bdl),
                "pos_enc": pos_enc,
            }
        )
    return blocks


def decode_block(first_doc: int, doc_ids_enc: bytes, tfs_enc: bytes,
                 dls_enc: bytes | None = None):
    """Decode one block -> (doc_ids, tfs[, dls]) uint64 arrays."""
    ids = delta_decode(varint_decode(doc_ids_enc), first_doc)
    tfs = varint_decode(tfs_enc) + np.uint64(1)
    if dls_enc is None:
        return ids, tfs
    return ids, tfs, varint_decode(dls_enc)
