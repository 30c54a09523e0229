"""Block-max scoring kernels: exact top-k BM25 over decoded posting blocks.

Pure numpy, runs inside the per-shard scoring UDF (query/bm25.py). Pruning is
block-granular ("block-max WAND" in the BMW family): per-block upper bounds
ub = idf * (max_tf*(k1+1)) / (max_tf + k1*(1-b+b*min_dl/avgdl)) — valid since
BM25 is monotone increasing in tf and decreasing in dl — drive both
(a) conjunctive block-range pruning (a candidate block survives only if every
other required term has an overlapping block) and (b) disjunctive segment
pruning (doc-range segments whose summed ub cannot beat the current kth
score are skipped; segments processed in descending ub-sum so the cutoff is
an early exit). Pruning is exact, never approximate — rank-identity tests
compare against the exhaustive path bit-for-bit.

Determinism contract (must match oracle/reference.py exactly):
- float64 throughout; per-doc score = sum of per-term parts in ASCENDING
  term order; part = idf * (tf*(k1+1)) / (tf + k1*(1 - b + b*dl/avgdl))
  with the same evaluation order as the oracle's Python expression;
- tie-break: score desc, doc_id asc.
"""

from __future__ import annotations

import numpy as np

from picdexer_spark.index.codec import decode_block


def _score_part(
    tfs: np.ndarray, dls: np.ndarray, idf: float, k1: float, b: float, avgdl: float
) -> np.ndarray:
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    # expression shape mirrors oracle/reference.py::score_one exactly
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def block_ub_vec(max_tf: np.ndarray, min_dl: np.ndarray, idf: float,
                 k1: float, b: float, avgdl: float) -> np.ndarray:
    """Vectorized per-block upper bounds (one numpy expression, not a
    Python loop per block — head terms have thousands of blocks/shard)."""
    mt = max_tf.astype(np.float64)
    md = min_dl.astype(np.float64)
    return idf * (mt * (k1 + 1.0)) / (mt + k1 * (1.0 - b + b * md / avgdl))


def _in_sorted(values: np.ndarray, sorted_set: np.ndarray) -> np.ndarray:
    """Membership mask of `values` in a SORTED array (searchsorted — no
    hashing, no Python sets)."""
    if sorted_set.size == 0:
        return np.zeros(values.size, bool)
    j = np.searchsorted(sorted_set, values)
    jc = np.clip(j, 0, sorted_set.size - 1)
    return (j < sorted_set.size) & (sorted_set[jc] == values)


def _topk(doc_ids: np.ndarray, scores: np.ndarray, k: int):
    """Exact top-k with (score desc, doc_id asc) tie-break."""
    if doc_ids.size == 0:
        return doc_ids.astype(np.int64), scores
    order = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[order].astype(np.int64), scores[order]


def _after_mask(ids: np.ndarray, scores: np.ndarray, after) -> np.ndarray:
    """search_after cursor: keep docs STRICTLY after (score, doc_id) in
    (score desc, doc_id asc) rank order. The cursor score is a float the
    engine itself produced on the previous page, so equality is exact
    (identical summation order), the ES search_after contract. Masking
    happens BEFORE top-k selection, so every pruning threshold (θ) is
    computed over post-cursor docs — pruning stays exact: a skipped
    block's ub bounds its masked docs too."""
    cs, cd = after
    return (scores < cs) | ((scores == cs) & (ids.astype(np.int64) > cd))


class TermBlocks:
    """All posting blocks of one term within the scoring group, decoded lazily."""

    __slots__ = ("first", "last", "max_tf", "min_dl", "enc", "pos_enc", "n",
                 "_cache")

    def __init__(self, first, last, max_tf, min_dl, enc, pos_enc=None,
                 n=None):
        order = np.argsort(first, kind="stable")
        self.first = np.asarray(first, np.int64)[order]
        self.last = np.asarray(last, np.int64)[order]
        self.max_tf = np.asarray(max_tf, np.int64)[order]
        self.min_dl = np.asarray(min_dl, np.int64)[order]
        self.enc = [enc[i] for i in order]
        self.pos_enc = [pos_enc[i] for i in order] if pos_enc is not None else None
        #: per-block posting counts (optional; enables one-pass decode)
        self.n = np.asarray(n, np.int64)[order] if n is not None else None
        self._cache: dict[int, tuple] = {}

    def positions_flat(self, doc_ids: np.ndarray):
        """(doc_rep, pos) flattened position stream for the requested SORTED
        doc ids — one doc_rep entry per position occurrence, docs ascending,
        positions ascending within a doc. Decodes only blocks containing
        requested ids; per-block work is vectorized (no per-doc Python).
        Requires an index built with store_positions=True."""
        from picdexer_spark.index.codec import decode_positions

        if self.pos_enc is None:
            raise ValueError("postings carry no positions")
        empty = (np.zeros(0, np.uint64), np.zeros(0, np.uint64))
        if doc_ids.size == 0 or self.n_blocks() == 0:
            return empty
        need = np.unique(
            np.clip(
                np.searchsorted(self.first, doc_ids.astype(np.int64),
                                side="right") - 1,
                0, self.n_blocks() - 1,
            )
        )
        want = np.asarray(doc_ids, np.uint64)
        out_docs, out_pos = [], []
        for bi in need:
            buf = self.pos_enc[int(bi)]
            if buf is None:
                raise ValueError("postings carry no positions")
            ids, _tfs, _dls = self.decode(int(bi))
            j = np.searchsorted(want, ids)
            jc = np.clip(j, 0, max(want.size - 1, 0))
            sel = np.flatnonzero((j < want.size) & (want[jc] == ids))
            if sel.size == 0:
                continue
            lens, flat = decode_positions(bytes(buf), ids.size)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            sl = lens[sel]
            tot = int(sl.sum())
            if tot == 0:
                continue
            gather = (
                np.repeat(starts[sel], sl)
                + np.arange(tot)
                - np.repeat(np.concatenate(([0], np.cumsum(sl)[:-1])), sl)
            )
            out_pos.append(flat[gather])
            out_docs.append(np.repeat(ids[sel], sl))
        if not out_docs:
            return empty
        return np.concatenate(out_docs), np.concatenate(out_pos)

    def n_blocks(self) -> int:
        return self.first.size

    def decode(self, i: int):
        got = self._cache.get(i)
        if got is None:
            ids_enc, tfs_enc, dls_enc = self.enc[i]
            got = decode_block(int(self.first[i]), ids_enc, tfs_enc, dls_enc)
            self._cache[i] = got
        return got

    def decode_many(self, idxs: np.ndarray):
        # one-pass segmented decode when per-block counts are known and the
        # request is bulk-sized: concatenating the varint buffers and
        # decoding once replaces a Python loop of per-block decodes (the
        # decode cost of a head term is thousands of ~128-entry buffers —
        # measured 3-4x faster vectorized). Small requests keep the cached
        # per-block path (the prune sweep re-touches blocks across
        # segments and profits from the cache).
        idxs = np.asarray(idxs, np.int64)
        if self.n is not None and idxs.size > 8 and not self._cache:
            from picdexer_spark.index.codec import (
                segmented_delta_decode,
                varint_decode,
            )

            sel = [self.enc[int(i)] for i in idxs]
            counts = self.n[idxs]
            ids = segmented_delta_decode(
                varint_decode(b"".join(bytes(e[0]) for e in sel)),
                counts, self.first[idxs],
            )
            tfs = varint_decode(b"".join(bytes(e[1]) for e in sel)) \
                + np.uint64(1)
            dls = varint_decode(b"".join(bytes(e[2]) for e in sel))
            return ids, tfs, dls
        ids, tfs, dls = [], [], []
        for i in idxs:
            a, t, d = self.decode(int(i))
            ids.append(a)
            tfs.append(t)
            dls.append(d)
        if not ids:
            z = np.zeros(0, np.uint64)
            return z, z, z
        return np.concatenate(ids), np.concatenate(tfs), np.concatenate(dls)

    def decode_bulk(self, idxs: np.ndarray):
        """One-pass segmented decode of the requested blocks, NEVER via the
        per-block cache (neither read nor write): the disjunctive paths
        decode each block at most once or twice (a chunk-spanning block in
        the sweep), so the cache's per-block Python bookkeeping costs more
        than the rare re-decode it would save — and a cache populated by an
        earlier small probe must not demote this to a per-block loop.
        Requires per-block counts; blocks without them (older snapshots)
        fall back to decode_many."""
        idxs = np.asarray(idxs, np.int64)
        if self.n is None or idxs.size <= 8:
            return self.decode_many(idxs)
        from picdexer_spark.index.codec import (
            segmented_delta_decode,
            varint_decode,
        )

        sel = [self.enc[int(i)] for i in idxs]
        counts = self.n[idxs]
        ids = segmented_delta_decode(
            varint_decode(b"".join(bytes(e[0]) for e in sel)),
            counts, self.first[idxs],
        )
        tfs = varint_decode(b"".join(bytes(e[1]) for e in sel)) \
            + np.uint64(1)
        dls = varint_decode(b"".join(bytes(e[2]) for e in sel))
        return ids, tfs, dls

    def lookup(self, cand: np.ndarray):
        """(tf, dl, mask) for candidate doc_ids (sorted uint64)."""
        if cand.size == 0 or self.n_blocks() == 0:
            z = np.zeros(cand.size, np.uint64)
            return z, z, np.zeros(cand.size, bool)
        need = np.unique(
            np.clip(
                np.searchsorted(self.first, cand.astype(np.int64), side="right") - 1,
                0,
                self.n_blocks() - 1,
            )
        )
        ids, tfs, dls = self.decode_bulk(need)
        pos = np.searchsorted(ids, cand)
        pos_c = np.clip(pos, 0, max(ids.size - 1, 0))
        hit = (pos < ids.size) & (ids[pos_c] == cand) if ids.size else np.zeros(cand.size, bool)
        out_tf = np.zeros(cand.size, np.uint64)
        out_dl = np.zeros(cand.size, np.uint64)
        out_tf[hit] = tfs[pos_c[hit]]
        out_dl[hit] = dls[pos_c[hit]]
        return out_tf, out_dl, hit


def score_conjunctive(
    terms: list[str],
    blocks: dict[str, TermBlocks],
    idf: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    k: int,
    prune: bool = True,
    allowed: np.ndarray | None = None,
    after: tuple | None = None,
):
    """Exact conjunctive (AND) top-k within one scoring group.
    `after`: optional (score, doc_id) search_after cursor — only docs
    strictly after it in rank order enter the top-k (see _after_mask).

    `allowed`: optional SORTED uint64 doc_id whitelist (a pushed docs-table
    filter, e.g. kuery `lang:en`) — only whitelisted docs enter the top-k.
    Scoring statistics stay corpus-wide (the ES filter-context contract),
    and all pruning stays exact: block upper bounds bound every doc,
    including the allowed ones.

    Two pruning layers, both exact:
    1. block-range: a driver block survives only if EVERY other term has at
       least one block overlapping its [first, last] doc range;
    2. ub-threshold (θ): per surviving driver block, the max achievable
       conjunctive score is its own ub plus, per other term, the MAX ub of
       that term's overlapping blocks. Blocks are decoded in descending
       ub-total order; once the running kth score θ exceeds the next
       block's ub-total the remaining blocks are skipped (strict <, so a
       doc scoring exactly θ can still enter and win the doc_id tie-break
       — rank identity vs the exhaustive path is bit-exact). Without θ a
       head∧head query decodes every co-ranged block.
    """
    empty = (np.zeros(0, np.int64), np.zeros(0, np.float64))
    if any(t not in blocks or blocks[t].n_blocks() == 0 for t in terms):
        return empty
    asc = sorted(terms)
    # drive from the term with the fewest postings in this group
    sizes = {t: int(blocks[t].last.size) for t in terms}
    driver = min(terms, key=lambda t: (sizes[t], t))
    others = [t for t in asc if t != driver]

    tb = blocks[driver]
    keep = np.ones(tb.n_blocks(), bool)
    for t in others:
        ob = blocks[t]
        i0 = np.searchsorted(ob.last, tb.first, side="left")
        has = (i0 < ob.n_blocks()) & (
            ob.first[np.clip(i0, 0, ob.n_blocks() - 1)] <= tb.last
        )
        keep &= has
    if not keep.any():
        return empty
    idxs = np.flatnonzero(keep)

    # ub-total per surviving driver block (all vectorized; driver blocks
    # usually overlap 1-2 blocks of each other term, so the slice-max loop
    # below is over tiny ranges)
    ub_tot = block_ub_vec(tb.max_tf[idxs], tb.min_dl[idxs],
                          idf[driver], k1, b, avgdl)
    for t in others:
        ob = blocks[t]
        o_ub = block_ub_vec(ob.max_tf, ob.min_dl, idf[t], k1, b, avgdl)
        i0 = np.searchsorted(ob.last, tb.first[idxs], side="left")
        i1 = np.searchsorted(ob.first, tb.last[idxs], side="right")
        # keep-mask guarantees at least one overlapping block per entry;
        # fast path: single overlapping block (the common doc-range case)
        single = (i1 - i0) == 1
        contrib = np.empty(idxs.size, np.float64)
        contrib[single] = o_ub[i0[single]]
        for j in np.flatnonzero(~single):
            contrib[j] = o_ub[i0[j]:i1[j]].max()
        ub_tot += contrib

    order = (
        np.argsort(-ub_tot, kind="stable") if prune
        else np.arange(idxs.size)
    )
    # ADAPTIVE chunking (round 7, the disjunctive lesson applied here): the
    # 8-block chunks only pay when the theta cutoff can actually fire. For
    # head-and-head conjunctions the ub totals are flat (co-ranged blocks,
    # near-identical bounds), nothing ever prunes, and ~100 chunk
    # iterations of per-chunk decode/lookup/topk cost 105 ms where ONE
    # vectorized pass costs ~25 ms (w0-and-w1 over 100k docs). When fewer
    # than 25% of driver blocks sit below 0.7x the best ub total, run the
    # whole candidate set as a single chunk — same code path, same
    # summation order, bit-identical results (rank-identity pinned).
    chunk = 8
    if prune and idxs.size > 8:
        if float(np.mean(ub_tot < 0.7 * ub_tot.max())) < 0.25:
            chunk = order.size
    top_ids = np.zeros(0, np.int64)
    top_scores = np.zeros(0, np.float64)
    theta = -np.inf
    for c0 in range(0, order.size, chunk):
        sel = order[c0:c0 + chunk]
        if prune and ub_tot[sel[0]] < theta:
            break  # desc order: every remaining block prunes too
        # sorted block indices -> decoded ids come out doc-sorted (driver
        # blocks are disjoint doc ranges), as lookup() requires
        cand, cand_tf, cand_dl = tb.decode_bulk(np.sort(idxs[sel]))
        per_term_tf = {driver: (cand_tf, cand_dl)}
        mask = np.ones(cand.size, bool)
        for t in others:
            tfs, dls, hit = blocks[t].lookup(cand)
            mask &= hit
            per_term_tf[t] = (tfs, dls)
            if not mask.any():
                break
        if allowed is not None:
            mask &= _in_sorted(cand, allowed)
        if not mask.any():
            continue
        cand = cand[mask]
        scores = np.zeros(cand.size, np.float64)
        for t in asc:  # pinned summation order
            tfs, dls = per_term_tf[t]
            scores += _score_part(tfs[mask], dls[mask], idf[t], k1, b, avgdl)
        if after is not None:
            am = _after_mask(cand, scores, after)
            cand, scores = cand[am], scores[am]
            if cand.size == 0:
                continue
        top_ids = np.concatenate([top_ids, cand.astype(np.int64)])
        top_scores = np.concatenate([top_scores, scores])
        top_ids, top_scores = _topk(top_ids, top_scores, k)
        if top_ids.size >= k:
            theta = top_scores[-1]
    return _topk(top_ids, top_scores, k)


def score_disjunctive(
    terms: list[str],
    blocks: dict[str, TermBlocks],
    idf: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    k: int,
    prune: bool = True,
    allowed: np.ndarray | None = None,
    after: tuple | None = None,
    msm: int = 1,
):
    """Exact disjunctive (OR) top-k. `allowed`: optional sorted doc_id
    whitelist, see score_conjunctive; `after`: optional search_after
    cursor, see _after_mask.

    `msm`: ES bool `minimum_should_match` — a doc qualifies only if it
    matches at least `msm` of the should terms; its score stays the BM25
    sum over ALL its matched terms (not just msm of them), the Lucene
    MinShouldMatchSumScorer contract. msm=1 is plain OR; msm=len(terms)
    equals conjunctive (delegated driver-side before reaching here).
    Block-max pruning stays exact under msm: dropping sub-msm docs never
    raises any surviving doc's score, so every segment ub remains an
    upper bound; segments overlapped by fewer than msm distinct terms
    are additionally skipped outright (they cannot contain a match).

    prune=True: block-max segment pruning (doc-range segments whose summed
    ub cannot beat the running kth score are skipped — wins whenever term
    ubs are skewed, e.g. rare∨head). prune=False: vectorized BULK scoring —
    decode every block once, one np.unique merge, one score pass; no
    segment bookkeeping at all (faster when nothing is prunable, e.g.
    head-only queries where every segment's ub beats any kth score).
    Both paths are exact and bit-identical (tested).
    """
    asc = [t for t in sorted(terms) if t in blocks and blocks[t].n_blocks() > 0]
    empty = (np.zeros(0, np.int64), np.zeros(0, np.float64))
    if not asc or msm > len(asc):
        return empty

    def _bulk():
        parts = []
        for t in asc:
            tb = blocks[t]
            ids, tfs, dls = tb.decode_bulk(np.arange(tb.n_blocks()))
            if ids.size:
                parts.append((t, ids, tfs, dls))
        if not parts or msm > len(parts):
            return empty
        all_ids = np.unique(np.concatenate([p[1] for p in parts]))
        scores = np.zeros(all_ids.size, np.float64)
        nmatch = np.zeros(all_ids.size, np.int64)
        for t, ids, tfs, dls in parts:  # asc term order (pinned summation)
            pos = np.searchsorted(all_ids, ids)
            scores[pos] += _score_part(tfs, dls, idf[t], k1, b, avgdl)
            nmatch[pos] += 1
        if msm > 1:
            keep = nmatch >= msm
            all_ids2, scores2 = all_ids[keep], scores[keep]
        else:
            all_ids2, scores2 = all_ids, scores
        if allowed is not None:
            keep = _in_sorted(all_ids2, allowed)
            all_ids2, scores2 = all_ids2[keep], scores2[keep]
        if after is not None:
            am = _after_mask(all_ids2, scores2, after)
            all_ids2, scores2 = all_ids2[am], scores2[am]
        return _topk(all_ids2.astype(np.int64), scores2, k)

    if not prune:
        return _bulk()

    # vectorized segment SKETCH first (cheap: a few numpy passes over the
    # block metadata): doc-id space cut at every block boundary; per
    # segment, the sum of overlapping block UBs = max achievable score
    # there. The sketch both drives the sweep and decides whether a sweep
    # is worth running at all.
    b_lo = []
    b_hi = []
    b_ub = []
    b_idx = []
    for t in asc:
        tb = blocks[t]
        ubs = block_ub_vec(tb.max_tf, tb.min_dl, idf[t], k1, b, avgdl)
        b_lo.append(tb.first)
        b_hi.append(tb.last)
        b_ub.append(ubs)
        b_idx.append(np.arange(tb.n_blocks()))
    los = np.concatenate(b_lo)
    his = np.concatenate(b_hi)
    ubs_all = np.concatenate(b_ub)
    idx_all = np.concatenate(b_idx)
    #: term index (into asc) of each global block row
    tid_all = np.repeat(
        np.arange(len(asc)), [blocks[t].n_blocks() for t in asc]
    )
    edges = np.unique(np.concatenate([los, his + 1]))
    nseg = edges.size - 1
    if nseg <= 0:
        return empty
    s0s = np.searchsorted(edges, los, side="right") - 1
    s1s = np.searchsorted(edges, his + 1, side="left")
    seg_ub = np.zeros(nseg + 1, np.float64)
    np.add.at(seg_ub, s0s, ubs_all)
    np.add.at(seg_ub, s1s, -ubs_all)
    seg_ub = np.cumsum(seg_ub[:-1])

    # ADAPTIVE path choice (round 7; both paths exact and bit-identical —
    # pinned by the rank-identity tests): the sweep only pays when a
    # meaningful share of segments can fall below the final threshold.
    # When the ub distribution is flat (e.g. every query term is a head
    # term covering the whole shard) NOTHING prunes and the sweep is pure
    # overhead — measured 0.66 s vs 0.45 s for a 3-head-term disjunction
    # over 100k docs. A segment can only ever prune if its ub is below the
    # best segment's; require at least 25% of segments under 0.7x the max
    # before paying for the sweep.
    frac_prunable = float(np.mean(seg_ub < 0.7 * seg_ub.max()))
    if frac_prunable < 0.25:
        return _bulk()

    # CHUNKED sweep (round 7): segments are processed in descending-ub
    # chunks (8 segments first, each next chunk twice the size) with all
    # bookkeeping vectorized, instead of one Python
    # iteration (decode + unique + topk) per segment. The per-segment
    # formulation cost ~85 us of fixed Python per segment and ran them ALL
    # whenever theta never caught the ub tail (measured 135 ms vs 26 ms
    # bulk for head-or-rare over 100k docs — the prune path must never be
    # a liability). Chunking bounds the worst case at ~bulk cost (the
    # same decodes, a handful of chunk passes) while keeping the exact
    # early exit: chunks are ub-ordered, so when a chunk's best segment
    # falls below theta every remaining segment prunes too (strict <,
    # bit-identical ranks — a doc scoring exactly theta still enters).
    # Within a chunk no pruning is attempted (segments are doc-disjoint,
    # so scoring them together in one vectorized pass is exact).
    inc_spans = (s1s - s0s).astype(np.int64)
    n_inc = int(inc_spans.sum())
    inc_block = np.repeat(np.arange(los.size), inc_spans)
    inc_starts = np.concatenate(([0], np.cumsum(inc_spans)[:-1]))
    inc_seg = (
        np.repeat(s0s, inc_spans)
        + np.arange(n_inc)
        - np.repeat(inc_starts, inc_spans)
    )
    inc_order = np.argsort(inc_seg, kind="stable")
    inc_block = inc_block[inc_order]
    inc_seg = inc_seg[inc_order]
    seg_first = np.searchsorted(inc_seg, np.arange(nseg))
    seg_last = np.searchsorted(inc_seg, np.arange(nseg) + 1)

    order = np.argsort(-seg_ub, kind="stable")
    top_ids = np.zeros(0, np.int64)
    top_scores = np.zeros(0, np.float64)
    theta = -np.inf
    # geometric chunk growth: the first small chunks (the highest-ub
    # segments) establish theta at fine granularity — where nearly all
    # pruning potential lives — then chunks double so a no-prune run costs
    # only O(log nseg) passes over everything-once
    c0, chunk = 0, 8
    while c0 < order.size:
        sel = order[c0:c0 + chunk]
        c0 += chunk
        chunk *= 2
        if prune and seg_ub[sel[0]] < theta:
            break  # desc ub order: every remaining segment prunes too
        # the chunk's doc ranges (disjoint, so sorting lo and hi
        # independently keeps the pairs aligned)
        lo_arr = np.sort(edges[sel])
        hi_arr = np.sort(edges[sel + 1]) - 1
        # all (block, segment) incidences of the chunk -> blocks per term
        inc_idx = np.concatenate(
            [np.arange(seg_first[s], seg_last[s]) for s in sel]
        )
        blks = inc_block[inc_idx]
        parts: list[tuple[str, np.ndarray, np.ndarray, np.ndarray]] = []
        for ti, t in enumerate(asc):
            bidx = np.unique(idx_all[blks[tid_all[blks] == ti]])
            if bidx.size == 0:
                continue
            ids, tfs, dls = blocks[t].decode_bulk(bidx)
            # keep only docs inside one of the chunk's segment ranges
            pos = np.searchsorted(lo_arr, ids.astype(np.int64),
                                  side="right") - 1
            posc = np.clip(pos, 0, lo_arr.size - 1)
            keep = (pos >= 0) & (ids.astype(np.int64) <= hi_arr[posc])
            if keep.any():
                parts.append((t, ids[keep], tfs[keep], dls[keep]))
        if len(parts) < msm:
            continue  # a match needs >= msm distinct terms
        all_ids = np.unique(np.concatenate([p[1] for p in parts]))
        scores = np.zeros(all_ids.size, np.float64)
        nmatch = np.zeros(all_ids.size, np.int64)
        for t, ids, tfs, dls in parts:  # parts already in asc term order
            pos = np.searchsorted(all_ids, ids)
            scores[pos] += _score_part(tfs, dls, idf[t], k1, b, avgdl)
            nmatch[pos] += 1
        if msm > 1:
            keep = nmatch >= msm
            all_ids, scores = all_ids[keep], scores[keep]
        if allowed is not None:
            keep = _in_sorted(all_ids, allowed)
            all_ids, scores = all_ids[keep], scores[keep]
        if after is not None:
            am = _after_mask(all_ids, scores, after)
            all_ids, scores = all_ids[am], scores[am]
        top_ids = np.concatenate([top_ids, all_ids.astype(np.int64)])
        top_scores = np.concatenate([top_scores, scores])
        top_ids, top_scores = _topk(top_ids, top_scores, k)
        if top_ids.size >= k:
            theta = top_scores[-1]
    return _topk(top_ids, top_scores, k)


def field_match_scores(
    terms: list[str],
    blocks: dict[str, TermBlocks],
    idf: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
):
    """FULL per-doc scored match set of a disjunction over one field's
    (namespaced) terms: (doc_ids asc int64, scores float64). Score = BM25
    sum in ascending term order — the exact arithmetic of the bulk
    disjunctive kernel / match_ids, factored out so the multi_match shard
    kernel can combine several fields' sets per doc without a per-field
    exchange."""
    asc = [t for t in sorted(terms) if t in blocks and blocks[t].n_blocks() > 0]
    if not asc:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    parts = []
    for t in asc:
        tb = blocks[t]
        ids, tfs, dls = tb.decode_many(np.arange(tb.n_blocks()))
        if ids.size:
            parts.append((t, ids, tfs, dls))
    if not parts:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    all_ids = np.unique(np.concatenate([p[1] for p in parts]))
    scores = np.zeros(all_ids.size, np.float64)
    for t, ids, tfs, dls in parts:  # asc term order (pinned summation)
        pos = np.searchsorted(all_ids, ids)
        scores[pos] += _score_part(tfs, dls, idf[t], k1, b, avgdl)
    return all_ids.astype(np.int64), scores


def score_synonyms(
    classes: list[tuple[str, tuple[str, ...]]],
    blocks: dict[str, TermBlocks],
    idf: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    k: int,
    mode: str = "disjunctive",
    allowed: np.ndarray | None = None,
    after: tuple | None = None,
):
    """Lucene SynonymQuery top-k: each CLASS (rep, members) scores as ONE
    BM25 clause with tf = sum of member tfs in the doc and idf keyed by
    `rep` (the caller blends df = max member df — Lucene
    SynonymQuery#docFreq). Classes combine by `mode`: disjunctive = any
    class matches, conjunctive = every class must match (a bool of
    SynonymQuery clauses).

    Exactness note: this is the BULK path (decode every member block
    once, one np.unique merge per class) — the same exact no-segment
    formulation as score_disjunctive(prune=False). Block-max pruning
    over blended clauses is possible (BM25 saturation is subadditive,
    so summed member ubs bound the blended score) but synonym classes
    are config-sized and their members share doc ranges, so the sweep's
    bookkeeping outweighs its skips; pinned to bulk until measured
    otherwise."""
    empty = (np.zeros(0, np.int64), np.zeros(0, np.float64))
    per_class = []
    for rep, members in classes:
        parts = []
        for t in members:
            tb = blocks.get(t)
            if tb is None or tb.n_blocks() == 0:
                continue
            ids, tfs, dls = tb.decode_many(np.arange(tb.n_blocks()))
            if ids.size:
                parts.append((ids, tfs, dls))
        if not parts:
            if mode == "conjunctive":
                return empty  # a required clause matches nothing here
            continue
        ids = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
        u, inv = np.unique(ids, return_inverse=True)
        tf_sum = np.zeros(u.size, np.int64)
        np.add.at(tf_sum, inv, tfs.astype(np.int64))
        dl_u = np.zeros(u.size, np.int64)
        dl_u[inv] = dls.astype(np.int64)  # same doc -> same dl
        per_class.append((rep, u, tf_sum, dl_u))
    if not per_class:
        return empty
    all_ids = np.unique(np.concatenate([c[1] for c in per_class]))
    scores = np.zeros(all_ids.size, np.float64)
    nmatch = np.zeros(all_ids.size, np.int64)
    for rep, u, tf_sum, dl_u in per_class:
        pos = np.searchsorted(all_ids, u)
        scores[pos] += _score_part(tf_sum, dl_u, idf[rep], k1, b, avgdl)
        nmatch[pos] += 1
    if mode == "conjunctive":
        keep = nmatch == len(classes)
        all_ids, scores = all_ids[keep], scores[keep]
    if allowed is not None:
        keep = _in_sorted(all_ids, allowed)
        all_ids, scores = all_ids[keep], scores[keep]
    if after is not None:
        am = _after_mask(all_ids, scores, after)
        all_ids, scores = all_ids[am], scores[am]
    return _topk(all_ids.astype(np.int64), scores, k)


def score_groups(
    groups: list[list[str]],
    blocks: dict[str, TermBlocks],
    idf: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    k: int,
    prune: bool = True,
    allowed: np.ndarray | None = None,
    after: tuple | None = None,
):
    """Exact CNF top-k: `groups` is a conjunction of disjunction-groups —
    a doc matches iff EVERY group has at least one of its terms present,
    and its score is the BM25 sum over ALL its matching terms (ascending
    term order, the pinned summation). This is the Lucene BooleanQuery
    semantics for a MUST-of-SHOULD-groups tree ((a OR b) AND c): with
    coord gone (Lucene 7+), the score of a matching doc is the plain sum
    of its matched term clauses. Each term must appear in exactly ONE
    group (the engine refuses duplicates — a duplicated clause would
    double-count in ES but not here).

    Degenerate shapes delegate: one group = score_disjunctive, all
    singleton groups = score_conjunctive (bit-identical kernels, so plans
    and rank-identity tests carry over).

    Pruning (prune=True) is block-range only, and exact: a candidate
    block of the driver group (the group with the fewest total postings —
    the Lucene lead-iterator choice) survives only if every OTHER group
    has at least one term with an overlapping block; a doc in a pruned
    block cannot satisfy that group's disjunction, so it cannot match.
    Candidate volume is bounded by the smallest group's posting count,
    the right asymptotic at web scale. `allowed`/`after`: see
    score_conjunctive.
    """
    empty = (np.zeros(0, np.int64), np.zeros(0, np.float64))
    gs: list[list[str]] = []
    for g in groups:
        pres = sorted({t for t in g if t in blocks and blocks[t].n_blocks() > 0})
        if not pres:
            return empty  # a required group with no present term
        gs.append(pres)
    if not gs:
        return empty
    if len(gs) == 1:
        return score_disjunctive(gs[0], blocks, idf, k1, b, avgdl, k,
                                 prune=prune, allowed=allowed, after=after)
    if all(len(g) == 1 for g in gs):
        return score_conjunctive([g[0] for g in gs], blocks, idf, k1, b,
                                 avgdl, k, prune=prune, allowed=allowed,
                                 after=after)

    sizes = [sum(int(blocks[t].last.size) for t in g) for g in gs]
    di = min(range(len(gs)), key=lambda i: (sizes[i], i))
    others = [g for i, g in enumerate(gs) if i != di]

    # candidates: union of the driver group's postings, block-range pruned
    cand_parts = []
    for t in gs[di]:
        tb = blocks[t]
        keep = np.ones(tb.n_blocks(), bool)
        if prune:
            for g in others:
                any_overlap = np.zeros(tb.n_blocks(), bool)
                for u in g:
                    ob = blocks[u]
                    i0 = np.searchsorted(ob.last, tb.first, side="left")
                    any_overlap |= (i0 < ob.n_blocks()) & (
                        ob.first[np.clip(i0, 0, ob.n_blocks() - 1)] <= tb.last
                    )
                keep &= any_overlap
        if keep.any():
            ids, _tfs, _dls = tb.decode_many(np.flatnonzero(keep))
            cand_parts.append(ids)
    if not cand_parts:
        return empty
    cand = np.unique(np.concatenate(cand_parts))

    # per-group disjunction masks (lookup decodes only blocks holding cand)
    all_terms = sorted({t for g in gs for t in g})
    lookups: dict[str, tuple] = {}
    mask = np.ones(cand.size, bool)
    for g in gs:
        gmask = np.zeros(cand.size, bool)
        for t in g:
            got = blocks[t].lookup(cand)
            lookups[t] = got
            gmask |= got[2]
        mask &= gmask
        if not mask.any():
            return empty
    if allowed is not None:
        mask &= _in_sorted(cand, allowed)
        if not mask.any():
            return empty

    cand = cand[mask]
    scores = np.zeros(cand.size, np.float64)
    for t in all_terms:  # pinned ascending summation order
        tfs, dls, hit = lookups[t]
        tfs, dls, hit = tfs[mask], dls[mask], hit[mask]
        if hit.any():
            scores[hit] += _score_part(tfs[hit], dls[hit], idf[t], k1, b,
                                       avgdl)
    ids = cand.astype(np.int64)
    if after is not None:
        am = _after_mask(ids, scores, after)
        ids, scores = ids[am], scores[am]
    return _topk(ids, scores, k)


def score_phrase(
    terms: list[str],
    blocks: dict[str, TermBlocks],
    idf: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    k: int,
    allowed: np.ndarray | None = None,
    after: tuple | None = None,
    slop: int = 0,
):
    """Exact phrase (match_phrase) top-k within one scoring group.
    `allowed`: optional sorted doc_id whitelist, see score_conjunctive;
    `after`: optional search_after cursor, see _after_mask.

    Lucene PhraseQuery semantics, pinned for the oracle:
    - candidates = docs containing ALL phrase terms (conjunction);
    - phrase_tf = number of positions p where term_j occurs at p+j for
      every j (exact adjacency, slop 0);
    - score = (sum of idf over the phrase's term OCCURRENCES, duplicates
      counted) * (ptf*(k1+1)) / (ptf + k1*(1-b+b*dl/avgdl)), docs with
      ptf >= 1 only. Requires an index built with store_positions=True.

    `slop > 0` (the ES match_phrase `slop` / query_string `"a b"~N`
    parameter):

    - TWO distinct terms (the dominant sloppy phrase): Lucene
      SloppyPhraseScorer semantics — OUT-OF-ORDER matches allowed within
      the slop budget over phrase positions pp_j = pos - j (an adjacent
      swap costs spread 2, so `"a b"~2` matches "b a"), and each match
      contributes Lucene's sloppyFreq weight 1/(1+spread) to phrase_tf
      (now fractional). Matches are the greedy advance-min pairs of the
      two sorted pp streams, which admit a CLOSED FORM: pair (a, b) is
      emitted iff |a-b| <= slop AND prevA(a) <= b AND prevB(b) < a
      (prev = predecessor in its own stream, -inf at the head; ties
      advance the t0 stream). One searchsorted window per t0 position —
      no per-candidate Python. Parity with the step-by-step greedy
      simulation is pinned through the oracle rank-identity tests.
    - m > 2 terms (or a repeated-term bigram, where Lucene's repeat
      machinery applies): ORDERED sloppy match, pinned as: a start p
      (an occurrence of term_0) matches iff an increasing chain
      p < q_1 < ... < q_{m-1} exists with q_j an occurrence of term_j
      and q_{m-1} <= p + (m-1) + slop; phrase_tf = number of matching
      starts, weight 1 each (greedy-minimal q_j, optimal by exchange,
      one searchsorted per slot). This remains a DOCUMENTED divergence
      from Lucene for m > 2 only.

    slop=0 runs the original adjacency kernel bit-for-bit.

    `terms` is the phrase IN ORDER (not deduped, not sorted).

    Pruning + vectorization (round 3): the conjunctive block-range keep-mask
    runs BEFORE any decode — a driver block survives only if every other
    phrase term has at least one block overlapping its doc range — so a
    head-ish phrase never pays a full decode of the rarest term's list; and
    the adjacency check is one vectorized (doc, pos) key intersection per
    phrase slot instead of a Python loop per candidate doc. Both changes are
    exact (bit-identity vs the exhaustive path is tested).
    """
    empty = (np.zeros(0, np.int64), np.zeros(0, np.float64))
    uniq = sorted(set(terms))
    if any(t not in blocks or blocks[t].n_blocks() == 0 for t in uniq):
        return empty
    # conjunction candidates via the rarest term, block-range pruned first
    sizes = {t: int(blocks[t].last.size) for t in uniq}
    driver = min(uniq, key=lambda t: (sizes[t], t))
    tb = blocks[driver]
    keep = np.ones(tb.n_blocks(), bool)
    for t in uniq:
        if t == driver:
            continue
        ob = blocks[t]
        i0 = np.searchsorted(ob.last, tb.first, side="left")
        keep &= (i0 < ob.n_blocks()) & (
            ob.first[np.clip(i0, 0, ob.n_blocks() - 1)] <= tb.last
        )
    if not keep.any():
        return empty
    cand, _tf, cand_dl = tb.decode_many(np.flatnonzero(keep))
    mask = np.ones(cand.size, bool)
    for t in uniq:
        if t == driver:
            continue
        _tfs, _dls, hit = blocks[t].lookup(cand)
        mask &= hit
        if not mask.any():
            return empty
    if allowed is not None:
        mask &= _in_sorted(cand, allowed)
    cand = cand[mask]
    cand_dl = cand_dl[mask]
    if cand.size == 0:
        return empty

    # positions only for surviving candidates; vectorized adjacency:
    # key(doc, p) = (doc - base) << 32 | p; a phrase start p in doc d
    # survives slot j iff key(d, p + j) occurs in term_j's position stream
    base = np.uint64(cand.min())
    if int(cand.max() - base) >= (1 << 32):
        # a shard_range above 2^32 would silently collide packed keys and
        # return WRONG phrase matches — fail loudly instead (config error;
        # the default shard_range is 2^20)
        raise ValueError(
            "phrase kernel: candidate doc-id span exceeds 2^32 "
            "(shard_range too large for packed (doc, pos) keys)"
        )
    flats = {t: blocks[t].positions_flat(cand) for t in uniq}
    for t, (_fd, fp) in flats.items():
        if fp.size and int(fp.max()) + len(terms) + 2 * slop >= (1 << 32):
            raise ValueError(
                "phrase kernel: token position exceeds 2^32 in packed "
                "(doc, pos) keys"
            )

    def keys(docs: np.ndarray, pos: np.ndarray) -> np.ndarray:
        return ((docs - base) << np.uint64(32)) | pos

    alive_doc, alive_pos = flats[terms[0]]
    match_docs = ptf = None
    if slop == 0:
        for j, t in enumerate(terms[1:], 1):
            if alive_doc.size == 0:
                return empty
            hit = np.isin(
                keys(alive_doc, alive_pos + np.uint64(j)), keys(*flats[t])
            )
            alive_doc, alive_pos = alive_doc[hit], alive_pos[hit]
    elif len(terms) == 2 and terms[0] != terms[1]:
        # Lucene bigram sloppy matcher (see docstring): closed-form greedy
        # pairs over shifted phrase positions a' = pos0 + slop + 1,
        # b' = (pos1 - 1) + slop + 1 — the +slop+1 shift keeps packed keys
        # unsigned and the +/-slop key window inside the doc's key block
        da, pa = flats[terms[0]]
        db, pb = flats[terms[1]]
        if da.size == 0 or db.size == 0:
            return empty
        shift = np.uint64(slop + 1)
        ka = keys(da, pa + shift)
        kb = keys(db, pb + shift - np.uint64(1))
        lo = np.searchsorted(kb, ka - np.uint64(slop))
        hi = np.searchsorted(kb, ka + np.uint64(slop), side="right")
        cnt = (hi - lo).astype(np.int64)
        tot = int(cnt.sum())
        if tot == 0:
            return empty
        av = (pa + shift).astype(np.int64)
        bv = (pb + shift - np.uint64(1)).astype(np.int64)
        prev_a = np.empty(av.size, np.int64)
        prev_a[0] = -1
        prev_a[1:] = np.where(da[1:] == da[:-1], av[:-1], -1)
        prev_b = np.empty(bv.size, np.int64)
        prev_b[0] = -1
        prev_b[1:] = np.where(db[1:] == db[:-1], bv[:-1], -1)
        rep = np.repeat(np.arange(av.size, dtype=np.int64), cnt)
        offs = np.zeros(av.size, np.int64)
        np.cumsum(cnt[:-1], out=offs[1:])
        bidx = (np.arange(tot, dtype=np.int64)
                - np.repeat(offs, cnt) + np.repeat(lo.astype(np.int64), cnt))
        a_val, b_val = av[rep], bv[bidx]
        okp = (prev_a[rep] <= b_val) & (prev_b[bidx] < a_val)
        if not okp.any():
            return empty
        w = 1.0 / (1.0 + np.abs(a_val - b_val)[okp].astype(np.float64))
        pair_docs = da[rep[okp]]
        match_docs, inv = np.unique(pair_docs, return_inverse=True)
        ptf = np.bincount(inv, weights=w)
    else:
        # ordered sloppy chain, greedy-minimal next position per slot:
        # prev tracks q_{j-1}; the next q_j is the FIRST occurrence of
        # term_j after prev in the same doc (one searchsorted against the
        # sorted key stream), feasible iff q_j <= start + j + slop
        start_pos = alive_pos
        prev = alive_pos
        for j, t in enumerate(terms[1:], 1):
            if alive_doc.size == 0:
                return empty
            tkeys = keys(*flats[t])  # sorted: docs asc, pos asc
            idx = np.searchsorted(tkeys, keys(alive_doc, prev) + np.uint64(1))
            ic = np.clip(idx, 0, max(tkeys.size - 1, 0))
            q = tkeys[ic] if tkeys.size else np.zeros(alive_doc.size, np.uint64)
            same_doc = (idx < tkeys.size) & (
                (q >> np.uint64(32)) == (alive_doc - base)
            )
            qpos = q & np.uint64(0xFFFFFFFF)
            ok = same_doc & (qpos <= start_pos + np.uint64(j + slop))
            alive_doc = alive_doc[ok]
            start_pos = start_pos[ok]
            prev = qpos[ok]
        alive_pos = start_pos
    if match_docs is None:
        if alive_doc.size == 0:
            return empty
        match_docs, ptf = np.unique(alive_doc, return_counts=True)
        ptf = ptf.astype(np.float64)
    dl = cand_dl[np.searchsorted(cand, match_docs)].astype(np.float64)

    idf_sum = float(sum(idf[t] for t in terms))  # occurrences, dups counted
    scores = idf_sum * (ptf * (k1 + 1.0)) / (
        ptf + k1 * (1.0 - b + b * dl / avgdl)
    )
    ids = match_docs.astype(np.int64)
    if after is not None:
        am = _after_mask(ids, scores, after)
        ids, scores = ids[am], scores[am]
    return _topk(ids, scores, k)


def score_phrase_prefix(
    fixed: list[str],
    alts: list[str],
    blocks: dict[str, TermBlocks],
    idf: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    k: int,
    allowed: np.ndarray | None = None,
    after: tuple | None = None,
):
    """ES match_phrase_prefix / Lucene MultiPhrasePrefixQuery: an exact
    phrase whose LAST slot matches ANY of the dictionary expansions of a
    prefix stem. Pinned semantics:

    - `fixed` = the phrase's leading terms IN ORDER (may be empty for a
      bare-prefix phrase); `alts` = the stem's expansion set, gathered
      ENGINE-side in term-dictionary order (Lucene's MultiPhrasePrefix
      rewrite takes the FIRST max_expansions terms in term order, not
      the highest-df ones — the documented ES match_phrase_prefix
      gotcha, reproduced faithfully);
    - a start position p matches iff fixed[j] occurs at p+j for every j
      and ANY alt occurs at p+len(fixed) (exact adjacency; slop is
      refused engine-side); phrase_tf = number of matching starts;
    - score = BM25 with idf_sum = sum of idf over the fixed occurrences
      PLUS sum of idf over ALL expansion terms — Lucene's
      MultiPhraseQuery/BM25Similarity convention (termStats of every
      expanded term are summed into one weight), shard-consistent
      because the full expansion list is passed to every shard.

    Same candidate pruning shape as score_phrase: conjunctive
    block-range keep-mask over the fixed terms with the alt slot's
    keep = OR over the alts' block overlaps, then one vectorized
    (doc, pos) key membership per slot (union key stream for the alt
    slot). No per-candidate Python."""
    empty = (np.zeros(0, np.int64), np.zeros(0, np.float64))
    alts_here = [a for a in alts
                 if a in blocks and blocks[a].n_blocks() > 0]
    if not alts_here:
        return empty
    uniq = sorted(set(fixed))
    if any(t not in blocks or blocks[t].n_blocks() == 0 for t in uniq):
        return empty
    if uniq:
        sizes = {t: int(blocks[t].last.size) for t in uniq}
        driver = min(uniq, key=lambda t: (sizes[t], t))
        tb = blocks[driver]
        keep = np.ones(tb.n_blocks(), bool)
        for t in uniq:
            if t == driver:
                continue
            ob = blocks[t]
            i0 = np.searchsorted(ob.last, tb.first, side="left")
            keep &= (i0 < ob.n_blocks()) & (
                ob.first[np.clip(i0, 0, ob.n_blocks() - 1)] <= tb.last
            )
        akeep = np.zeros(tb.n_blocks(), bool)
        for a in alts_here:
            ob = blocks[a]
            i0 = np.searchsorted(ob.last, tb.first, side="left")
            akeep |= (i0 < ob.n_blocks()) & (
                ob.first[np.clip(i0, 0, ob.n_blocks() - 1)] <= tb.last
            )
        keep &= akeep
        if not keep.any():
            return empty
        cand, _tf, cand_dl = tb.decode_many(np.flatnonzero(keep))
        mask = np.ones(cand.size, bool)
        for t in uniq:
            if t == driver:
                continue
            _tfs, _dls, hit = blocks[t].lookup(cand)
            mask &= hit
            if not mask.any():
                return empty
        ahit = np.zeros(cand.size, bool)
        for a in alts_here:
            _tfs, _dls, hit = blocks[a].lookup(cand)
            ahit |= hit
        mask &= ahit
    else:
        # bare-prefix phrase ('"fil*"'): candidates = union of the alts'
        # postings; phrase_tf = total alt occurrences per doc
        parts_d, parts_l = [], []
        for a in alts_here:
            d, _tf, dl = blocks[a].decode_many(
                np.arange(blocks[a].n_blocks()))
            parts_d.append(d)
            parts_l.append(dl)
        alldoc = np.concatenate(parts_d)
        alldl = np.concatenate(parts_l)
        cand, first = np.unique(alldoc, return_index=True)
        cand_dl = alldl[first]
        mask = np.ones(cand.size, bool)
    if allowed is not None:
        mask &= _in_sorted(cand, allowed)
    cand = cand[mask]
    cand_dl = cand_dl[mask]
    if cand.size == 0:
        return empty

    base = np.uint64(cand.min())
    if int(cand.max() - base) >= (1 << 32):
        raise ValueError(
            "phrase kernel: candidate doc-id span exceeds 2^32 "
            "(shard_range too large for packed (doc, pos) keys)"
        )
    m = len(fixed) + 1
    flats = {t: blocks[t].positions_flat(cand) for t in uniq}
    aparts = [blocks[a].positions_flat(cand) for a in alts_here]
    for _fd, fp in list(flats.values()) + aparts:
        if fp.size and int(fp.max()) + m >= (1 << 32):
            raise ValueError(
                "phrase kernel: token position exceeds 2^32 in packed "
                "(doc, pos) keys"
            )

    def keys(docs: np.ndarray, pos: np.ndarray) -> np.ndarray:
        return ((docs - base) << np.uint64(32)) | pos

    if fixed:
        alt_keys = np.concatenate([keys(d, p) for d, p in aparts])
        alt_keys.sort()
        alive_doc, alive_pos = flats[fixed[0]]
        for j, t in enumerate(fixed[1:], 1):
            if alive_doc.size == 0:
                return empty
            hit = np.isin(
                keys(alive_doc, alive_pos + np.uint64(j)), keys(*flats[t])
            )
            alive_doc, alive_pos = alive_doc[hit], alive_pos[hit]
        if alive_doc.size == 0:
            return empty
        hit = np.isin(
            keys(alive_doc, alive_pos + np.uint64(len(fixed))), alt_keys
        )
        alive_doc = alive_doc[hit]
    else:
        # one token per position, so distinct alts never share a start
        alive_doc = np.concatenate([d for d, _p in aparts])
        alive_doc = alive_doc[_in_sorted(alive_doc, cand)]
    if alive_doc.size == 0:
        return empty
    match_docs, ptf = np.unique(alive_doc, return_counts=True)
    ptf = ptf.astype(np.float64)
    dl = cand_dl[np.searchsorted(cand, match_docs)].astype(np.float64)

    # Lucene MultiPhraseQuery weight: fixed occurrences + ALL expansions
    idf_sum = float(sum(idf[t] for t in fixed)
                    + sum(idf[a] for a in alts))
    scores = idf_sum * (ptf * (k1 + 1.0)) / (
        ptf + k1 * (1.0 - b + b * dl / avgdl)
    )
    ids = match_docs.astype(np.int64)
    if after is not None:
        am = _after_mask(ids, scores, after)
        ids, scores = ids[am], scores[am]
    return _topk(ids, scores, k)
