"""In-process replica of a flat BM25 query: pyarrow scan + WAND kernel.

Used by the traced run only, to split a query's execute time into the
candidate scan, the scoring kernel and everything else (Spark scheduling,
exchange, the JVM/Python boundary).  It reads the snapshot's postings with
``term IN (...)``, builds ``query.wand.TermBlocks`` per (shard, term) and
calls ``score_conjunctive`` / ``score_disjunctive`` per shard, then merges
the per-shard top-k exactly like the engine (score desc, doc_id asc).
On a tombstoned chain each shard over-fetches k + its tombstone count and
the tombstoned ids are dropped before the merge, as the engine does.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from picdexer_spark.oracle.reference import B, K1
from picdexer_spark.query.bm25 import idf
from picdexer_spark.query.wand import (
    TermBlocks,
    score_conjunctive,
    score_disjunctive,
)

PAY_COLS = ["term", "shard_id", "block_no", "first_doc", "last_doc", "max_tf",
            "min_dl", "n", "doc_ids_enc", "tfs_enc", "dls_enc"]
ENC_COLS = ("doc_ids_enc", "tfs_enc", "dls_enc")


class Replica:
    def __init__(self, engine):
        self.engine = engine
        files = [
            os.path.join(d, n)
            for d in engine.cat.existing_chain_paths("postings",
                                                     engine.snapshot_id)
            for n in sorted(os.listdir(d)) if n.endswith(".parquet")
        ]
        self.dataset = ds.dataset(files, format="parquet")
        dels = [
            pq.read_table(d, columns=["doc_id"]).column("doc_id").to_numpy()
            for d in engine.cat.existing_chain_paths("deletes",
                                                     engine.snapshot_id)
        ]
        self.deleted = (np.unique(np.concatenate(dels)) if dels
                        else np.zeros(0, np.int64))
        shards, counts = np.unique(self.deleted // engine.shard_range,
                                   return_counts=True)
        self.tomb_counts = dict(zip(shards.tolist(), counts.tolist()))

    def run(self, terms: list[str], mode: str, k: int) -> dict:
        """Top-k plus scan/kernel counters for one flat query."""
        eng = self.engine
        uniq = sorted(set(terms))
        dfs = eng.term_dfs(uniq)
        present = [t for t in uniq if t in dfs]
        out = {"hits": [], "read_s": 0.0, "kernel_s": 0.0, "rows": 0,
               "bytes": 0, "files": 0}
        if not present or (mode == "conjunctive" and len(present) < len(uniq)):
            return out
        idf_map = {t: idf(eng.n_docs_scoring, dfs[t]) for t in present}
        expr = pc.field("term").isin(present)

        t0 = time.perf_counter()
        table = self.dataset.to_table(columns=PAY_COLS, filter=expr)
        out["read_s"] = time.perf_counter() - t0
        out["rows"] = table.num_rows
        out["bytes"] = int(sum(
            pc.sum(pc.binary_length(table[c])).as_py() or 0
            for c in ENC_COLS))
        out["files"] = sum(
            1 for frag in self.dataset.get_fragments()
            if frag.split_by_row_group(filter=expr))

        pdf = table.to_pandas().sort_values(["shard_id", "term", "block_no"])
        kernel = score_conjunctive if mode == "conjunctive" else score_disjunctive
        ids_all, sc_all = [], []
        t0 = time.perf_counter()
        for shard, g in pdf.groupby("shard_id", sort=True):
            blocks = {
                t: TermBlocks(
                    tg["first_doc"].to_numpy(np.int64),
                    tg["last_doc"].to_numpy(np.int64),
                    tg["max_tf"].to_numpy(np.int64),
                    tg["min_dl"].to_numpy(np.int64),
                    list(zip(*(tg[c] for c in ENC_COLS))),
                    n=tg["n"].to_numpy(np.int64),
                )
                for t, tg in g.groupby("term", sort=False)
            }
            k_eff = k + self.tomb_counts.get(int(shard), 0)
            ids, scores = kernel(present, blocks, idf_map, K1, B,
                                 eng.avgdl_scoring, k_eff)
            ids = np.asarray(ids, np.int64)
            live = ~np.isin(ids, self.deleted)
            ids_all.append(ids[live])
            sc_all.append(np.asarray(scores, np.float64)[live])
        out["kernel_s"] = time.perf_counter() - t0
        if ids_all:
            ids = np.concatenate(ids_all)
            sc = np.concatenate(sc_all)
            order = np.lexsort((ids, -sc))[:k]
            out["hits"] = [(int(ids[i]), float(sc[i])) for i in order]
        return out
