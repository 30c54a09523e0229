"""Seeded workload inputs and their oracle answers.

Everything the engine receives is generated here from ``--seed``: the
pages corpus (``fixtures.pages``), the query sets and the upsert batch.
Expected answers come from the pure-Python reference engine
(``oracle.reference.OracleIndex``) and are computed before any timed call.

Doc ids: a full build gives each page the rank of its url among the build's
input urls (offset by the index's next free id for an upsert batch), so the
oracle can be keyed exactly like the engine.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from picdexer_spark.fixtures.pages import (
    PAGES_SCHEMA,
    gen_pages,
    gen_queries,
    materialize_pages,
)
from picdexer_spark.oracle.reference import OracleIndex

#: token appended to every changed or new page of the upsert stream
UPSERT_MARKER = "upsmark"


@dataclass(frozen=True)
class Spec:
    """Shape of one workload."""

    n_docs: int
    shard_range: int
    #: queries per search_batch call (one call per loop round)
    batch_size: int
    #: fewest timed loop rounds (request block + open + batch call),
    #: after one untimed warm-up round
    min_rounds: int = 3
    #: share of the base corpus in the upsert batch: changed text, new
    #: urls, exact re-deliveries (all 0: read-only workload)
    changed_share: float = 0.0
    new_share: float = 0.0
    same_share: float = 0.0


def ranked(pairs):
    """Oracle order: score desc, doc_id asc."""
    return sorted(pairs, key=lambda x: (-x[1], x[0]))


# ---- corpus ---------------------------------------------------------------

def materialize(spec: Spec, seed: int, work: str) -> tuple[str, pd.DataFrame]:
    """Write the pages fixture under `work` and return (pages dir, the
    (url, text) frame the oracle indexes)."""
    out = materialize_pages(spec.n_docs, seed=seed,
                            cache_dir=os.path.join(work, "fixtures"))
    pages = os.path.join(out, "pages")
    corpus = pq.read_table(pages, columns=["url", "text"]).to_pandas()
    return pages, corpus


def text_bytes(corpus: pd.DataFrame) -> int:
    return int(sum(len(t.encode()) for t in corpus["text"].fillna("")))


def write_pages(pdf: pd.DataFrame, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, schema=PAGES_SCHEMA, preserve_index=False)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    return path


def upsert_batch(spec: Spec, seed: int, live: dict[str, str]
                 ) -> tuple[pd.DataFrame, dict[str, str]]:
    """An upsert batch over the live corpus {url: text}: changed-text
    re-deliveries (tombstone the old doc), new urls and exact re-deliveries
    (dropped by the engine).  Returns (pages, fresh) where `fresh` maps
    every url the engine must index to its new text."""
    rng = np.random.default_rng(seed * 1000 + 17)
    urls = sorted(live)
    n = len(urls)
    n_changed = max(1, int(n * spec.changed_share))
    n_new = max(1, int(n * spec.new_share))
    n_same = max(1, int(n * spec.same_share))
    pick = rng.choice(n, size=n_changed + n_same, replace=False)
    changed = [urls[i] for i in pick[:n_changed]]
    same = [urls[i] for i in pick[n_changed:]]
    donor = gen_pages(n_changed + n_new, seed=seed * 1000 + 29)["text"]
    fresh: dict[str, str] = {}
    for i, u in enumerate(changed):
        fresh[u] = f"{donor.iat[i]} {UPSERT_MARKER}".strip()
    for j in range(n_new):
        u = f"https://upsert.example/p/{j}"
        fresh[u] = f"{donor.iat[n_changed + j]} {UPSERT_MARKER}".strip()
    rows = list(fresh.items()) + [(u, live[u]) for u in same]
    base_ts = np.datetime64("2024-06-01T00:00:00", "us")
    pdf = pd.DataFrame({
        "url": [u for u, _ in rows],
        "warc_ts": base_ts + (np.arange(len(rows)) * 1_000_000)
        .astype("timedelta64[us]"),
        "html": [None] * len(rows),
        "text": [t for _, t in rows],
        "lang": ["en"] * len(rows),
    })
    return pdf, fresh


# ---- queries --------------------------------------------------------------

def reference_queries(seed: int, n: int) -> list[dict]:
    """The gen_queries set: head/torso/rare, conj/disj, k in {1,10,100},
    an absent term."""
    return [
        {"query_id": int(r.query_id), "terms": [str(t) for t in r.terms],
         "mode": r.mode, "k": int(r.k)}
        for r in gen_queries(seed, n).itertuples()
    ]


def bulk_queries(n: int) -> list[dict]:
    """Head/torso-heavy queries with large candidate sets.  The set is the
    same on every seed (only the corpus varies): the cost of a batch this
    small depends on which head terms and k it draws, and drawing them per
    seed moved the ingest workload's batch throughput by a quarter between
    seeds."""
    rng = np.random.default_rng(43)
    out = []
    for qid in range(n):
        head = [f"w{i}" for i in rng.choice(20, size=int(rng.integers(1, 3)),
                                             replace=False)]
        torso = [f"w{i}" for i in rng.choice(
            np.arange(100, 1000), size=int(rng.integers(1, 3)), replace=False)]
        mode = "conjunctive" if qid % 4 == 3 else "disjunctive"
        out.append({"query_id": qid, "terms": head + torso, "mode": mode,
                    "k": 100 if qid % 3 == 0 else 10})
    return out


def query_string(q: dict) -> str:
    op = " AND " if q["mode"] == "conjunctive" else " OR "
    return op.join(q["terms"])


def interactive_blocks(seed: int, refs: list[dict]) -> list[list[dict]]:
    """Closed-loop request blocks.  Block b holds the five reference
    queries 5b..5b+4 (one of each gen_queries kind), the fourth sent as a
    query string, plus one `multi_match most_fields` over the text and url
    fields.  Whole blocks keep the request mix of a run fixed."""
    rng = np.random.default_rng(seed * 1000 + 61)
    blocks = []
    for b in range(len(refs) // 5):
        block = []
        for i, q in enumerate(refs[5 * b: 5 * b + 5]):
            block.append(dict(q, kind="query_string", q=query_string(q))
                         if i == 3 else dict(q, kind="search"))
        first = refs[5 * b]
        block.append({
            "terms": first["terms"][:2] + [f"site{int(rng.integers(0, 97))}"],
            "mode": "disjunctive", "k": first["k"], "kind": "multi_match"})
        blocks.append(block)
    return blocks


def open_probe(i: int) -> dict:
    """The first request after an engine open: one head term, k=10, so
    every open carries a query of the same shape."""
    return {"terms": [f"w{i % 20}"], "mode": "disjunctive", "k": 10,
            "kind": "search"}


def marker_probe() -> dict:
    """Every changed or new page of the upsert batch, nothing else."""
    return {"terms": [UPSERT_MARKER], "mode": "disjunctive", "k": 100,
            "kind": "search"}


def probe_blocks(n: int) -> list[list[dict]]:
    """Probe blocks on a tombstoned chain: two head-term queries (large
    candidate sets, many tombstoned hits) and a two-term query string."""
    blocks = []
    for b in range(n):
        block = [{"terms": [f"w{(2 * b + i) % 20}"], "mode": "disjunctive",
                  "k": 10, "kind": "search"} for i in range(2)]
        q = {"terms": [f"w{(2 * b) % 20}", f"w{(2 * b + 7) % 20}"],
             "mode": "disjunctive", "k": 10}
        block.append(dict(q, kind="query_string", q=query_string(q)))
        blocks.append(block)
    return blocks


# ---- oracle ---------------------------------------------------------------

class Oracle:
    """Expected top-k for an index over {doc_id: (url, text)}; doc ids in
    `hidden` (tombstones) take part in the statistics but never in
    results — the engine's contract before compaction."""

    def __init__(self, docs: dict[int, tuple[str, str]],
                 hidden: frozenset = frozenset(), with_url: bool = False):
        self.hidden = hidden
        self.text = OracleIndex([(d, t) for d, (_u, t) in docs.items()])
        self.url = (OracleIndex([(d, u) for d, (u, _t) in docs.items()])
                    if with_url else None)

    def _visible(self, pairs, k):
        return [p for p in pairs if p[0] not in self.hidden][:k]

    def search(self, terms, mode, k):
        if not self.hidden:
            return self.text.search(terms, mode, k)
        allhits = self.text.search(terms, mode, k + len(self.hidden))
        return self._visible(allhits, k)

    def multi_match(self, terms, k):
        """most_fields: per-doc text score + url score."""
        n = self.text.n_docs
        t = dict(self.text.search(terms, "disjunctive", n))
        u = dict(self.url.search(terms, "disjunctive", n))
        both = [(d, t.get(d, 0.0) + u[d]) if d in u else (d, t[d])
                for d in set(t) | set(u)]
        return self._visible(ranked(both), k)

    def answer(self, req: dict):
        if req.get("kind") == "multi_match":
            return self.multi_match(req["terms"], req["k"])
        return self.search(req["terms"], req["mode"], req["k"])


def ids_by_url(urls, offset: int = 0) -> dict[str, int]:
    return {u: offset + i for i, u in enumerate(sorted(urls))}


def same_ranking(got, exp, rel: float = 1e-9) -> bool:
    """Rank identity: identical doc ids in identical order, scores equal
    within `rel` (float summation order is pinned by the engine)."""
    if [d for d, _ in got] != [d for d, _ in exp]:
        return False
    return all(abs(g - e) <= rel * max(abs(e), 1e-300)
               for (_, g), (_, e) in zip(got, exp))
