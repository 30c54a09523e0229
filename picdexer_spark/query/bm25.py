"""Distributed BM25 top-k search over the postings table.

The query-side analogue of ES `_search` that the reference's Kibana saved
objects issue (reference: internal/setup/assets/kibana.ndjson:1,8 — analyzed
`text` fields scored with BM25, `_score` field) — what Lucene does for the
reference deployment, re-expressed as a Spark plan:

  postings.filter(term IN q)        -- parquet row-group pruning: postings
                                       are range-partitioned+sorted by term,
                                       so non-matching row groups never load
    .groupBy(shard_id)              -- shuffle of CANDIDATE blocks only
    .applyInPandas(score_shard)     -- exact block-max top-k per doc-range
                                       shard (query/wand.py); per-shard top-k
                                       is sufficient: global top-k is a
                                       subset of the union of shard top-ks
    .orderBy(score desc, doc_id)    -- TakeOrdered k (driver merge)

Global statistics (N, avgdl, per-term global df) come from the tiny
stats/term_stats tables — a <=|q|-row collect broadcast into the UDF closure,
the broadcast-small-dim pattern.

BM25 spec pinned in oracle/reference.py; k1=1.2 b=0.75 (ES defaults).
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from picdexer_spark.oracle.reference import B, K1
from picdexer_spark.query.wand import (
    TermBlocks,
    field_match_scores,
    score_conjunctive,
    score_disjunctive,
    score_groups,
    score_phrase,
    score_phrase_prefix,
    score_synonyms,
)
from picdexer_spark.sources.catalog import URL_FIELD_NS, IndexCatalog

RESULT_SCHEMA = "doc_id long, score double"


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def levenshtein_capped(a: str, b: str, maxd: int) -> int:
    """CLASSIC edit distance (no transpositions), or maxd+1 as soon as the
    row minimum exceeds `maxd` (the banded early abandon). Kept as the
    reference for the JVM `levenshtein(a, b, threshold)` built-in the
    distributed fuzzy PREFILTER runs on; ranking semantics are
    :func:`damerau_capped`."""
    la, lb = len(a), len(b)
    if abs(la - lb) > maxd:
        return maxd + 1
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        ca = a[i - 1]
        cur = [i] + [0] * lb
        best = i
        for j in range(1, lb + 1):
            c = min(prev[j] + 1, cur[j - 1] + 1,
                    prev[j - 1] + (ca != b[j - 1]))
            cur[j] = c
            if c < best:
                best = c
        if best > maxd:
            return maxd + 1
        prev = cur
    return prev[lb] if prev[lb] <= maxd else maxd + 1


def damerau_capped(a: str, b: str, maxd: int) -> int:
    """OSA (optimal-string-alignment) edit distance capped at maxd+1 — the
    Lucene FuzzyQuery default (transpositions=true): an adjacent swap
    costs ONE edit, and a transposed pair is never edited again (OSA, not
    unrestricted Damerau — Lucene's Schulz-Mihov automata are OSA-shaped).
    `baord~1` finds `board` here, matching ES fuzziness."""
    la, lb = len(a), len(b)
    if abs(la - lb) > maxd:
        return maxd + 1
    prev2: list[int] | None = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        ca = a[i - 1]
        cur = [i] + [0] * lb
        best = i
        for j in range(1, lb + 1):
            c = min(prev[j] + 1, cur[j - 1] + 1,
                    prev[j - 1] + (ca != b[j - 1]))
            if i > 1 and j > 1 and ca == b[j - 2] and a[i - 2] == b[j - 1]:
                c = min(c, prev2[j - 2] + 1)
            cur[j] = c
            if c < best:
                best = c
        if best > maxd:
            return maxd + 1
        prev2, prev = prev, cur
    return prev[lb] if prev[lb] <= maxd else maxd + 1


def osa_distances(term: str, mat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Vectorized OSA distance from `term` to EVERY row of `mat` (an int32
    char-code matrix, rows zero-padded; true lengths in `lens`). The two
    Python loops run over the query length x the max candidate length
    (both tiny); every inner operation is one numpy vector op across the
    whole candidate axis — no per-term Python, the driver-cache fuzzy
    path at vocabulary scale. Parity with :func:`damerau_capped` is
    pytest-pinned."""
    n, max_l = mat.shape
    if n == 0 or not term:
        return np.full(n, max(len(term), max_l), dtype=np.int32)
    q = np.array([term]).view(np.int32)  # UCS4 code points
    m = len(q)
    prev = np.broadcast_to(
        np.arange(max_l + 1, dtype=np.int32), (n, max_l + 1)
    ).copy()
    prev2: np.ndarray | None = None
    for i in range(1, m + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        qi = q[i - 1]
        eq = mat == qi  # (n, max_l)
        for j in range(1, max_l + 1):
            c = np.minimum(prev[:, j] + 1,
                           prev[:, j - 1] + (~eq[:, j - 1]))
            np.minimum(c, cur[:, j - 1] + 1, out=c)
            if i > 1 and j > 1:
                # a[i-1]==b[j-2] (eq col j-2) and a[i-2]==b[j-1]
                tr = eq[:, j - 2] & (mat[:, j - 1] == q[i - 2])
                c = np.where(tr, np.minimum(c, prev2[:, j - 2] + 1), c)
            cur[:, j] = c
        prev2, prev = prev, cur
    return prev[np.arange(n), lens]


def _blocks_from_pdf(pdf: pd.DataFrame) -> dict[str, TermBlocks]:
    blocks: dict[str, TermBlocks] = {}
    has_n = "n" in pdf.columns
    for t, g in pdf.groupby("term", sort=False):
        blocks[t] = TermBlocks(
            g["first_doc"].to_numpy(np.int64),
            g["last_doc"].to_numpy(np.int64),
            g["max_tf"].to_numpy(np.int64),
            g["min_dl"].to_numpy(np.int64),
            list(zip(g["doc_ids_enc"], g["tfs_enc"], g["dls_enc"])),
            pos_enc=(list(g["pos_enc"]) if "pos_enc" in g.columns else None),
            # per-block posting counts enable the one-pass vectorized
            # decode (segmented decode over concatenated buffers)
            n=(g["n"].to_numpy(np.int64) if has_n else None),
        )
    return blocks


@dataclass
class QuerySpec:
    """One compiled scoring query — the driver-side metadata a per-shard
    kernel needs. The public query methods compile to this; the scoring
    pipeline (``SearchEngine._candidates`` -> ``_execute`` -> ``_merge``)
    consumes it."""

    #: kernel mode (see :func:`_score_blocks`)
    mode: str
    #: the scanned (dictionary-present, field-namespaced) terms; for the
    #: flat modes the deduped ascending set the kernels score. Empty =
    #: the query has no terms (match_all for the filtered callers)
    terms: list[str]
    idf_map: dict[str, float]
    avgdl: float
    k: int
    #: phrase terms in query order (phrase / phrase_prefix modes)
    ordered: list[str] | None = None
    #: scored-field posting namespace ("" = the content field)
    ns: str = ""
    after: tuple | None = None
    slop: int = 0
    msm: int = 1
    #: CNF groups (mode groups) or [(rep, members)] classes (synonyms)
    groups: list | None = None
    #: stem expansions of a phrase_prefix query
    alts: list[str] | None = None
    prune: bool = True

    @property
    def positions(self) -> bool:
        """Whether the kernel needs the positional payload."""
        return self.mode in ("phrase", "phrase_prefix")


def _score_blocks(spec: QuerySpec, blocks, k_eff, allowed=None):
    args = (blocks, spec.idf_map, K1, B, spec.avgdl, k_eff)
    if spec.mode == "groups":
        return score_groups(spec.groups, *args, prune=spec.prune,
                            allowed=allowed, after=spec.after)
    if spec.mode in ("synonyms", "synonyms_conj"):
        # `groups` carries [(rep, members)] synonym classes; idf keyed
        # by rep with BLENDED df (max over members) — see score_synonyms
        return score_synonyms(
            spec.groups, *args,
            mode=("conjunctive" if spec.mode == "synonyms_conj"
                  else "disjunctive"),
            allowed=allowed, after=spec.after)
    if spec.mode == "conjunctive":
        return score_conjunctive(spec.terms, *args, prune=spec.prune,
                                 allowed=allowed, after=spec.after)
    if spec.mode == "phrase":
        return score_phrase(spec.ordered, *args, allowed=allowed,
                            after=spec.after, slop=spec.slop)
    if spec.mode == "phrase_prefix":
        return score_phrase_prefix(spec.ordered, spec.alts, *args,
                                   allowed=allowed, after=spec.after)
    return score_disjunctive(spec.terms, *args, prune=spec.prune,
                             allowed=allowed, after=spec.after,
                             msm=spec.msm)


def _make_shard_scorer(spec: QuerySpec, tomb_counts: dict[int, int]):
    """Per-shard exact top-k_eff scorer ``(blocks pdf, allowed) -> (doc_id,
    score)``.

    Unfiltered (`allowed` None): `tomb_counts` maps shard_id -> its
    tombstone COUNT (metadata-sized): each shard over-fetches
    k + |its tombstones|, and the merge anti-joins the chained `deletes`
    table afterwards — EXACT, because any live doc in a shard's true top-k
    sits within the top-(k + |shard tombstones|) of its unfiltered ranking.
    The tombstone IDS never leave the cluster (no driver collect).

    Filtered (`allowed`, the shard's sorted doc-id whitelist): applied
    INSIDE the kernels before top-k selection (a post-filter over a top-k
    would be inexact for selective filters). The whitelist comes from the
    LIVE docs view, so no over-fetch is needed."""

    def score_shard(pdf: pd.DataFrame, allowed) -> pd.DataFrame:
        k_eff = spec.k
        if allowed is None:
            k_eff += tomb_counts.get(int(pdf["shard_id"].iat[0]), 0)
        ids, scores = _score_blocks(spec, _blocks_from_pdf(pdf), k_eff,
                                    allowed)
        return pd.DataFrame({"doc_id": ids, "score": scores})

    return score_shard


#: sessions whose broadcast/agg execution machinery has been warmed (keyed
#: by applicationId — one warmup per Spark application, not per engine)
_WARMED_APPS: set[str] = set()


def _warm_exec_paths(spark: SparkSession) -> None:
    """One ~0.2 s literal-data job that exercises BroadcastExchange +
    HashAggregate once per session. The FIRST broadcast exchange of a
    session pays ~1.2 s of one-time machinery (broadcast thread pool,
    join codegen) and the first hash aggregate ~0.4 s — measured landing
    inside the first search_batch / multi_match call of every session.
    Warming here moves that cost out of query latency. No table data is
    read; nothing is cached."""
    key = spark.sparkContext.applicationId
    if key in _WARMED_APPS:
        return
    _WARMED_APPS.add(key)
    try:
        a = spark.createDataFrame([(1, "x")], "id long, v string")
        b = spark.createDataFrame([(2, "x")], "k long, v string")
        (
            b.join(F.broadcast(a), "v")
            .groupBy("v").agg(F.count("*").alias("n"))
            .collect()
        )
    except Exception:
        pass  # warmup must never fail an engine construction


class SearchEngine:
    """BM25 top-k query engine bound to one committed index snapshot."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 snapshot_id: str | None = None,
                 preload_stats_max_terms: int = 200_000,
                 analyzed_fields: tuple[str, ...] = ("url",),
                 synonyms: list[list[str]] | None = None):
        self.spark = spark
        #: query-time synonym equivalence classes (the ES search_analyzer
        #: `synonym_graph` filter): bare flat query strings route through
        #: SynonymQuery blending (search_synonyms) when a term belongs
        #: to a class; unsupported shapes REFUSE rather than silently
        #: dropping the synonym (see search_query_string)
        from picdexer_spark.functions.analysis import synonym_classes
        self._syn_groups = [list(g) for g in (synonyms or [])]
        self._syn_classes = synonym_classes(synonyms)
        #: string fields mapped text + .keyword (the reference's ES mapping
        #: makes every string field a multi-field, picdexer.json:7-96): a
        #: `field:value` qualifier on these ANALYZES the value — unquoted =
        #: match (any token), quoted = match_phrase — while `field.keyword:
        #: value` stays exact. Non-listed string fields are keyword-only.
        self.analyzed_fields = frozenset(analyzed_fields)
        self.cat = IndexCatalog(index_dir)
        self.snapshot_id = snapshot_id or self.cat.current_snapshot()
        self.postings = self.cat.read(spark, "postings", self.snapshot_id)
        self.term_stats = self.cat.read(spark, "term_stats", self.snapshot_id)
        # stats is a 1-row driver-written table: read it driver-side
        # (pyarrow) instead of paying a Spark job per engine construction;
        # object-store layouts fall back to the distributed read
        st_d = None
        try:
            sp = self.cat.nearest_table_path("stats", self.snapshot_id)
            if sp is not None:
                st_d = self.cat.read_arrow(sp).to_pylist()[0]
        except Exception:
            st_d = None
        if st_d is None:
            st_d = self.cat.read(
                spark, "stats", self.snapshot_id).first().asDict()
        self.n_docs = int(st_d["n_docs"])
        self.avgdl = float(st_d["avgdl"])
        self.shard_range = shard_range = int(
            st_d.get("shard_range") or (1 << 20)
        )
        #: every assigned doc id sits below shard_range -> the whole index
        #: is ONE shard, and the per-shard kernels' groupBy(shard_id)
        #: exchange would co-locate candidates that already end up in a
        #: single task: the flat query paths then skip the shuffle
        #: entirely (coalesce into one task — guide "remove shuffles
        #: outright"). Multi-shard indexes keep the exchange, which IS
        #: their scoring parallelism.
        self._single_shard = (
            0 < int(st_d.get("next_doc_id") or 0) <= shard_range
        )
        #: whether the snapshot chain stores positional postings (phrase
        #: queries are refused DRIVER-side otherwise — not as an opaque
        #: executor stack trace)
        self.has_positions = bool(st_d.get("positions") or False)
        #: the index-time stop set (functions/analysis.py) — analyzed
        #: query paths re-apply it so a stopword query term vanishes
        #: (the ES analyzed-away contract) instead of matching nothing
        #: or, worse, failing a conjunction
        self.stopwords: tuple[str, ...] = tuple(
            (st_d.get("stopwords") or "").split()
        )
        # tombstones (upserted/deleted docs) stay DISTRIBUTED: only the
        # per-shard COUNTS come to the driver (metadata-sized — one row per
        # shard with tombstones). Each shard scorer over-fetches
        # k + |its tombstones|; the results are then anti-joined against the
        # chained `deletes` table (broadcast — tombstone volume is bounded
        # by compaction cadence) — exact, with zero collect of ids.
        self.deletes = self.cat.read(spark, "deletes", self.snapshot_id) \
            .select("doc_id")
        # a chain with no upsert/delete snapshots provably has no
        # tombstones — skip the counting job entirely (it was a full Spark
        # job over an empty frame, ~0.3 s of every engine construction)
        if not self.cat.existing_chain_paths("deletes", self.snapshot_id):
            self._tomb_counts: dict[int, int] = {}
        else:
            self._tomb_counts = {
                int(r["s"]): int(r["c"])
                for r in self.deletes.groupBy(
                    F.expr(f"doc_id div {shard_range}").alias("s")
                ).agg(F.count("*").alias("c")).collect()
            }
        # SCORING statistics pair with the AS-BUILT per-term df (which
        # counts tombstoned docs until compact), so N and avgdl must also
        # include tombstoned docs — Lucene's maxDoc/sumTotalTermFreq
        # contract. Pairing live N with as-built df goes NEGATIVE-idf
        # after a mass delete (df > N), inverting every block-max upper
        # bound and breaking pruning exactness. Live stats (self.n_docs /
        # self.avgdl) remain what dashboards and aggs report.
        self.n_docs_scoring = self.n_docs
        self.avgdl_scoring = self.avgdl
        # per-field statistics for the url text field (round 5): live for
        # dashboards, tombstone-adjusted below for scoring — the same
        # maxDoc/sumTotalTermFreq contract as the content field
        self.has_url_field = bool(st_d.get("url_field") or False)
        self.url_n_docs = int(st_d.get("url_n_docs") or 0)
        self.url_total_len = int(st_d.get("url_total_len") or 0)
        self.url_avgdl = (
            self.url_total_len / self.url_n_docs if self.url_n_docs else 0.0
        )
        self.url_n_docs_scoring = self.url_n_docs
        self.url_avgdl_scoring = self.url_avgdl
        #: per-field posting tables (Lucene's per-field terms dictionary):
        #: url blocks live apart so content scans never read past them
        self.postings_url = (
            self.cat.read(spark, "postings_url", self.snapshot_id)
            if self.has_url_field else None
        )
        n_tomb_total = sum(self._tomb_counts.values())
        if n_tomb_total:
            from picdexer_spark.functions.tokenize import tokens_col

            ulen = F.size(tokens_col("url")).cast("long")
            trow = (
                self.cat.read(spark, "docs", self.snapshot_id)
                .join(self.deletes, "doc_id", "semi")
                .agg(
                    F.coalesce(F.sum("doc_len"), F.lit(0)).alias("s"),
                    F.coalesce(F.sum(ulen), F.lit(0)).alias("us"),
                    F.count(F.when(ulen > 0, F.lit(1))).alias("un"),
                )
                .first()
            )
            tomb_len = int(trow["s"])
            self.n_docs_scoring = self.n_docs + n_tomb_total
            self.avgdl_scoring = (
                (int(st_d["total_len"]) + tomb_len) / self.n_docs_scoring
            )
            if self.has_url_field:
                self.url_n_docs_scoring = self.url_n_docs + int(trow["un"])
                if self.url_n_docs_scoring:
                    self.url_avgdl_scoring = (
                        (self.url_total_len + int(trow["us"]))
                        / self.url_n_docs_scoring
                    )
        # small vocabularies: pull df stats to the driver once, saving one
        # Spark job per query; a web-scale vocab (hundreds of millions of
        # terms) stays a distributed filtered lookup. The footer row count
        # gates the pull and the pull itself is a driver-side pyarrow read
        # (no Spark job — term_stats is written by the nearest-ancestor
        # snapshot as a handful of files); non-POSIX layouts fall back to
        # the distributed limit+collect.
        self._df_cache: dict[str, int] | None = None
        try:
            tsp = self.cat.nearest_table_path("term_stats", self.snapshot_id)
            if tsp is not None and (
                self.cat.parquet_num_rows(tsp) <= preload_stats_max_terms
            ):
                tbl = self.cat.read_arrow(tsp, columns=["term", "df"])
                self._df_cache = dict(zip(
                    tbl.column("term").to_pylist(),
                    (int(v) for v in tbl.column("df").to_pylist()),
                ))
        except Exception:
            self._df_cache = None
        if self._df_cache is None:
            head = self.term_stats.select("term", "df").limit(
                preload_stats_max_terms + 1
            ).collect()
            if len(head) <= preload_stats_max_terms:
                self._df_cache = {r["term"]: int(r["df"]) for r in head}
        _warm_exec_paths(spark)

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], RESULT_SCHEMA)

    def _require_positions(self, what: str = "phrase search") -> None:
        """Refuse a positional query driver-side on an index without
        positional postings (not as an opaque executor stack trace)."""
        if not self.has_positions:
            raise ValueError(
                f"{what} needs an index built with store_positions=True "
                "(this snapshot has positions=False)")

    def _candidates(self, terms: list[str], ns: str = "",
                    positions: bool = False) -> DataFrame:
        """The candidate posting blocks of `terms` in field namespace `ns`:
        a `term IN (...)` scan pushed to the term-sorted parquet (row-group
        and bloom pruned) carrying the kernels' payload columns — the
        positional payload only when the kernel needs it."""
        cols = ["term", "shard_id", "first_doc", "last_doc", "max_tf",
                "min_dl", "n", "doc_ids_enc", "tfs_enc", "dls_enc"]
        if positions:
            cols.append("pos_enc")
        src = self.postings_url if ns else self.postings
        return src.filter(F.col("term").isin(terms)).select(*cols)

    def _execute(self, cand: DataFrame, kernel,
                 allowed: DataFrame | None = None,
                 out_schema: str = RESULT_SCHEMA) -> DataFrame:
        """Run a per-shard kernel ``kernel(blocks_pdf, allowed)`` over the
        candidate blocks — the ONE place a scoring executor is chosen:

        - `allowed` (a DataFrame[doc_id] whitelist) given: the candidate
          blocks and the whitelist COGROUP by shard; the kernel gets the
          shard's sorted uint64 doc ids (bounded per task by shard_range,
          never collected);
        - single-shard index (see _single_shard): the whole candidate set
          in one task WITHOUT the exchange (coalesce is a narrow
          dependency — no shuffle write/read, one Spark stage instead of
          two); row-identical because the one group applyInPandas would
          form IS the whole frame. The cost: coalesce(1) also folds the
          postings SCAN into that one task, so a large single-shard
          candidate set scans serially. The planned fix is choosing the
          executor by candidate size (ROADMAP.md, open item 3); a
          repartition(1) would add an exchange to every small query;
        - otherwise groupBy(shard_id).applyInPandas — the exchange is the
          scoring parallelism."""
        if allowed is not None:
            allowed = allowed.select(
                F.expr(f"doc_id div {self.shard_range}").alias("shard_id"),
                "doc_id",
            )

            def shard_allowed(left: pd.DataFrame,
                              right: pd.DataFrame) -> pd.DataFrame:
                if len(left) == 0 or len(right) == 0:
                    return pd.DataFrame()
                return kernel(left,
                              np.sort(right["doc_id"].to_numpy(np.uint64)))

            return (
                cand.groupBy("shard_id")
                .cogroup(allowed.groupBy("shard_id"))
                .applyInPandas(shard_allowed, out_schema)
            )
        if not self._single_shard:
            def shard(pdf: pd.DataFrame) -> pd.DataFrame:
                return kernel(pdf, None)

            return cand.groupBy("shard_id").applyInPandas(shard, out_schema)

        def one_shard(batches):
            chunks = [c for c in batches if len(c)]
            if chunks:
                yield kernel(pd.concat(chunks, ignore_index=True), None)

        return cand.coalesce(1).mapInPandas(one_shard, out_schema)

    def _merge(self, per_shard: DataFrame, k: int | None,
               live: bool = False) -> DataFrame:
        """Drop tombstoned docs distributed-side (`deletes` stays a DF;
        broadcast anti-join, never collected — skipped when the scored set
        was already restricted to a `live` whitelist), then the global
        top-k (score desc, doc_id asc). `k` None keeps the full set."""
        if self._tomb_counts and not live:
            per_shard = per_shard.join(
                F.broadcast(self.deletes), "doc_id", "left_anti"
            )
        if k is None:
            return per_shard
        return per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _score(self, spec: QuerySpec, allowed: DataFrame | None = None,
               top: bool = True) -> DataFrame:
        """The scoring pipeline: candidates -> per-shard kernel -> merge.
        `allowed`: a LIVE doc-id whitelist (see :meth:`_execute`); `top`
        False returns the full per-shard result (no global top-k)."""
        cand = self._candidates(spec.terms, spec.ns, spec.positions)
        per_shard = self._execute(
            cand, _make_shard_scorer(spec, self._tomb_counts), allowed)
        return self._merge(per_shard, spec.k if top else None,
                           live=allowed is not None)

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        if self._df_cache is not None:
            return {t: self._df_cache[t] for t in terms if t in self._df_cache}
        rows = (
            self.term_stats.filter(F.col("term").isin(list(terms)))
            .select("term", "df")
            .collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    def _idf_map(self, present: list[str], dfs: dict[str, int],
                 n_docs_sc: int, ns: str,
                 boosts: dict[str, float] | None) -> dict[str, float]:
        """Per-term idf, with optional `term^N` boosts folded in (keys
        are UN-namespaced analyzed terms; the map is applied after field
        namespacing so callers never see the namespace)."""
        if not boosts:
            return {t: idf(n_docs_sc, dfs[t]) for t in present}
        bm = {ns + t: float(b) for t, b in boosts.items()} if ns \
            else {t: float(b) for t, b in boosts.items()}
        for t, b in bm.items():
            if not (b > 0.0):
                raise ValueError(f"boost must be > 0 ({t!r}: {b})")
        out = {}
        for t in present:
            v = idf(n_docs_sc, dfs[t])
            if t in bm:
                v = v * bm[t]
            out[t] = v
        return out

    def _field_stats(self, field: str | None) -> tuple[str, int, float]:
        """(term namespace, n_docs_scoring, avgdl_scoring) for a SCORED
        field. The content field is the default; `url` resolves to the
        `\\x1furl\\x1f` posting namespace with the field's own docCount
        and average length (Lucene per-field statistics — ES scores each
        text field of a multi-field mapping independently)."""
        if field in (None, "text"):
            return "", self.n_docs_scoring, self.avgdl_scoring
        if field == "url":
            if not self.has_url_field:
                raise ValueError(
                    "this snapshot was built without url-field postings "
                    "(IndexConfig.index_url_field)"
                )
            return (URL_FIELD_NS, self.url_n_docs_scoring,
                    self.url_avgdl_scoring)
        raise ValueError(
            f"unknown scored field {field!r} (scored fields: text, url)"
        )

    def _prepare(
        self,
        terms: list[str],
        mode: str,
        k: int,
        prune: bool = True,
        after: tuple | None = None,
        groups: list[list[str]] | None = None,
        slop: int = 0,
        min_should_match: int | str = 1,
        field: str | None = None,
        boosts: dict[str, float] | None = None,
        stats_override: tuple[dict, int, float] | None = None,
    ) -> QuerySpec | None:
        """Validate and normalize a query of the :meth:`search` family
        (:meth:`search`, :meth:`search_filtered`, :meth:`match_ids`) into
        a QuerySpec. None = the query provably matches nothing (a required
        term or group is absent from the dictionary, or the msm is
        unsatisfiable); a spec with empty `terms` = the query has no terms
        at all (match_all for the filtered callers)."""
        if after is not None:
            after = (float(after[0]), int(after[1]))
        if slop < 0 or (slop and mode != "phrase"):
            raise ValueError("slop is only valid (>= 0) for phrase queries")
        # ES bool minimum_should_match: >= m of the should terms must
        # match; score stays the BM25 sum over ALL matched terms (Lucene
        # MinShouldMatchSumScorer). Only meaningful on a disjunction —
        # conj/phrase/groups already encode their own match requirement.
        # A str is the full ES spec grammar ("75%", "-2", "3<90%", ...)
        # resolved against the unique-term clause count.
        if isinstance(min_should_match, str):
            from picdexer_spark.query.parser import parse_min_should_match
            min_should_match = parse_min_should_match(
                min_should_match, len(set(terms)))
        if min_should_match < 1:
            raise ValueError("min_should_match must be >= 1")
        if min_should_match > 1 and mode != "disjunctive":
            raise ValueError(
                "min_should_match only applies to disjunctive queries")
        # field-scoped scoring: namespace the terms up front — everything
        # downstream (df lookups, kernels, pruning) is namespace-blind
        ns, n_docs_sc, avgdl_sc = self._field_stats(field)
        if stats_override is not None:
            if field not in (None, "text"):
                raise ValueError(
                    "stats_override applies to the content field only")
            _, n_docs_sc, avgdl_sc = stats_override
        if ns:
            terms = [ns + t for t in terms]
            if groups is not None:
                groups = [[ns + t for t in g] for g in groups]
        if (groups is not None) != (mode == "groups"):
            raise ValueError("`groups` is required for (exactly) mode='groups'")
        if mode == "groups":
            groups = [sorted(set(g)) for g in groups if g]
            if not groups:
                return None
            flat = [t for g in groups for t in g]
            if len(flat) != len(set(flat)):
                raise ValueError(
                    "a term may appear in only one boolean group"
                )
            terms = flat
        if mode not in ("conjunctive", "disjunctive", "phrase", "groups"):
            raise ValueError(f"unknown mode {mode!r}")
        if mode == "phrase":
            self._require_positions()
        uniq = sorted(set(terms))
        if not uniq:
            return QuerySpec(mode, [], {}, avgdl_sc, k, after=after)
        dfs = self.term_dfs(uniq)
        if mode in ("conjunctive", "phrase") and any(
            t not in dfs for t in uniq
        ):
            return None  # a required term matches nothing
        if mode == "groups":
            gpres = [[t for t in g if t in dfs] for g in groups]
            if any(not g for g in gpres):
                return None  # a required group matches nothing
            # degenerate shapes -> the flat kernels (identical plans)
            if len(gpres) == 1:
                mode, groups = "disjunctive", None
            elif all(len(g) == 1 for g in gpres):
                mode, groups = "conjunctive", None
                uniq = sorted(g[0] for g in gpres)
            else:
                groups = gpres
        present = [t for t in uniq if t in dfs]
        # a doc can only match PRESENT terms, so msm > |present| is
        # unsatisfiable (ES: an absent optional clause never matches)
        if not present or min_should_match > len(present):
            return None
        if stats_override is None:
            idf_dfs = dfs
        else:
            missing = [t for t in present if t not in stats_override[0]]
            if missing:
                raise ValueError(
                    f"stats_override carries no df for {missing} — the "
                    "coordinator must pre-collect every scored term")
            idf_dfs = {t: stats_override[0][t] for t in present}
        return QuerySpec(
            mode, present,
            self._idf_map(present, idf_dfs, n_docs_sc, ns, boosts),
            avgdl_sc, k,
            # phrase scoring needs the original term ORDER
            ordered=list(terms) if mode == "phrase" else present,
            ns=ns, after=after, slop=slop, msm=min_should_match,
            groups=groups, prune=prune,
        )

    def search(
        self,
        terms: list[str],
        mode: str = "disjunctive",
        k: int = 10,
        prune: bool = True,
        after: tuple | None = None,
        groups: list[list[str]] | None = None,
        slop: int = 0,
        min_should_match: int | str = 1,
        field: str | None = None,
        boosts: dict[str, float] | None = None,
        stats_override: tuple[dict, int, float] | None = None,
    ) -> DataFrame:
        """Top-k (doc_id, score), globally ordered (score desc, doc_id asc).

        `stats_override`: optional (dfs, n_docs, avgdl) replacing this
        index's OWN scoring statistics — the coordinator hook
        ``search_indices(stats="dfs_query_then_fetch")`` uses to score
        every index with globally blended numbers (exactly ES's DFS
        pre-phase: collect df/docCount across shards, then score with the
        blend). Term PRESENCE still gates locally — a term this index
        never saw matches nothing here regardless of its global df.
        Content field only (per-field DFS blending is not defined).

        `boosts`: optional per-term weight map (analyzed term -> boost,
        the Lucene BoostQuery / query_string `term^N` construct). A
        boosted term's contribution is `boost * idf * tf_norm` — the
        boost folds into the term's idf BEFORE the kernels run, so every
        block upper bound inherits it and pruning stays exact. Terms
        absent from the map weigh 1.0; boosts must be > 0.

        mode "phrase": `terms` is the phrase IN ORDER; docs must contain
        the exact adjacent sequence (Lucene match_phrase, slop 0 — needs an
        index built with store_positions=True).

        `after`: optional (score, doc_id) search_after cursor — the last
        row of the previous page; returns the next k strictly after it in
        rank order (the ES deep-pagination contract: every page costs
        O(k) per shard, never O(offset+k) — the cursor filters INSIDE the
        shard kernels before top-k selection, pruning stays exact).

        mode "groups": `groups` is a CNF list of disjunction-groups —
        a doc matches iff every group has >=1 matching term; score = BM25
        sum over all matched terms (the Lucene MUST-of-SHOULD-groups
        semantics, see wand.score_groups). A term may appear in only ONE
        group (a duplicated clause would double-count in ES but not
        here — refused, not guessed). Degenerate shapes reduce to the
        flat modes so their plans and latencies are identical."""
        spec = self._prepare(terms, mode, k, prune, after, groups, slop,
                             min_should_match, field, boosts, stats_override)
        if spec is None or not spec.terms:
            return self._empty()
        return self._score(spec)

    def search_synonyms(
        self,
        terms: list[str],
        synonyms: list[list[str]],
        mode: str = "disjunctive",
        k: int = 10,
        field: str | None = None,
    ) -> DataFrame:
        """Top-k with QUERY-TIME synonym expansion — each query term
        belonging to an equivalence class scores as Lucene's
        `SynonymQuery`: one blended clause with tf = sum of member tfs
        per doc and df = max member df (never a bool-OR of members,
        which would double-count idf for docs containing several).
        `synonyms` is the analyzer config's equivalence-class list
        (functions/analysis.py — ES `synonym_graph` filter, query-time
        as ES's own docs recommend); terms outside any class are
        singleton clauses, so with `synonyms=[]` this bit-matches
        :meth:`search`. Two query terms of the same class collapse to
        one clause (the analyzer emits one SynonymQuery per position
        set). `mode`: disjunctive (any clause) or conjunctive (every
        clause — a bool MUST of SynonymQuery clauses).

        Scale shape: identical to :meth:`search` — the candidate scan
        is `term IN (all members)` (bloom + row-group pruned), the
        per-shard kernel is score_synonyms' bulk path, results reduce
        to one k-row driver merge."""
        from picdexer_spark.functions.analysis import synonym_classes

        if mode not in ("disjunctive", "conjunctive"):
            raise ValueError(f"unknown mode {mode!r}")
        cls_map = synonym_classes(synonyms)
        ns, n_docs_sc, avgdl_sc = self._field_stats(field)
        # expand each term to its class; dedup classes (set-of-classes)
        classes: list[tuple[str, ...]] = []
        seen: set[tuple[str, ...]] = set()
        for t in terms:
            cls = cls_map.get(t, (t,))
            if cls not in seen:
                seen.add(cls)
                classes.append(cls)
        if not classes:
            return self._empty()
        members_all = sorted({ns + m for cls in classes for m in cls})
        dfs = self.term_dfs(members_all)
        kernel_classes: list[tuple[str, tuple[str, ...]]] = []
        idf_map: dict[str, float] = {}
        for cls in classes:
            present = tuple(ns + m for m in cls if (ns + m) in dfs)
            if not present:
                if mode == "conjunctive":
                    return self._empty()  # a required clause matches nothing
                continue
            rep = present[0]
            # Lucene SynonymQuery#docFreq: the blended clause's df is the
            # MAX over member dfs (tf blending would otherwise pair with
            # an overcounted union-df and under-score every synonym hit)
            idf_map[rep] = idf(n_docs_sc, max(dfs[m] for m in present))
            kernel_classes.append((rep, present))
        if not kernel_classes:
            return self._empty()
        return self._score(QuerySpec(
            "synonyms_conj" if mode == "conjunctive" else "synonyms",
            [m for _, ms in kernel_classes for m in ms], idf_map, avgdl_sc,
            k, ns=ns, groups=kernel_classes))

    #: Lucene top_terms_N rewrite cap for prefix expansion (ES default 50)
    MAX_PREFIX_EXPANSIONS = 50

    def expand_prefix(self, prefix: str,
                      max_expansions: int | None = None) -> list[str]:
        """Terms in the dictionary starting with `prefix`, the
        `max_expansions` highest-df ones (ties -> term asc) — the Lucene
        `top_terms_N` multi-term rewrite (keeps the scored term set
        bounded no matter how hot the prefix). Deterministic: both the
        driver-cache and the distributed path order by (df desc, term asc).

        Scale shape (web-scale vocab, no df cache): a filtered
        term-dictionary scan — `startswith` pushes a StringStartsWith
        filter to the parquet footer, so only row groups whose term range
        overlaps the prefix load — then TakeOrdered(max_expansions)."""
        n = self.MAX_PREFIX_EXPANSIONS if max_expansions is None \
            else max_expansions
        if self._df_cache is not None:
            hits = [(t, d) for t, d in self._df_cache.items()
                    if t.startswith(prefix)]
            hits.sort(key=lambda td: (-td[1], td[0]))
            return [t for t, _ in hits[:n]]
        rows = (
            self.term_stats.filter(F.col("term").startswith(prefix))
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
            .collect()
        )
        return [r["term"] for r in rows]

    def expand_prefix_alpha(self, prefix: str,
                            max_expansions: int | None = None) -> list[str]:
        """Dictionary terms under `prefix` in TERM ORDER, first
        `max_expansions` — Lucene's MultiPhrasePrefixQuery rewrite (it
        walks the TermsEnum in term order and stops at maxExpansions,
        unlike the top_terms_N df-ranked rewrite of :meth:`expand_prefix`;
        this is the documented ES match_phrase_prefix gotcha where a hot
        completion can fall outside the first-50 window — reproduced
        faithfully, not 'fixed'). Same pushed StringStartsWith scan."""
        n = self.MAX_PREFIX_EXPANSIONS if max_expansions is None \
            else max_expansions
        if self._df_cache is not None:
            return sorted(t for t in self._df_cache
                          if t.startswith(prefix))[:n]
        rows = (
            self.term_stats.filter(F.col("term").startswith(prefix))
            .select("term")
            .orderBy(F.asc("term"))
            .limit(n)
            .collect()
        )
        return [r["term"] for r in rows]

    def expand_wildcard(self, pattern: str,
                        max_expansions: int | None = None) -> list[str]:
        """Dictionary terms matching a `*`-wildcard pattern (`te*st`,
        `*fix`, `fo*a*r`), the `max_expansions` highest-df ones (ties ->
        term asc) — the same Lucene top_terms_N rewrite contract as
        :meth:`expand_prefix`, extended to the ES/KQL value wildcard.
        The pattern is matched verbatim (no analysis; the parser already
        lowercased and charset-checked it).

        Scale shape: the literal prefix BEFORE the first `*` is pushed to
        the term-dictionary parquet scan as StringStartsWith (row groups
        outside the prefix range never load); the full pattern then
        filters via JVM `rlike`. A leading-`*` pattern has no pushable
        prefix and sweeps the dictionary — the same documented cost ES
        pays for allow_leading_wildcard."""
        n = self.MAX_PREFIX_EXPANSIONS if max_expansions is None \
            else max_expansions
        parts = pattern.split("*")
        rx = "^" + ".*".join(re.escape(p) for p in parts) + "$"
        if self._df_cache is not None:
            pat = re.compile(rx)
            # leading-star patterns sweep the dictionary — keep them out
            # of the url-field namespace (`*ark` must not match
            # \x1furl\x1fspark)
            hits = [(t, d) for t, d in self._df_cache.items()
                    if not t.startswith("\x1f") and pat.match(t)]
            hits.sort(key=lambda td: (-td[1], td[0]))
            return [t for t, _ in hits[:n]]
        dfq = self.term_stats
        if parts[0]:
            dfq = dfq.filter(F.col("term").startswith(parts[0]))
        else:
            dfq = dfq.filter(~F.col("term").startswith("\x1f"))
        rows = (
            dfq.filter(F.col("term").rlike(rx))
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
            .collect()
        )
        return [r["term"] for r in rows]

    def expand_regexp(self, pattern: str,
                      max_expansions: int | None = None) -> list[str]:
        """Dictionary terms fully matching a regexp (`sp[ae]rk`,
        `batc.+`), the `max_expansions` highest-df ones (ties -> term
        asc) — the Lucene regexp query under the same top_terms_N
        rewrite as :meth:`expand_prefix`. The pattern is implicitly
        anchored to the WHOLE term (Lucene RegexpQuery contract) and is
        not analyzed (the parser already lowercased and charset-checked
        it to the Python-re/Java-regex-common subset).

        Scale shape: the literal prefix before the first metacharacter
        is pushed to the term-dictionary parquet scan as
        StringStartsWith; the anchored pattern then filters via JVM
        `rlike`. A pattern with no literal prefix sweeps the dictionary
        — the same documented cost as a leading-star wildcard."""
        n = self.MAX_PREFIX_EXPANSIONS if max_expansions is None \
            else max_expansions
        rx = f"^(?:{pattern})$"
        if self._df_cache is not None:
            pat = re.compile(rx)
            hits = [(t, d) for t, d in self._df_cache.items()
                    if not t.startswith("\x1f") and pat.match(t)]
            hits.sort(key=lambda td: (-td[1], td[0]))
            return [t for t, _ in hits[:n]]
        lit = re.match(r"^[a-z0-9]*", pattern).group(0)
        if len(lit) < len(pattern) and pattern[len(lit)] in "*+?{":
            # a quantifier binds the preceding literal char — it is not
            # part of the guaranteed prefix (`sp*` matches plain `s`)
            lit = lit[:-1]
        dfq = self.term_stats
        if lit:
            dfq = dfq.filter(F.col("term").startswith(lit))
        else:
            dfq = dfq.filter(~F.col("term").startswith("\x1f"))
        rows = (
            dfq.filter(F.col("term").rlike(rx))
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
            .collect()
        )
        return [r["term"] for r in rows]

    def match_phrase_prefix(
        self,
        terms: list[str],
        k: int = 10,
        max_expansions: int | None = None,
        prune: bool = True,
        after: tuple | None = None,
    ) -> DataFrame:
        """ES match_phrase_prefix (`'"part fil*"'` in the discover box —
        Lucene MultiPhrasePrefixQuery, the phrase-autocomplete query):
        `terms` is the phrase IN ORDER with the LAST entry being the
        prefix STEM (no `*`). The stem expands to the FIRST
        `max_expansions` dictionary terms in TERM ORDER
        (:meth:`expand_prefix_alpha`); a doc matches where the fixed
        terms occur adjacently followed by ANY expansion. Scoring is the
        Lucene MultiPhraseQuery convention: one BM25 weight whose idf
        sums the fixed occurrences plus ALL expansion terms (see
        wand.score_phrase_prefix for the full pin). slop and filters are
        refused (not silently approximated). Returns (doc_id, score)."""
        self._require_positions()
        if not terms or not terms[-1]:
            raise ValueError("match_phrase_prefix needs a non-empty stem")
        if after is not None:
            after = (float(after[0]), int(after[1]))
        fixed = list(terms[:-1])
        alts = self.expand_prefix_alpha(terms[-1], max_expansions)
        if not alts:
            return self._empty()
        qterms = sorted(set(fixed) | set(alts))
        dfs = self.term_dfs(qterms)
        if any(t not in dfs for t in fixed):
            return self._empty()  # a required fixed term matches nothing
        idf_map = {t: idf(self.n_docs_scoring, d) for t, d in dfs.items()}
        return self._score(QuerySpec(
            "phrase_prefix", qterms, idf_map, self.avgdl_scoring, k,
            ordered=fixed, after=after, alts=alts, prune=prune))

    def _vocab_arrays(self):
        """Char-code matrix over the cached vocabulary for the vectorized
        fuzzy path, built ONCE per engine: numpy's U-dtype view gives the
        zero-padded UCS4 matrix with no per-term Python loop."""
        va = getattr(self, "_vocab_arrays_cache", None)
        if va is None:
            # field-namespaced terms (\x1furl\x1f...) are NOT part of the
            # content dictionary: without this exclusion `urlabc~2` would
            # fuzzy-expand into the url namespace (two \x1f insertions)
            # and score url postings with content-field statistics
            items = sorted(it for it in self._df_cache.items()
                           if not it[0].startswith("\x1f"))
            t_arr = np.array([t for t, _ in items])
            mat = t_arr.view(np.int32).reshape(len(t_arr), -1)
            lens = np.char.str_len(t_arr).astype(np.int64)
            dfs = np.array([d for _, d in items], dtype=np.int64)
            va = (t_arr, mat, lens, dfs)
            self._vocab_arrays_cache = va
        return va

    def expand_fuzzy(self, term: str, max_edits: int = 2,
                     max_expansions: int | None = None,
                     prefix: str | None = None) -> list[str]:
        """Dictionary terms within `max_edits` edits of `term` — the ES
        fuzzy query (Lucene FuzzyQuery re-expressed as a length-banded
        dictionary scan instead of an FST automaton intersection).
        Pinned rewrite: order by (distance asc, df desc, term asc),
        capped at `max_expansions` (default top_terms_50) — a deliberate,
        documented simplification of Lucene's blended-freqs rewrite
        (each expanded term keeps its own idf).

        Distance is OSA Damerau (damerau_capped): an adjacent
        TRANSPOSITION costs one edit, the Lucene fuzziness default —
        `baord~1` finds `board`. `prefix` (the term suggester's
        prefix_length constraint) prunes candidates DURING generation,
        before any truncation — the ES contract, so prefix-sharing
        candidates can never be crowded out of the expansion window by
        non-prefix terms. Cached path: length band + the vectorized
        numpy kernel (osa_distances) over the whole vocab matrix, zero
        per-term Python. Distributed path (no df cache — web-scale
        vocab): the length band `BETWEEN l-d AND l+d` (valid for OSA
        too: |len diff| <= OSA) prunes the scan, the JVM early-abandon
        `levenshtein(a, b, 2d)` built-in prefilters (COMPLETE for OSA:
        a swap costs two classic edits, so OSA <= d implies classic <=
        2d), then the EXACT OSA distance is computed executor-side (an
        Arrow-batched pandas_udf over the banded slice — the same
        osa_distances numpy kernel, per batch) and only the top-n
        ranked winners are collected: the driver pull is n rows no
        matter how fat the short-term band is (for len(term) <=
        2*max_edits the classic-2d prefilter passes essentially the
        whole band — bounding happens AFTER the exact distance, via
        orderBy/limit, never via an unranked truncation). Both paths
        rank identically (pytest-pinned)."""
        n = self.MAX_PREFIX_EXPANSIONS if max_expansions is None \
            else max_expansions
        if max_edits not in (1, 2):
            raise ValueError("max_edits must be 1 or 2")
        if self._df_cache is not None:
            if not self._df_cache:
                return []
            t_arr, mat, lens, dfs = self._vocab_arrays()
            band = np.abs(lens - len(term)) <= max_edits
            if prefix:
                band &= np.char.startswith(t_arr, prefix)
            idx = np.nonzero(band)[0]
            if not len(idx):
                return []
            sub_lens = lens[idx]
            width = int(sub_lens.max())
            d = osa_distances(term, mat[idx][:, :width], sub_lens)
            keep = d <= max_edits
            kept = idx[keep]
            hits = sorted(zip(d[keep].tolist(), (-dfs[kept]).tolist(),
                              t_arr[kept].tolist()))
            return [t for _d, _df, t in hits[:n]]
        lo, hi = len(term) - max_edits, len(term) + max_edits
        cand = (
            self.term_stats.filter(F.length("term").between(lo, hi))
            # content dictionary only — see the _vocab_arrays exclusion
            .filter(~F.col("term").startswith("\x1f"))
        )
        if prefix:
            cand = cand.filter(F.col("term").startswith(prefix))
        cand = cand.select(
            "term", "df",
            F.levenshtein(F.lit(term), F.col("term"),
                          2 * max_edits).alias("d0"),
        ).filter(F.col("d0") >= 0)  # -1 = beyond the classic prefilter

        @pandas_udf("int")
        def _osa(terms: pd.Series) -> pd.Series:
            vals = terms.to_numpy(dtype="U")
            if not len(vals):
                return pd.Series([], dtype="int32")
            m = vals.view(np.int32).reshape(len(vals), -1)
            ls = np.char.str_len(vals).astype(np.int64)
            return pd.Series(osa_distances(term, m, ls))

        rows = (
            cand.withColumn("osa", _osa("term"))
            .filter(F.col("osa") <= max_edits)
            # the exact rank, pushed distributed: TakeOrdered of n rows
            # is the ONLY thing that crosses to the driver
            .orderBy(F.asc("osa"), F.desc("df"), F.asc("term"))
            .limit(n)
            .collect()
        )
        return [r["term"] for r in rows]

    def suggest(self, prefix: str, n: int = 10) -> list[tuple[str, int]]:
        """Search-bar autocomplete (the ES term suggester / Kibana
        query-bar completion): the `n` highest-df dictionary terms
        starting with `prefix`, as [(term, df)] — the same pushed
        StringStartsWith dictionary scan as :meth:`expand_prefix`, but
        returning the weights the completion UI ranks by.

        The prefix is analyzed with the INDEX analyzer (tokenize_py), the
        ES completion contract — `Don'` suggests under `don`, not under a
        punctuation-bearing string no dictionary term starts with. A
        prefix that analyzes to several tokens (or none) is refused."""
        from picdexer_spark.functions.tokenize import tokenize_py

        toks = tokenize_py(prefix)
        if len(toks) != 1:
            raise ValueError(
                f"suggest prefix {prefix!r} must analyze to exactly one "
                f"term (got {toks})"
            )
        terms = self.expand_prefix(toks[0], max_expansions=n)
        dfs = self.term_dfs(terms)
        return [(t, dfs[t]) for t in terms]

    def suggest_term(
        self,
        text: str,
        size: int = 5,
        max_edits: int = 2,
        prefix_length: int = 1,
        suggest_mode: str = "missing",
        min_doc_freq: int = 0,
    ) -> list[tuple[str, int, int]]:
        """ES TERM suggester (the "did you mean" corrector — distinct
        from :meth:`suggest`, the completion suggester): dictionary
        terms within `max_edits` OSA edits of the analyzed input,
        sharing its first `prefix_length` chars (the ES default 1 —
        typos rarely hit the first letter, and the prefix prunes the
        scan), ranked (distance asc, df desc, term asc) — the ES
        sort=score order where closer beats more-frequent. The input
        term itself is never suggested.

        `suggest_mode` is the ES trio: "missing" suggests only when the
        input is absent from the dictionary (the default — don't
        correct words that exist), "popular" keeps only suggestions
        strictly more frequent than the input, "always" never filters.
        `min_doc_freq` here is an absolute doc count (ES also accepts a
        fraction; pinned to the absolute form). Candidate generation
        rides :meth:`expand_fuzzy` (banded vocab scan / JVM prefilter —
        never a full-vocab driver pull). Returns
        [(suggestion, df, distance)]."""
        from picdexer_spark.functions.tokenize import tokenize_py

        if suggest_mode not in ("missing", "popular", "always"):
            raise ValueError(f"unknown suggest_mode {suggest_mode!r}")
        if prefix_length < 0 or size < 1:
            raise ValueError("prefix_length must be >= 0, size >= 1")
        toks = tokenize_py(text)
        if len(toks) != 1:
            raise ValueError(
                f"term suggester input {text!r} must analyze to exactly "
                f"one term (got {toks})")
        t = toks[0]
        in_df = self.term_dfs([t]).get(t, 0)
        if suggest_mode == "missing" and in_df > 0:
            return []
        # the prefix constraint is applied INSIDE candidate generation
        # (before any expansion truncation) — ES prunes by prefix during
        # the automaton walk, so prefix-sharing suggestions can never be
        # crowded out of the candidate window by non-prefix terms
        pre = t[:prefix_length]
        cands = self.expand_fuzzy(
            t, max_edits, max_expansions=max(50, size * 10),
            prefix=pre or None)
        cands = [c for c in cands if c != t]
        dfs = self.term_dfs(cands)
        hits = []
        for c in cands:
            df_c = dfs.get(c, 0)
            if df_c < min_doc_freq:
                continue
            if suggest_mode == "popular" and df_c <= in_df:
                continue
            hits.append((damerau_capped(t, c, max_edits), -df_c, c))
        hits.sort()
        return [(c, -ndf, d) for d, ndf, c in hits[:size]]

    def vocab_size(self) -> int:
        """Content-dictionary term count (field-namespaced `\\x1f` terms
        excluded) — the V in :meth:`suggest_phrase`'s Laplace smoothing.
        Driver-dict count when the vocab cache holds, else ONE
        metadata-sized distributed count; cached per engine."""
        v = getattr(self, "_vocab_size_cache", None)
        if v is None:
            if self._df_cache is not None:
                v = sum(1 for t in self._df_cache
                        if not t.startswith("\x1f"))
            else:
                v = int(self.term_stats.filter(
                    ~F.col("term").startswith("\x1f")).count())
            self._vocab_size_cache = v
        return v

    def suggest_phrase(
        self,
        text: str,
        size: int = 5,
        max_errors: float = 1.0,
        confidence: float = 1.0,
        real_word_error_likelihood: float = 0.95,
        max_candidates: int = 5,
        collate: bool = False,
        pre_tag: str = "<em>",
        post_tag: str = "</em>",
    ) -> list[tuple[str, float, str]]:
        """ES PHRASE suggester (the whole-query "did you mean"): noisy-
        channel rescoring of multi-word corrections, the third of the ES
        suggest trio beside :meth:`suggest` (completion) and
        :meth:`suggest_term`.

        Model (deterministic, divergences from Lucene's internals
        pinned here): per analyzed slot the candidates are the term
        suggester's top `max_candidates` (OSA distance, mode=always)
        plus the original; a whole-phrase candidate changes at most
        `max_errors` slots (ES contract: a value < 1 is a fraction of
        the term count, >= 1 an absolute count; default 1.0 = one
        correction). Each phrase scores log10 of

            prod_i  P_lm(w_i) * P_ch(i)

        where P_lm is the UNIGRAM Laplace-smoothed document-frequency
        model (df + 0.5)/(N + 0.5*V) — pinned vs ES's shingle-field
        bigram LM (this index has no shingle field; the unigram model
        is ES's gram_size=1 laplace smoothing) — and the channel
        P_ch(i) is `real_word_error_likelihood` for an unchanged slot
        (the ES knob: even an in-dictionary word is only ~95% likely
        intended) and (1 - rwel)^distance for a corrected one (each
        edit costs the complementary factor). Suggestions must beat
        `confidence` * the input phrase's own likelihood (the ES
        confidence threshold; 0.0 disables). `collate=True` keeps only
        phrases whose terms CO-OCCUR in at least one live doc — the ES
        collate match-query prune, pinned to a conjunctive `_count`
        probe over the top 2*size survivors (each probe a distributed
        count; everything else here is driver-side over a candidate
        set capped at max_candidates per slot, with per-slot candidate
        generation riding expand_fuzzy's banded vocab scan).

        Returns [(phrase, score_log10, highlighted)] sorted score desc
        then phrase asc, corrected slots wrapped in pre/post tags —
        the ES option list (text, score, highlighted). The unchanged
        input itself is never suggested."""
        from itertools import combinations, product

        from picdexer_spark.functions.tokenize import tokenize_py

        if size < 1 or max_candidates < 1:
            raise ValueError("size and max_candidates must be >= 1")
        if max_errors <= 0:
            raise ValueError("max_errors must be > 0")
        if not 0.0 < real_word_error_likelihood < 1.0:
            raise ValueError("real_word_error_likelihood must be in (0,1)")
        toks = tokenize_py(text)
        if not toks:
            raise ValueError(
                f"phrase suggester input {text!r} analyzes to no terms")
        m = len(toks)
        budget = (int(max_errors) if max_errors >= 1
                  else max(1, int(max_errors * m)))
        budget = min(budget, m)

        n, v = self.n_docs, self.vocab_size()
        denom = math.log10(n + 0.5 * v)

        def lm(df: int) -> float:
            return math.log10(df + 0.5) - denom

        keep = math.log10(real_word_error_likelihood)
        err1 = math.log10(1.0 - real_word_error_likelihood)

        cands = [self.suggest_term(
            t, size=max_candidates, suggest_mode="always") for t in toks]
        dfs0 = self.term_dfs(toks)
        base = [lm(dfs0.get(t, 0)) + keep for t in toks]
        base_score = sum(base)

        # enumerate: choose <= budget slots to correct, one candidate
        # per corrected slot; beam-capped so a long query with fat
        # candidate lists stays driver-cheap (the ES candidate cap)
        BEAM = 5000
        out: list[tuple[float, str, str]] = []
        n_gen = 0
        for r in range(1, budget + 1):
            for slots in combinations(range(m), r):
                pools = [cands[i] for i in slots]
                if any(not p for p in pools):
                    continue
                for pick in product(*pools):
                    n_gen += 1
                    if n_gen > BEAM:
                        break
                    score = base_score
                    words = list(toks)
                    marked = list(toks)
                    for i, (c, df_c, dist) in zip(slots, pick):
                        score += (lm(df_c) + dist * err1) - base[i]
                        words[i] = c
                        marked[i] = f"{pre_tag}{c}{post_tag}"
                    out.append((score, " ".join(words),
                                " ".join(marked)))
                if n_gen > BEAM:
                    break
            if n_gen > BEAM:
                break

        thr = (-math.inf if confidence <= 0.0
               else base_score + math.log10(confidence))
        out = [o for o in out if o[0] > thr]
        out.sort(key=lambda o: (-o[0], o[1]))
        if collate:
            kept = []
            for score, phrase, marked in out[:2 * size]:
                if self.count(sorted(set(phrase.split())),
                              "conjunctive") > 0:
                    kept.append((score, phrase, marked))
                if len(kept) == size:
                    break
            out = kept
        return [(p, s, h) for s, p, h in out[:size]]

    def match_bool_prefix(
        self,
        terms: list[str],
        k: int = 10,
        operator: str = "or",
        max_expansions: int | None = None,
        prune: bool = True,
    ) -> DataFrame:
        """ES `match_bool_prefix` (the non-phrase autocomplete query):
        every analyzed term becomes a term clause and the LAST entry —
        the stem, no `*` — a prefix clause; unlike
        :meth:`match_phrase_prefix` there is NO adjacency, the words
        may sit anywhere in the doc. The stem expands through the
        engine's pinned scored-prefix rewrite (top_terms df-order,
        :meth:`expand_prefix`, each expansion keeping its own idf).

        operator "or" (the ES default, bool should): disjunctive
        scoring over fixed terms + expansions. operator "and" (bool
        must): every fixed term required AND at least one expansion,
        via the CNF groups kernel — score still sums ALL matched
        clauses, the Lucene bool contract. A stem expansion colliding
        with a fixed term is refused in "and" (the groups kernel's
        dup-free contract; ES blends the duplicate clause — divergence
        pinned here rather than silently mis-scored)."""
        if operator not in ("or", "and"):
            raise ValueError(f"operator must be 'or'/'and', got {operator!r}")
        if not terms or not terms[-1]:
            raise ValueError("match_bool_prefix needs a non-empty stem")
        fixed = sorted(set(terms[:-1]))
        alts = self.expand_prefix(terms[-1], max_expansions)
        if operator == "or":
            qterms = sorted(set(fixed) | set(alts))
            if not qterms:
                return self._empty()
            return self.search(qterms, "disjunctive", k, prune=prune)
        if not alts:
            return self._empty()  # the required prefix clause is empty
        overlap = set(fixed) & set(alts)
        if overlap:
            raise ValueError(
                f"stem expansion collides with fixed terms {sorted(overlap)}"
                " under operator='and' (unsupported, see docstring)")
        groups = [[t] for t in fixed] + [alts]
        return self.search([], "groups", k, prune=prune, groups=groups)

    def search_with_total(
        self,
        terms: list[str],
        mode: str = "disjunctive",
        k: int = 10,
        filters: list = (),
        track_total_hits: bool | int = True,
    ) -> DataFrame:
        """ES `track_total_hits`: the top-k hits PLUS the total match
        count — discover's "N hits" header next to the hit list.
        `True` = exact count, relation 'eq'. An int threshold = the ES
        bounded form: counting stops at the threshold, total_hits =
        min(total, threshold) with relation 'gte' when clipped ('eq'
        below it) — the count subtree is a limit(threshold+1) count, so
        scanning stops once the bound is provable. Returns
        DataFrame[doc_id, score, total_hits, relation].

        One kernel pass: the full scored match set persists (the same
        ES-coordinator trade :meth:`significant_terms` makes) and both
        the count and the top-k read it; k rows + one long reach the
        driver."""
        m = self.match_ids(terms, mode, filters, with_scores=True)
        m = m.persist()
        try:
            if track_total_hits is True:
                total, rel = m.count(), "eq"
            else:
                th = int(track_total_hits)
                if th < 0:
                    raise ValueError("track_total_hits must be >= 0")
                c = m.limit(th + 1).count()
                total, rel = (th, "gte") if c > th else (c, "eq")
            top = (m.orderBy(F.desc("score"), F.asc("doc_id"))
                   .limit(k).collect())
        finally:
            m.unpersist()
        schema = ("doc_id long, score double, total_hits long, "
                  "relation string")
        rows = [(r["doc_id"], r["score"], total, rel) for r in top]
        return self.spark.createDataFrame(rows, schema)

    def search_query_string(self, q: str, k: int = 10,
                            prune: bool = True) -> DataFrame:
        """Search from a kuery-lite query string (the discover search box,
        reference kibana.ndjson:8): bare words = OR, 'AND'-joined =
        conjunction, a quoted whole query = phrase, `field:value` tokens
        (lang:, url:) become exact-match docs-table filters ANDed with the
        scored text query, and trailing-`*` words are prefix terms
        (dictionary-expanded per :meth:`expand_prefix`, scored
        disjunctively with each matched term's own idf — the Lucene
        `scoring_boolean` contract over a `top_terms_N` expansion);
        trailing `~`/`~1`/`~2` words are FUZZY terms (edit-distance
        expansion per :meth:`expand_fuzzy`, same scoring contract). Words
        run through the index analyzer (query/parser.py).

        Parenthesized queries take the boolean-tree path
        (parser.parse_kuery_tree): `(lang:en OR lang:de) AND spark`,
        `(a OR b) AND c`, `NOT (x:1 OR y:2)` — filter-OR compiles into
        the single docs-table condition, scored OR-groups become CNF
        clauses (mode='groups'); prefix/fuzzy markers expand WITHIN their
        group. Without parens, `lang:en OR lang:de` alternates the two
        filters (parse_kuery folds the chain into one or-entry)."""
        from picdexer_spark.query.parser import parse_kuery, parse_kuery_tree

        if "(" in q or ")" in q:
            groups, fast = parse_kuery_tree(q)
            if self.stopwords:
                # mirror the flat path's stop handling (ADVICE r6): a
                # stop-filtered PLAIN term inside a boolean tree is
                # analyzed away — dropped from its group, never looked up
                # as a normal term (it is not in the index, so it would
                # silently fail a conjunction ES satisfies). A group
                # emptied of all its terms disappears from the
                # conjunction (the flat path's dropped-must-clause
                # behavior); a query emptied of all groups matches
                # nothing (or match-all within remaining filters).
                # Operator-bearing terms (*, ~, /re/) cannot be bare
                # stopwords — same argument as the flat path.
                stop = set(self.stopwords)
                groups = [
                    [t for t in g
                     if not (t in stop and not any(c in t for c in "*~/"))]
                    for g in groups
                ]
                groups = [g for g in groups if g]
                if not groups:
                    if fast is None:
                        return self._empty()
                    return self.search_filtered([], "disjunctive", fast,
                                                k, prune)
            if self._syn_classes and any(
                    t in self._syn_classes for g in groups for t in g):
                # boolean-tree queries don't ride the blended kernel —
                # refuse rather than silently scoring without synonyms
                raise ValueError(
                    "synonym-class terms inside a boolean-tree query are "
                    "not supported — flatten the query or call "
                    "search_synonyms directly")
            expanded: list[list[str]] = []
            for g in groups:
                exp: set[str] = set()
                for t in g:
                    if len(t) >= 3 and t.startswith("/") and t.endswith("/"):
                        exp.update(self.expand_regexp(t[1:-1]))
                    elif t.endswith("*") and "*" not in t[:-1]:
                        exp.update(self.expand_prefix(t[:-1]))
                    elif "*" in t:
                        exp.update(self.expand_wildcard(t))
                    elif "~" in t:
                        stem, d = t.rsplit("~", 1)
                        exp.update(self.expand_fuzzy(stem, int(d)))
                    else:
                        exp.add(t)
                if not exp:
                    return self._empty()  # a required group matches nothing
                expanded.append(sorted(exp))
            flat = [t for g in expanded for t in g]
            if len(flat) != len(set(flat)):
                raise ValueError(
                    "expanded boolean groups overlap (a term may appear "
                    "in only one group — narrow the prefix/fuzzy clause)"
                )
            if not expanded:
                if fast is None:
                    return self._empty()
                return self.search_filtered([], "disjunctive", fast, k,
                                            prune)
            if fast is not None:
                return self.search_filtered(flat, "groups", fast, k, prune,
                                            groups=expanded)
            return self.search(flat, "groups", k, prune, groups=expanded)

        terms, mode, filters = parse_kuery(q)
        if self.stopwords:
            # the query analyzer re-applies the index's stop filter (the
            # ES analyzed-away contract): a stopped term VANISHES from
            # the clause list — it must not fail a conjunction (it is
            # not in the index) nor stay as a dead disjunct. Plain
            # tokens only: operator-bearing terms (*, ~, ^, /re/) can't
            # be bare stopwords. Phrase queries with a stopped slot are
            # REFUSED (matching across the index-side position gap
            # needs query-side gap support — not approximated).
            stop = set(self.stopwords)
            plain = [t for t in terms if t not in stop]
            if len(plain) != len(terms):
                if mode.startswith("phrase"):
                    raise ValueError(
                        "phrase query contains stop-filtered term(s) "
                        f"{sorted(set(terms) & stop)} — the index "
                        "stopped them (position gaps); rephrase without "
                        "the stopwords")
                terms = plain
                if not terms:
                    return self._empty()
        if self._syn_classes and mode in ("conjunctive", "disjunctive") \
                and any(t in self._syn_classes for t in terms):
            # a synonym-class term in a FLAT query: Lucene rewrites the
            # clause to a SynonymQuery — route through the blended
            # kernel. Shapes the blended kernel doesn't cover are
            # REFUSED (a silently non-synonym result would differ from
            # the configured analyzer's): filters, boosts, multi-term
            # operators in the same query.
            if filters:
                raise ValueError(
                    "synonym-expanded terms with field filters are not "
                    "supported yet — query the terms via "
                    "search_synonyms + an explicit post-filter")
            if any(ch in t for ch in "*~^/" for t in terms):
                raise ValueError(
                    "synonym-expanded terms cannot combine with "
                    "wildcard/fuzzy/boost operators in one query")
            return self.search_synonyms(terms, self._syn_groups,
                                        mode=mode, k=k)
        if mode == "phrase_prefix":
            # '"part fil*"' — ES match_phrase_prefix; filters with it are
            # refused (not approximated) until the whitelist path learns
            # the multi-term final slot
            if filters:
                raise ValueError(
                    "field filters are not supported with a phrase "
                    "prefix query"
                )
            return self.match_phrase_prefix(terms, k, prune=prune)
        slop = 0
        if mode.startswith("phrase~"):
            # `"a b"~N` — the query_string sloppy-phrase syntax; the
            # parser carries the slop in the mode string
            slop = int(mode.split("~", 1)[1])
            mode = "phrase"
        # `term^N` boost markers (parser-validated: plain single-token
        # words, flat queries only) split off into a weight map BEFORE
        # multi-term expansion; a term cannot carry two different weights
        boosts: dict[str, float] = {}
        if any("^" in t for t in terms):
            stripped: list[str] = []
            for t in terms:
                if "^" in t:
                    stem, b = t.rsplit("^", 1)
                    bf = float(b)
                    if boosts.get(stem, bf) != bf:
                        raise ValueError(
                            f"term {stem!r} carries two different boosts"
                        )
                    boosts[stem] = bf
                    stripped.append(stem)
                else:
                    stripped.append(t)
            dup = [t for t in boosts if stripped.count(t) > 1]
            if dup:
                raise ValueError(
                    f"term(s) {dup} appear both boosted and plain "
                    "(duplicate clauses are refused, not guessed)"
                )
            terms = stripped
        if any("*" in t or "~" in t or
               (len(t) >= 3 and t.startswith("/") and t.endswith("/"))
               for t in terms):
            # parser guarantees prefix/wildcard/fuzzy/regexp only reach
            # here in OR context
            exp: set[str] = set()
            for t in terms:
                if len(t) >= 3 and t.startswith("/") and t.endswith("/"):
                    exp.update(self.expand_regexp(t[1:-1]))
                elif t.endswith("*") and "*" not in t[:-1]:
                    exp.update(self.expand_prefix(t[:-1]))
                elif "*" in t:
                    exp.update(self.expand_wildcard(t))
                elif "~" in t:
                    stem, d = t.rsplit("~", 1)
                    exp.update(self.expand_fuzzy(stem, int(d)))
                else:
                    exp.add(t)
            terms = sorted(exp)
            if not terms:
                # every expansion came back empty and no bare terms
                return self._empty()
        if filters:
            return self.search_filtered(terms, mode, filters, k, prune,
                                        slop=slop, boosts=boosts or None)
        return self.search(terms, mode, k, prune, slop=slop,
                           boosts=boosts or None)

    #: docs-table column types a kuery filter may target, by capability.
    #: Mirrors the ES mapping contract (reference
    #: internal/setup/assets/picdexer.json:7-96 — every mapped field is
    #: filterable: keyword/text fields exact-match, date/numeric fields
    #: also range). Which FIELDS exist comes from the snapshot's docs-table
    #: schema, not a hardcoded allowlist.
    _EXACT_TYPES = ("string", "boolean")
    _ORDERED_TYPES = ("timestamp", "timestamp_ntz", "date",
                      "bigint", "int", "smallint", "tinyint",
                      "double", "float", "decimal")

    @property
    def _docs_fields(self) -> dict[str, str]:
        """name -> Spark simpleString type for the live docs view (lazy,
        metadata-only — parquet footer read, no job)."""
        f = getattr(self, "_docs_fields_cache", None)
        if f is None:
            f = {
                fld.name: fld.dataType.simpleString()
                for fld in self.cat.read_live_docs(
                    self.spark, self.snapshot_id
                ).schema.fields
            }
            self._docs_fields_cache = f
        return f

    def _typed_lit(self, field: str, v: str, need_range: bool) -> F.Column:
        """Validate (field, value) against the docs schema and return the
        value as a literal of the COLUMN's type. Driver-side parse errors
        become clean ValueErrors here, never executor-side ANSI cast
        failures. Range ops need an ordered type; '=' works on any atomic
        column (the keyword-field exact-match contract)."""
        from datetime import date, datetime

        dtype = self._docs_fields.get(field)
        if dtype is None:
            raise ValueError(
                f"unknown filter field {field!r} "
                f"(docs-table fields: {sorted(self._docs_fields)})"
            )
        base = dtype.split("(")[0]
        if base not in self._EXACT_TYPES + self._ORDERED_TYPES:
            raise ValueError(
                f"field {field!r} of type {dtype} is not filterable"
            )
        if need_range and base not in self._ORDERED_TYPES:
            raise ValueError(
                f"range filter needs an ordered field; {field!r} is {dtype}"
            )
        try:
            if base in ("timestamp", "timestamp_ntz", "date"):
                parsed = datetime.fromisoformat(v)
                if base == "date":
                    parsed = date.fromisoformat(v)
                return F.lit(parsed).cast(dtype)
            if base in ("bigint", "int", "smallint", "tinyint"):
                return F.lit(int(v)).cast(dtype)
            if base in ("double", "float", "decimal"):
                return F.lit(float(v)).cast(dtype)
            if base == "boolean":
                if v.lower() not in ("true", "false"):
                    raise ValueError(v)
                return F.lit(v.lower() == "true")
        except ValueError:
            raise ValueError(
                f"unparsable {dtype} value {v!r} for field {field!r}"
            ) from None
        return F.lit(v)  # string

    def _analyzed_match_cond(self, field: str, v: str,
                             phrase: bool) -> F.Column:
        """ES KQL on a `text` field: `field:value` is a match query (ANY
        analyzed token of the value occurs among the field's analyzed
        tokens, the default-OR match), `field:"value"` is a match_phrase
        (the value's tokens occur CONSECUTIVELY in order). Zero analyzed
        tokens match nothing (ES zero_terms_query: none). All JVM
        expression work per row — no shuffle, evaluated at the docs scan
        like every other filter-context condition."""
        from picdexer_spark.functions.tokenize import tokenize_py, tokens_col

        vtoks = tokenize_py(v)
        if not vtoks:
            return F.lit(False)
        tc = tokens_col(F.col(field))
        if not phrase or len(vtoks) == 1:
            m = F.arrays_overlap(tc, F.array(*[F.lit(t) for t in vtoks]))
        else:
            n = len(vtoks)
            arr = F.array(*[F.lit(t) for t in vtoks])
            # consecutive-subsequence scan: starts 1..len-n+1 (clamped to 1
            # so sequence() never runs descending; a short array slices to
            # fewer than n elements and can never equal `arr`)
            starts = F.sequence(
                F.lit(1), F.greatest(F.size(tc) - F.lit(n - 1), F.lit(1))
            )
            m = F.exists(starts, lambda i: F.slice(tc, i, n) == arr)
        return F.coalesce(m, F.lit(False))  # null field -> no match

    def _leaf_cond(self, flt) -> F.Column:
        """One kuery filter leaf -> Column. (field, value) 2-tuples imply
        '='; 3-tuples carry op in = != >= <= > < (plus the '=q'/'!=q'
        quoted-value variants the parser emits). '!='/'!=q' are NULL-SAFE
        (ES must_not: a doc missing the field matches). Equality on a
        field in `analyzed_fields` is the ES text-field match contract
        (see _analyzed_match_cond); `field.keyword` forces exact."""
        f, op, v = flt if len(flt) == 3 else (flt[0], "=", flt[1])
        if op == "geo_bbox":
            # ES geo_bounding_box as a filter leaf — the Kibana map
            # viewport filter, composing with every other kuery leaf
            # through the same AND/OR/NOT machinery. Leaf shape:
            # ((lat_field, lon_field), "geo_bbox", (top, left, bottom,
            # right)); fields must be numeric docs columns.
            from picdexer_spark.operators.geo import geo_bbox_cond

            lat_f, lon_f = f
            for gf in (lat_f, lon_f):
                typ = self._docs_fields.get(gf, "").split("(")[0]
                if typ not in ("double", "float", "bigint", "int",
                               "smallint", "decimal"):
                    raise ValueError(
                        f"geo_bounding_box field {gf!r} must be a "
                        f"numeric docs column (is "
                        f"{self._docs_fields.get(gf, 'unknown')})")
            return geo_bbox_cond(lat_f, lon_f, *v)
        quoted = op.endswith("q")
        op = op[:-1] if quoted else op
        keyword = f.endswith(".keyword")
        if keyword:
            f = f[: -len(".keyword")]
            if self._docs_fields.get(f, "").split("(")[0] != "string":
                raise ValueError(
                    f".keyword is only valid on string fields ({f!r} is "
                    f"{self._docs_fields.get(f, 'unknown')})"
                )
        if op in (">=", "<=", ">", "<"):
            lit = self._typed_lit(f, v, need_range=True)
            col = F.col(f)
            return {
                ">=": col >= lit, "<=": col <= lit,
                ">": col > lit, "<": col < lit,
            }[op]
        if op in ("exists", "!exists"):
            # KQL `field:*` — the ES exists query (NOT field:* = missing)
            if f not in self._docs_fields:
                raise ValueError(
                    f"unknown filter field {f!r} (docs table has: "
                    f"{sorted(self._docs_fields)})"
                )
            c = F.col(f).isNotNull()
            return c if op == "exists" else ~c
        if op in ("=", "!="):
            if (not keyword and f in self.analyzed_fields
                    and self._docs_fields.get(f, "").split("(")[0]
                    == "string"):
                m = self._analyzed_match_cond(f, v, phrase=quoted)
                return m if op == "=" else ~m
            eq = F.col(f).eqNullSafe(self._typed_lit(f, v, need_range=False))
            return eq if op == "=" else ~eq
        raise ValueError(f"unsupported filter op {op!r}")

    def _filter_cond(self, filters) -> F.Column:
        """Compile kuery filters into ONE docs-table condition. `filters`
        is either a flat list of leaves (ANDed — the kuery top-level-AND
        convention; an entry may also be ('or', [leaf, ...]) from a
        `lang:en OR lang:de` qualifier alternation) or a boolean AST from
        parse_kuery_tree: ('and', [...]), ('or', [...]), ('not', node),
        ('leaf', (field, op, value))."""
        if isinstance(filters, tuple) and filters and filters[0] in (
            "and", "or", "not", "leaf"
        ):
            return self._compile_filter_ast(filters)
        cond = F.lit(True)
        for flt in filters:
            if len(flt) == 2 and isinstance(flt[1], list):
                ors = [self._leaf_cond(leaf) for leaf in flt[1]]
                c = ors[0]
                for p in ors[1:]:
                    c = c | p
                cond = cond & c
            else:
                cond = cond & self._leaf_cond(flt)
        return cond

    def _compile_filter_ast(self, node) -> F.Column:
        head = node[0]
        if head == "leaf":
            return self._leaf_cond(node[1])
        if head == "not":
            return ~self._compile_filter_ast(node[1])
        parts = [self._compile_filter_ast(c) for c in node[1]]
        out = parts[0]
        for p in parts[1:]:
            out = (out & p) if head == "and" else (out | p)
        return out

    def search_filtered(
        self,
        terms: list[str],
        mode: str = "disjunctive",
        filters: list[tuple[str, str]] = (),
        k: int = 10,
        prune: bool = True,
        after: tuple | None = None,
        groups: list[list[str]] | None = None,
        slop: int = 0,
        min_should_match: int | str = 1,
        field: str | None = None,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """Top-k (doc_id, score) over docs matching ALL `filters` —
        (field, value) exact matches, or (field, op, value) with op in
        `= != >= <= > <` (the kuery `lang:en`, `NOT lang:de` and
        `warc_ts >= "..."` discover-panel constructs; '!=' is ES must_not:
        docs missing the field match). BM25 statistics stay corpus-wide
        (the ES filter-context contract: filters restrict candidates,
        never reweight scores).

        Plan: the candidate posting blocks and the filtered doc_ids are
        COGROUPED by shard — the whitelist never leaves the cluster and is
        bounded per task by shard_range; the kernels apply it before top-k
        selection, so results are exact at any filter selectivity."""
        if not filters:
            return self.search(terms, mode, k, prune, after=after,
                               groups=groups, slop=slop,
                               min_should_match=min_should_match,
                               field=field, boosts=boosts)
        cond = self._filter_cond(filters)  # validates fields/ops/values
        spec = self._prepare(terms, mode, k, prune, after, groups, slop,
                             min_should_match, field, boosts)
        if spec is None:
            return self._empty()
        live = self.cat.read_live_docs(self.spark, self.snapshot_id)
        if not spec.terms:
            # filter-only discover query: match_all within the filter
            # (the Lucene constant-score contract, _score = 1.0); all
            # scores tie so the search_after cursor reduces to doc_id
            base = live.filter(cond)
            if spec.after is not None:
                base = base.filter(F.col("doc_id") > F.lit(spec.after[1]))
            return (
                base.select("doc_id", F.lit(1.0).alias("score"))
                .orderBy(F.asc("doc_id"))
                .limit(k)
            )
        return self._score(spec, allowed=live.filter(cond))

    def match_ids(
        self,
        terms: list[str],
        mode: str = "disjunctive",
        filters: list = (),
        groups: list[list[str]] | None = None,
        slop: int = 0,
        field: str | None = None,
        with_scores: bool = False,
    ) -> DataFrame:
        """ALL live doc_ids matching the query — the Kibana query-bar →
        dashboard-panels contract (a panel aggregates over every matching
        doc, not a scored top-k). Returns DataFrame[doc_id].

        Reuses the exact per-shard kernels with k_eff = shard_range: a
        shard holds at most shard_range docs, so the shard "top-k" IS its
        full match set (bit-tested kernels, no second matching code path),
        and per-task work stays bounded by shard_range at any corpus size.
        No global order/limit — the match set never funnels to one node.
        Empty `terms` = match_all (within `filters` if given).

        mode "groups" (+ `groups`, the CNF clauses of a boolean kuery —
        see :meth:`search`): a parenthesized query-bar query drives the
        dashboard panels exactly like a flat one.

        `field`: scored field to match on (see :meth:`_field_stats`).
        `with_scores=True` returns DataFrame[doc_id, score] — the FULL
        scored match set, still never globally sorted or collected (the
        multi_match combiner consumes this shape)."""
        cond = self._filter_cond(filters) if filters else None
        # k = shard_range: the shard "top-k" is its full match set
        spec = self._prepare(terms, mode, self.shard_range, prune=False,
                             groups=groups, slop=slop, field=field)
        out_cols = ["doc_id", "score"] if with_scores else ["doc_id"]
        if spec is None:
            return self._empty().select(*out_cols)
        # the live-docs view costs a driver-side file listing per
        # construction — build it only on the branches that consume it
        # (filters / match_all), not for every term query
        live = None
        if cond is not None or not spec.terms:
            live = self.cat.read_live_docs(self.spark, self.snapshot_id)
            if cond is not None:
                live = live.filter(cond)
        if not spec.terms:
            # match_all is constant-score (Lucene _score = 1.0)
            return live.select("doc_id", F.lit(1.0).alias("score")) \
                .select(*out_cols)
        return self._score(spec, live, top=False).select(*out_cols)

    def count(self, terms: list[str], mode: str = "disjunctive",
              filters: list = (), groups: list[list[str]] | None = None
              ) -> int:
        """ES `_count` (the hit total Kibana shows above every result
        list): the SIZE of the full match set, scored nothing. Rides
        match_ids — per-task work bounded by shard_range, count reduced
        distributed-side."""
        return self.match_ids(terms, mode, filters, groups=groups).count()

    def field_caps(self) -> list[dict]:
        """ES `_field_caps` API: one row per queryable field with its
        type and capabilities — what Kibana calls before it renders the
        field picker. Derived entirely from the snapshot's docs-table
        schema (the same source the typed-filter compiler uses, so the
        two can never disagree): every stored field is filterable
        (`searchable`), numeric/timestamp fields are `aggregatable`,
        and the analyzed full-text fields (`text` — the name the query
        surface itself accepts for the content field in _field_stats /
        explain / per-field search — plus url when the index was built
        with index_url_field) are reported as `text` type with their
        stored column as the `.keyword` twin — the ES multi-field
        mapping shape, consistent for BOTH scored fields so a client
        acting on field_caps can actually query what it lists.
        Metadata-sized; no data scan."""
        out = []
        scored = {"text": True}
        if self.has_url_field:
            scored["url"] = True
        for name in sorted(scored):
            out.append({"field": name, "type": "text",
                        "searchable": True, "aggregatable": False})
        for name, typ in sorted(self._docs_fields.items()):
            es_type = {"string": "keyword", "bigint": "long",
                       "int": "integer", "double": "double",
                       "float": "float", "boolean": "boolean"}.get(
                typ, "date" if typ.startswith("timestamp") else typ)
            # a stored field that is ALSO a scored text field is the ES
            # text + .keyword multi-field: the text row above keeps the
            # bare name, the keyword twin gets the .keyword suffix
            if name in scored:
                name = f"{name}.keyword"
            out.append({"field": name, "type": es_type,
                        "searchable": True,
                        "aggregatable": es_type != "text"})
        return out

    def mget(self, doc_ids: list[int]) -> DataFrame:
        """ES ``_mget``: a batch of point lookups in ONE job — the full
        stored doc rows for the LIVE ids among ``doc_ids`` (tombstoned =
        ES `found: false` = absent row). One pushed In(doc_id) scan over
        the doc store (parquet min/max on the id-ordered docs files
        prunes to the touched row groups), the same path a single
        point_lookup takes; batch size is caller-bounded."""
        ids = sorted({int(i) for i in doc_ids})
        if not ids:
            return self.cat.read_live_docs(self.spark, self.snapshot_id) \
                .limit(0)
        return self.cat.read_live_docs(self.spark, self.snapshot_id) \
            .filter(F.col("doc_id").isin(ids))

    def validate_query(self, q: str) -> dict:
        """ES ``_validate/query``: dry run of a kuery string —
        ``{"valid": bool, "error": str | None}``, never an exception (the
        ES endpoint returns explanations, not 400s).

        Round 7 (ADVICE r6): instead of re-implementing the refusal
        matrix (which had drifted — it missed phrase-with-stopped-term,
        synonym-with-operators and synonym-in-tree, and wrongly flagged
        phrase+filters+synonym), validation now BUILDS the real query
        plan via :meth:`search_query_string`. DataFrames are lazy, so no
        scoring job runs; every driver-side refusal (parser, schema,
        positions, stop/synonym rules) surfaces exactly as execution
        would raise it — the two code paths cannot disagree because they
        are the same path. Dictionary expansions (prefix/fuzzy/wildcard)
        do run, the ES ``rewrite: true`` behavior — bounded by the term
        dictionary, never corpus-sized."""
        try:
            self.search_query_string(q, k=1)
        except ValueError as e:
            return {"valid": False, "error": str(e)}
        return {"valid": True, "error": None}

    def termvectors(self, doc_id: int) -> DataFrame:
        """ES `_termvectors` API: the per-term statistics of ONE stored
        document — (term, tf, positions) from re-analyzing the stored
        text with THE analyzer (incl. this snapshot's stop filter, so
        the report matches what got indexed — stopped terms absent,
        position GAPS intact), plus the corpus df joined in (the ES
        `term_statistics: true` form). Positions are 0-based analyzer
        ordinals, the same numbers the positional postings store.

        Plan: the doc_id filter pushes into the docs scan (one row
        survives), tokens posexplode JVM-side, the df lookup is a
        pushed In(term) scan over term_stats — all row-bounded by one
        document's vocabulary."""
        return self.mtermvectors([doc_id]).drop("doc_id")

    def mtermvectors(self, doc_ids: list[int]) -> DataFrame:
        """ES `_mtermvectors`: :meth:`termvectors` for a BATCH of ids in
        one job — (doc_id, term, tf, df, positions), one pushed
        In(doc_id) docs scan + one pushed In(term) stats scan; work is
        bounded by the batch's total vocabulary, never corpus-sized."""
        from picdexer_spark.functions.analysis import stopped_tokens_col
        from picdexer_spark.functions.tokenize import tokens_col

        ids = [int(i) for i in doc_ids]
        if not ids:
            raise ValueError("mtermvectors needs at least one doc_id")
        live = self.cat.read_live_docs(self.spark, self.snapshot_id)
        docs = live.filter(F.col("doc_id").isin(ids))
        tok = (stopped_tokens_col("text", self.stopwords)
               if self.stopwords else tokens_col("text"))
        tv = (
            docs.select("doc_id",
                        F.posexplode(tok).alias("pos", "term"))
            .filter(F.col("term").isNotNull())  # stop gaps keep ordinals
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"),
                 F.sort_array(F.collect_list("pos")).alias("positions"))
        )
        stats = self.term_stats.select("term", "df")
        return (
            tv.join(stats, "term", "left")
            .select("doc_id", "term", "tf",
                    F.coalesce("df", F.lit(0)).alias("df"), "positions")
            .orderBy("doc_id", "term")
        )

    def rrf(self, term_results: DataFrame, other_results: DataFrame,
            k: int = 10, rank_constant: int = 60,
            window_size: int = 100) -> DataFrame:
        """Convenience wrapper: fuse THIS engine's BM25 results with any
        other retriever's (doc_id, score) list via :func:`rrf_fuse` —
        the ES hybrid-search (`retriever: rrf`) shape, lexical + vector
        in one ranked list."""
        return rrf_fuse([term_results, other_results], k=k,
                        rank_constant=rank_constant,
                        window_size=window_size)

    def rank_eval(self, requests: list[dict], k: int = 10,
                  metric: str | tuple = "precision",
                  relevant_threshold: int = 1) -> list[tuple]:
        """ES `_rank_eval` API — search-quality evaluation over a set
        of rated requests. `requests`: [{"id", "terms", "mode"?
        (default disjunctive), "ratings": {doc_id: graded_rating}}].
        Metrics (ES rank_eval metric set, formulas per its docs):

        - 'precision': P@k, unjudged docs count as irrelevant (the ES
          default), denominator = retrieved count;
        - 'recall': relevant-retrieved / judged-relevant;
        - 'mean_reciprocal_rank': 1/rank of the first doc with rating
          >= relevant_threshold (0 when none retrieved);
        - 'dcg' / 'ndcg': sum (2^rating - 1) / log2(rank + 1), ndcg
          normalized by the ideal ordering of the JUDGED docs.

        Returns [(query_id, metric, value), ..., ('_overall', metric,
        mean)]. ALL requests run as ONE distributed search_batch job;
        the metric arithmetic happens on the collected k-row top lists
        — the same coordinator reduction the ES rank_eval endpoint
        performs."""
        import math

        metrics = (metric,) if isinstance(metric, str) else tuple(metric)
        known = ("precision", "recall", "mean_reciprocal_rank",
                 "dcg", "ndcg")
        bad = [m for m in metrics if m not in known]
        if bad or not metrics:
            raise ValueError(f"unknown rank_eval metric(s) {bad!r}")
        if not requests:
            return [("_overall", m, 0.0) for m in metrics]
        qs = [{"query_id": i, "terms": r["terms"],
               "mode": r.get("mode", "disjunctive"), "k": k}
              for i, r in enumerate(requests)]
        top = self.search_batch(qs).collect()  # k rows per request
        by_q: dict[int, list] = {}
        for row in top:
            by_q.setdefault(row["query_id"], []).append(
                (row["rank"], row["doc_id"]))
        out = []
        totals = dict.fromkeys(metrics, 0.0)
        for i, req in enumerate(requests):
            ratings = req["ratings"]
            hits = sorted(by_q.get(i, []))
            rels = [ratings.get(d, 0) for _, d in hits]
            for m in metrics:
                if m == "precision":
                    v = (sum(1 for r in rels if r >= relevant_threshold)
                         / len(hits)) if hits else 0.0
                elif m == "recall":
                    judged_rel = sum(1 for r in ratings.values()
                                     if r >= relevant_threshold)
                    v = (sum(1 for r in rels if r >= relevant_threshold)
                         / judged_rel) if judged_rel else 0.0
                elif m == "mean_reciprocal_rank":
                    v = next((1.0 / rk for (rk, d), r in zip(hits, rels)
                              if r >= relevant_threshold), 0.0)
                else:
                    v = sum((2 ** r - 1) / math.log2(rk + 1)
                            for (rk, _), r in zip(hits, rels))
                    if m == "ndcg":
                        ideal = sorted(ratings.values(), reverse=True)[:k]
                        idcg = sum((2 ** r - 1) / math.log2(j + 2)
                                   for j, r in enumerate(ideal))
                        v = v / idcg if idcg else 0.0
                out.append((req["id"], m, v))
                totals[m] += v
        for m in metrics:
            out.append(("_overall", m, totals[m] / len(requests)))
        return out

    def _sqs_clause_scored(self, clause) -> DataFrame | None:
        """One simple_query_string clause -> its FULL scored match set
        (doc_id, score), or None when the clause cannot match anything
        (prefix/fuzzy with zero dictionary expansions — the Lucene
        rewrite to MatchNoDocsQuery)."""
        kind = clause[0]
        if kind == "terms":
            return self.match_ids(clause[1], "disjunctive",
                                  with_scores=True)
        if kind == "prefix":
            exp = self.expand_prefix(clause[1])
            return self.match_ids(exp, "disjunctive",
                                  with_scores=True) if exp else None
        if kind == "fuzzy":
            exp = self.expand_fuzzy(clause[1], max_edits=clause[2])
            return self.match_ids(exp, "disjunctive",
                                  with_scores=True) if exp else None
        if kind == "phrase":
            return self.match_ids(clause[1], "phrase", slop=clause[2],
                                  with_scores=True)
        raise AssertionError(f"unknown clause kind {kind!r}")

    def simple_query_string(self, q: str, k: int = 10,
                            default_operator: str = "or") -> DataFrame:
        """ES `simple_query_string` — the forgiving query API (never
        raises on query content; see parse_simple_query_string for the
        grammar and pinned divergences). Reference surface: the Kibana
        search bar's non-KQL fallback (reference kibana.ndjson discover
        panel; ES SimpleQueryStringQuery).

        Execution is COMPOSITIONAL over full scored match sets (ES bool
        semantics: score = BM25 sum over every matching clause):
        each clause rides :meth:`match_ids`'s exact shard kernels with
        scores; a group (OR) unions its members and re-sums per doc;
        groups (AND) meet via a count-of-groups-matched aggregate;
        negations anti-join. Every step is candidate-sized and
        distributed — no full match set is ever collected; the only
        global action is the final TakeOrdered(k). No block-max pruning
        across clauses (Lucene also drops WAND under non-trivial
        bools); a single flat group of plain terms delegates to the
        pruned :meth:`search` kernel instead."""
        from picdexer_spark.query.parser import parse_simple_query_string

        groups, negative = parse_simple_query_string(q, default_operator)
        empty = self.spark.createDataFrame([], "doc_id long, score double")

        def neg_ids() -> DataFrame | None:
            sets = [s.select("doc_id") for s in
                    (self._sqs_clause_scored(c) for c in negative)
                    if s is not None]
            if not sets:
                return None
            out = sets[0]
            for s in sets[1:]:
                out = out.unionAll(s)
            return out.distinct()

        if not groups:
            if not negative:
                return empty
            # only-negative query: pinned as constant-score match_all
            # minus the negated sets (the match_ids([]) convention)
            base = self.match_ids([], with_scores=True)
            ni = neg_ids()
            scored = base.join(ni, "doc_id", "left_anti") if ni is not None \
                else base
            return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if (len(groups) == 1 and not negative
                and all(c[0] == "terms" for c in groups[0])):
            flat = sorted({t for c in groups[0] for t in c[1]})
            return self.search(flat, "disjunctive", k)
        per_group = []
        for g in groups:
            sets = [s for s in (self._sqs_clause_scored(c) for c in g)
                    if s is not None]
            if not sets:
                return empty  # a required group that can match nothing
            u = sets[0]
            for s in sets[1:]:
                u = u.unionAll(s)
            per_group.append(
                u.groupBy("doc_id").agg(F.sum("score").alias("score")))
        tagged = per_group[0].withColumn("gid", F.lit(0))
        for i, gdf in enumerate(per_group[1:], start=1):
            tagged = tagged.unionAll(gdf.withColumn("gid", F.lit(i)))
        scored = (
            tagged.groupBy("doc_id")
            .agg(F.sum("score").alias("score"),
                 F.count_distinct("gid").alias("_g"))
        )
        if len(per_group) > 1:
            scored = scored.filter(F.col("_g") == len(per_group))
        scored = scored.drop("_g")
        ni = neg_ids()
        if ni is not None:
            scored = scored.join(ni, "doc_id", "left_anti")
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def terms_set(self, terms: list[str], min_match_col,
                  k: int = 10) -> DataFrame:
        """ES `terms_set` query (Lucene CoveringQuery): a doc matches
        when its number of matching terms >= a PER-DOCUMENT threshold
        (`minimum_should_match_field`); score = BM25 sum over the
        matched terms, like any bool should.

        `min_match_col` is a Column over the live docs table (an actual
        field, or any expression — the minimum_should_match_script
        form). Thresholds are clamped to >= 1: Lucene iterates the
        disjunction, so a doc matching zero terms never surfaces even
        when its threshold is 0.

        Shape: one scored match set per term (pushed In() scans over
        the same posting kernels), candidate-sized union -> per-doc
        (count, sum) aggregate -> one doc_id-keyed join against the
        docs table's threshold column (candidate-sized on the left; the
        docs side reads only (doc_id, threshold) — column pruning keeps
        the scan narrow at any corpus size) -> TakeOrdered(k). The
        per-term fan-out is bounded by len(terms) — terms_set lists are
        small by contract (ES callers pass skill/tag lists, not
        vocabularies)."""
        uniq = sorted(set(terms))
        if not uniq:
            return self.spark.createDataFrame([], "doc_id long, score double")
        per = [self.match_ids([t], "disjunctive", with_scores=True)
               for t in uniq]
        u = per[0]
        for s in per[1:]:
            u = u.unionAll(s)
        agg = u.groupBy("doc_id").agg(
            F.sum("score").alias("score"), F.count("*").alias("_m"))
        live = self.cat.read_live_docs(self.spark, self.snapshot_id)
        req = live.select("doc_id",
                          min_match_col.cast("long").alias("_req"))
        return (
            agg.join(req, "doc_id")
            .filter(F.col("_m") >= F.greatest(F.col("_req"), F.lit(1)))
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def explain(self, terms: list[str], doc_id: int,
                field: str | None = None,
                boosts: dict[str, float] | None = None) -> DataFrame:
        """ES `_explain` API: the per-term BM25 score breakdown for ONE
        document — one row per query term that occurs in the doc with
        (term, tf, dl, df, idf, boost, score), where

            score = boost * idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))

        exactly the kernels' formula (idf over n_docs_scoring — a
        tombstone-inflated N explains the same way it scores). Terms the
        doc lacks get no row (ES: "no matching term" sub-explanations
        carry no score); a deleted or absent doc yields 0 rows (ES
        returns found=false). Total _score = sum(score) over the rows.

        Plan shape: the postings scan is pruned to the doc's single
        shard AND to blocks whose [first_doc, last_doc] span the doc —
        three pushed parquet predicates — so one Arrow batch decodes
        tf/dl for one candidate regardless of posting-list length; the
        per-term stats ride a |q|-row broadcast join."""
        ns, n_docs_sc, avgdl_sc = self._field_stats(field)
        qs = sorted({ns + t for t in terms})
        out_schema = ("term string, tf long, dl long, df long, "
                      "idf double, boost double, score double")
        if not qs:
            return self.spark.createDataFrame([], out_schema)
        dfs = self.term_dfs(qs)
        present = [t for t in qs if t in dfs]
        if not present:
            return self.spark.createDataFrame([], out_schema)
        idf_map = self._idf_map(present, dfs, n_docs_sc, ns, boosts)
        d = int(doc_id)
        shard = d // self.shard_range
        cand = self._candidates(present, ns).filter(
            (F.col("shard_id") == shard)
            & (F.col("first_doc") <= d) & (F.col("last_doc") >= d)
        )

        def decode(it):
            want = np.array([d], np.uint64)
            for pdf in it:
                if not len(pdf):
                    continue
                blocks = _blocks_from_pdf(pdf)
                t_out, tf_out, dl_out = [], [], []
                for t, blk in blocks.items():
                    tf, dl, hit = blk.lookup(want)
                    if hit[0]:
                        t_out.append(t)
                        tf_out.append(int(tf[0]))
                        dl_out.append(int(dl[0]))
                if t_out:
                    yield pd.DataFrame({
                        "term": t_out,
                        "tf": np.array(tf_out, np.int64),
                        "dl": np.array(dl_out, np.int64),
                    })

        hits = cand.mapInPandas(decode, "term string, tf long, dl long")
        # |q|-row per-term stats; idf_map already folds boosts in, so
        # recover the raw idf for display and keep boost separate
        stats = self.spark.createDataFrame(
            [(t, int(dfs[t]), idf(n_docs_sc, dfs[t]),
              idf_map[t] / idf(n_docs_sc, dfs[t]))
             for t in present],
            "term string, df long, idf double, boost double",
        )
        tf_c, dl_c = F.col("tf").cast("double"), F.col("dl").cast("double")
        norm = tf_c * (K1 + 1.0) / (
            tf_c + K1 * (1.0 - B + B * dl_c / F.lit(float(avgdl_sc))))
        out = (
            hits.join(F.broadcast(stats), "term")
            .withColumn("score",
                        F.col("boost") * F.col("idf") * norm)
        )
        if self._tomb_counts:
            out = out.join(
                F.broadcast(self.deletes),
                F.lit(d) == self.deletes["doc_id"], "left_anti")
        if ns:  # display terms without the field-namespace prefix
            out = out.withColumn("term",
                                 F.substring("term", len(ns) + 1, 1 << 20))
        return out.orderBy(F.desc("score"), F.asc("term"))

    def multi_match(
        self,
        terms: list[str],
        k: int = 10,
        match_type: str = "most_fields",
        tie_breaker: float = 0.0,
        fields: tuple[str, ...] = ("text", "url"),
    ) -> DataFrame:
        """ES `multi_match` over the snapshot's scored fields (the
        multi-field mapping contract, reference picdexer.json:67-93 —
        every string field is text + .keyword, and Kibana's default
        query targets all text fields):

        - 'most_fields': bool-should of per-field match queries — a doc
          matching ANY field matches, score = SUM of its field scores;
        - 'best_fields': dis_max — score = MAX field score +
          `tie_breaker` * (sum of the others). tie_breaker=0 is pure
          dis_max (the ES default), 1.0 equals most_fields;
        - 'cross_fields': TERM-centric — each term contributes its best
          single-field score (per-term dis_max), summed over terms, so
          a query whose words live in different fields ranks a doc that
          covers them all above one field matching everything.
          PINNED DIVERGENCE: ES blends the per-field document
          frequencies into one synthetic statistic before scoring;
          here each field keeps its own df and the max picks the
          winner — same intent (kill the idf skew between fields),
          different arithmetic, documented not guessed.

        Each field scores with its OWN BM25 statistics (df, docCount,
        avgdl — Lucene per-field stats via the namespaced postings).

        Plan shape (round 7): ONE exchange. A doc lives in exactly one
        shard, so the per-field combination is shard-local: the candidate
        blocks of every field (terms namespaced, so one blocks dict keeps
        the fields apart) shuffle once to their shard, one kernel computes
        each field's full match scores and combines them per doc
        (sum / dis_max / per-term best — ascending term order, the same
        pinned arithmetic as the per-field kernels), pre-trims to
        k + shard tombstones, and a global TakeOrdered(k) finishes. The
        previous shape ran one kernel pass per field and re-shuffled the
        FULL per-field match sets by doc_id to combine them — two extra
        exchanges carrying match-set-sized data."""
        if match_type not in ("most_fields", "best_fields",
                              "cross_fields"):
            raise ValueError(
                f"unknown multi_match type {match_type!r} "
                "(most_fields / best_fields / cross_fields)"
            )
        if not (0.0 <= tie_breaker <= 1.0):
            raise ValueError("tie_breaker must be in [0, 1]")
        if len(set(fields)) != len(fields) or not fields:
            raise ValueError("fields must be non-empty and distinct")
        uniq = sorted(set(terms))
        if not uniq:
            return self._empty()
        # one disjunctive spec per field: its namespace, present terms, idf
        # map and avgdl — all driver-side metadata
        specs = []
        for f_ in fields:
            ns, n_docs_sc, avgdl_sc = self._field_stats(f_)
            dfs = self.term_dfs([ns + t for t in uniq])
            present = [ns + t for t in uniq if ns + t in dfs]
            if present:
                specs.append(QuerySpec(
                    "disjunctive", present,
                    {t: idf(n_docs_sc, dfs[t]) for t in present},
                    float(avgdl_sc), k, ns=ns))
        if not specs:
            return self._empty()
        cand = self._candidates(specs[0].terms, specs[0].ns)
        for sp in specs[1:]:
            cand = cand.unionByName(self._candidates(sp.terms, sp.ns))
        tomb_counts = self._tomb_counts
        tie = float(tie_breaker)
        mt = match_type
        uniq_terms = uniq  # un-namespaced, ascending

        def mm_shard(pdf: pd.DataFrame, _allowed) -> pd.DataFrame:
            blocks = _blocks_from_pdf(pdf)
            k_eff = k + tomb_counts.get(int(pdf["shard_id"].iat[0]), 0)
            if mt == "cross_fields":
                # per-term dis_max across fields, summed in asc term order
                acc_ids = np.zeros(0, np.int64)
                acc = np.zeros(0, np.float64)
                for t in uniq_terms:
                    best_ids = np.zeros(0, np.int64)
                    best = np.zeros(0, np.float64)
                    for sp in specs:
                        tn = sp.ns + t
                        if tn not in sp.idf_map:
                            continue
                        ids_f, sc_f = field_match_scores(
                            [tn], blocks, sp.idf_map, K1, B, sp.avgdl)
                        m_ids = np.union1d(best_ids, ids_f)
                        m_best = np.full(m_ids.size, -np.inf)
                        p0 = np.searchsorted(m_ids, best_ids)
                        m_best[p0] = best
                        p1 = np.searchsorted(m_ids, ids_f)
                        np.maximum.at(m_best, p1, sc_f)
                        best_ids, best = m_ids, m_best
                    if best_ids.size == 0:
                        continue
                    m_ids = np.union1d(acc_ids, best_ids)
                    m_acc = np.zeros(m_ids.size, np.float64)
                    m_acc[np.searchsorted(m_ids, acc_ids)] = acc
                    m_acc[np.searchsorted(m_ids, best_ids)] += best
                    acc_ids, acc = m_ids, m_acc
                ids, scores = acc_ids, acc
            else:
                all_ids = np.zeros(0, np.int64)
                s_sum = np.zeros(0, np.float64)
                s_max = np.zeros(0, np.float64)
                for sp in specs:
                    ids_f, sc_f = field_match_scores(
                        sp.terms, blocks, sp.idf_map, K1, B, sp.avgdl)
                    if ids_f.size == 0:
                        continue
                    m_ids = np.union1d(all_ids, ids_f)
                    m_sum = np.zeros(m_ids.size, np.float64)
                    m_max = np.full(m_ids.size, -np.inf)
                    p0 = np.searchsorted(m_ids, all_ids)
                    m_sum[p0] = s_sum
                    m_max[p0] = s_max
                    p1 = np.searchsorted(m_ids, ids_f)
                    m_sum[p1] += sc_f
                    np.maximum.at(m_max, p1, sc_f)
                    all_ids, s_sum, s_max = m_ids, m_sum, m_max
                ids = all_ids
                if mt == "most_fields":
                    scores = s_sum
                else:
                    scores = s_max + tie * (s_sum - s_max)
            order = np.lexsort((ids, -scores))[:k_eff]
            return pd.DataFrame({"doc_id": ids[order],
                                 "score": scores[order]})

        return self._merge(self._execute(cand, mm_shard), k)

    def span_first(self, term: str, end: int, k: int = 10) -> DataFrame:
        """ES `span_first` query: the term must occur within the first
        `end` TOKEN positions of the document (Lucene SpanFirstQuery —
        "title words must appear early"). Score = the term's BM25 (the
        underlying span term's weight, the Lucene contract).

        Plan: the term's scored match set, semi-joined against the
        positional payload filtered to pos < end — positions decode
        only for blocks holding matched docs (the term_offsets
        cogroup), so cost follows the match set, not the posting
        list."""
        if end <= 0:
            raise ValueError("end must be positive")
        m = self.match_ids([term], "disjunctive", with_scores=True)
        early = (
            self.term_offsets([term], m.select("doc_id"))
            .filter(F.col("pos") < end)
            .select("doc_id").distinct()
        )
        return (
            m.join(early, "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def analyze(self, text: str) -> list[str]:
        """ES `_analyze` API: the token stream the index-time analyzer
        produces for `text` — THE analyzer (one regex, three identical
        impls: JVM build path, SQL oracle, this python form) plus this
        snapshot's stop filter, so what this returns is exactly what got
        indexed."""
        from picdexer_spark.functions.analysis import analyze_py
        return analyze_py(text, self.stopwords)

    def index_stats(self) -> dict:
        """ES `_stats` / `_cat/indices` analogue: the operational
        one-row summary of this engine's pinned snapshot. Everything
        here is metadata-sized — stats row + manifest + the per-shard
        metrics rollup (one chained-metrics scan, shard-count rows);
        nothing data-sized reaches the driver.

        Keys: snapshot_id, n_docs (as-built maxDoc), live_docs
        (tombstone-adjusted), deleted_docs, avgdl, segments (snapshots
        in the parent chain — the Lucene segment count analogue),
        postings_rows, postings_bytes, positions, url_field, stopwords.
        """
        man = self.cat.read_manifest()
        chain = 1
        snaps = {s["id"]: s for s in man.get("snapshots", [])
                 if isinstance(s, dict)}
        cur = snaps.get(self.snapshot_id)
        while cur and cur.get("parent"):
            chain += 1
            cur = snaps.get(cur["parent"])
        m = self.cat.read(self.spark, "metrics", self.snapshot_id).agg(
            F.coalesce(F.sum("postings_emitted"), F.lit(0)).alias("pr"),
            F.coalesce(F.sum("bytes_compressed"), F.lit(0)).alias("pb"),
        ).first()
        n_deleted = int(self.deletes.count())
        return {
            "snapshot_id": self.snapshot_id,
            # maxDoc (as-built, incl. tombstones — the Lucene contract)
            # vs the live count the stats table already carries
            "n_docs": self.n_docs_scoring,
            "live_docs": self.n_docs,
            "deleted_docs": n_deleted,
            "avgdl": self.avgdl,
            "segments": chain,
            "postings_rows": int(m["pr"]),
            "postings_bytes": int(m["pb"]),
            "positions": self.has_positions,
            "url_field": self.has_url_field,
            "stopwords": list(self.stopwords),
        }

    def filters_agg(self, named_queries: dict[str, str]) -> DataFrame:
        """ES `filters` aggregation (the Kibana "split by filters" bucket
        type): one bucket per NAMED kuery query, value = its full match
        count. Returns (key, n) in declaration order.

        Each named query compiles through parse_kuery and rides
        match_ids (exact per-shard kernels, counts reduced
        distributed-side); the union is one plan, so collecting the
        result is a single action. Bucket count is panel-config-sized
        (a handful), never data-sized."""
        from picdexer_spark.query.parser import parse_kuery

        if not named_queries:
            raise ValueError("filters_agg needs at least one named query")
        parts = []
        for i, (name, q) in enumerate(named_queries.items()):
            terms, mode, filters = parse_kuery(q)
            slop = 0
            if mode.startswith("phrase~"):
                slop = int(mode.split("~", 1)[1])
                mode = "phrase"
            m = self.match_ids(terms, mode, filters, slop=slop)
            parts.append(
                m.agg(F.count("*").alias("n")).select(
                    F.lit(name).alias("key"), "n",
                    F.lit(i).alias("ord"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out.orderBy("ord").drop("ord")

    def term_offsets(self, terms: list[str], match: DataFrame) -> DataFrame:
        """(doc_id, term, pos) for EVERY occurrence of `terms` within the
        docs of `match` (a DataFrame[doc_id]) — the Lucene term-vector read
        behind highlighting, served from the positional payload (pos are
        0-based analyzer ordinals; needs an index with
        store_positions=True).

        Plan: candidate posting blocks and the target doc_ids cogroup by
        shard (the whitelist pattern of filtered search); each task decodes
        positions ONLY for blocks containing requested docs
        (TermBlocks.positions_flat), so cost scales with the highlight set,
        not the posting lists."""
        self._require_positions("term_offsets")
        out_schema = "doc_id long, term string, pos long"
        uniq = sorted(set(terms))
        dfs = self.term_dfs(uniq)
        present = [t for t in uniq if t in dfs]
        if not present:
            return self.spark.createDataFrame([], out_schema)
        def offsets_shard(pdf: pd.DataFrame, want) -> pd.DataFrame:
            blocks = _blocks_from_pdf(pdf)
            d_out, t_out, p_out = [], [], []
            for t in sorted(blocks):
                d, p = blocks[t].positions_flat(want)
                if d.size:
                    d_out.append(d.astype(np.int64))
                    t_out.append(np.full(d.size, t, object))
                    p_out.append(p.astype(np.int64))
            if not d_out:
                return pd.DataFrame()
            return pd.DataFrame({
                "doc_id": np.concatenate(d_out),
                "term": np.concatenate(t_out),
                "pos": np.concatenate(p_out),
            })

        return self._execute(self._candidates(present, positions=True),
                             offsets_shard, allowed=match,
                             out_schema=out_schema)

    def search_highlight(
        self,
        terms: list[str],
        mode: str = "disjunctive",
        k: int = 10,
        window: int = 2,
    ) -> DataFrame:
        """Top-k search with a highlight snippet per hit (the ES
        `highlight` block on discover hits). Pinned semantics:

        - best term per hit = the matching query term with the highest
          idf (rarest), ties -> term asc;
        - first_pos = its first occurrence (0-based token ordinal, from
          the positional payload via :meth:`term_offsets`);
        - snippet = analyzed tokens [max(0, first_pos-window) ..
          first_pos+window] of the stored text, space-joined (clamped at
          doc edges, never re-centered).

        Returns (doc_id, score, best_term, first_pos, snippet) ordered
        (score desc, doc_id asc). The top-k hit list is collected ONCE
        (k rows — the ES coordinator hop; bounded by k, never by corpus)
        and re-broadcast to both the offsets decode and the snippet join:
        re-executing the lazy search plan in two branches would score the
        query twice and risk the branches disagreeing at a tie boundary."""
        from pyspark.sql import Window

        hit_rows = self.search(terms, mode, k).collect()
        if not hit_rows:
            return self.spark.createDataFrame(
                [], "doc_id long, score double, best_term string, "
                    "first_pos long, snippet string"
            )
        hits = self.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in hit_rows],
            RESULT_SCHEMA,
        )
        offs = self.term_offsets(terms, hits.select("doc_id"))
        uniq = sorted(set(terms))
        dfs = self.term_dfs(uniq)
        idf_df = self.spark.createDataFrame(
            [(t, idf(self.n_docs_scoring, dfs[t])) for t in uniq if t in dfs],
            "term string, idf double",
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("idf"), F.asc("term")
        )
        best = (
            offs.groupBy("doc_id", "term")
            .agg(F.min("pos").alias("first_pos"))
            .join(F.broadcast(idf_df), "term")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("term").alias("best_term"), "first_pos")
        )
        docs = self.cat.read_live_docs(self.spark, self.snapshot_id) \
            .select("doc_id", "text")
        from picdexer_spark.functions.tokenize import tokens_col

        start0 = F.greatest(F.col("first_pos") - window, F.lit(0))
        length = F.col("first_pos") + window - start0 + 1
        hit_best = hits.join(F.broadcast(best), "doc_id")  # k rows
        return (
            docs.join(F.broadcast(hit_best), "doc_id")
            .withColumn("toks", tokens_col("text"))
            .select(
                "doc_id", "score", "best_term", "first_pos",
                F.array_join(
                    F.slice(F.col("toks"), start0 + 1, length), " "
                ).alias("snippet"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def search_highlight_fragments(
        self,
        terms: list[str],
        mode: str = "disjunctive",
        k: int = 10,
        window: int = 2,
        number_of_fragments: int = 3,
    ) -> DataFrame:
        """Top-k search with MULTI-fragment highlighting (the ES unified
        highlighter's `number_of_fragments`, one step past
        :meth:`search_highlight`'s single best-term snippet). Pinned:

        - one candidate span per MATCHED query term per hit, anchored at
          that term's first occurrence p (0-based analyzer ordinal):
          [max(0, p-window) .. p+window];
        - OVERLAPPING spans MERGE transitively into one passage (the
          unified highlighter's passage merging: two matched terms that
          share a window render as one passage), spanning
          [min start .. max end] of the merged anchors;
        - passages ranked by (passage score desc, top term asc) where
          passage score = sum of the merged anchors' term idfs and the
          top term is the passage's (idf desc, term asc)-first anchor —
          the unified highlighter's passage scoring (sum of unique term
          weights) — capped at `number_of_fragments`. With no overlaps
          this degenerates to the per-anchor (idf desc, term asc) order;
        - fragment text = the passage's analyzed tokens, space-joined,
          with EVERY query term occurrence inside the span wrapped in
          <em>..</em> (the ES default tags).

        Returns (doc_id, score, frag_rank, term, first_pos, fragment)
        — `term`/`first_pos` are the passage's top term and its anchor —
        ordered (score desc, doc_id asc, frag_rank asc)."""
        from pyspark.sql import Window

        out_schema = ("doc_id long, score double, frag_rank int, "
                      "term string, first_pos long, fragment string")
        hit_rows = self.search(terms, mode, k).collect()
        if not hit_rows:
            return self.spark.createDataFrame([], out_schema)
        hits = self.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in hit_rows],
            RESULT_SCHEMA,
        )
        offs = self.term_offsets(terms, hits.select("doc_id"))
        uniq = sorted(set(terms))
        dfs = self.term_dfs(uniq)
        present = [t for t in uniq if t in dfs]
        idf_df = self.spark.createDataFrame(
            [(t, idf(self.n_docs_scoring, dfs[t])) for t in present],
            "term string, idf double",
        )
        # anchor spans -> transitive interval merge (classic running-max
        # grouping) -> passage score/top-term -> rank. All on the k-row
        # anchor set (<= k docs x |terms| rows), partitioned by doc_id.
        w_ord = Window.partitionBy("doc_id").orderBy("first_pos")
        run_prev = F.max("e").over(
            w_ord.rowsBetween(Window.unboundedPreceding, -1))
        spans = (
            offs.groupBy("doc_id", "term")
            .agg(F.min("pos").alias("first_pos"))
            .join(F.broadcast(idf_df), "term")
            .withColumn(
                "s", F.greatest(F.col("first_pos") - window, F.lit(0)))
            .withColumn("e", F.col("first_pos") + window)
            .withColumn(
                "newg",
                F.when(F.col("s") > F.coalesce(run_prev, F.lit(-1)),
                       F.lit(1)).otherwise(F.lit(0)))
            .withColumn("pg", F.sum("newg").over(
                w_ord.rowsBetween(Window.unboundedPreceding, 0)))
        )
        w_rank = Window.partitionBy("doc_id").orderBy(
            F.desc("p_score"), F.asc(F.col("top.t")))
        anchors = (
            spans.groupBy("doc_id", "pg")
            .agg(
                F.min("s").alias("p_start"),
                F.max("e").alias("p_end"),
                F.sum("idf").alias("p_score"),
                F.min(F.struct(
                    (-F.col("idf")).alias("ni"),
                    F.col("term").alias("t"),
                    F.col("first_pos").alias("fp"),
                )).alias("top"),
            )
            .withColumn("frag_rank", F.row_number().over(w_rank))
            .filter(F.col("frag_rank") <= number_of_fragments)
            .select(
                "doc_id", "frag_rank",
                F.col("top.t").alias("term"),
                F.col("top.fp").alias("first_pos"),
                "p_start", "p_end",
            )
        )
        docs = self.cat.read_live_docs(self.spark, self.snapshot_id) \
            .select("doc_id", "text")
        from picdexer_spark.functions.tokenize import tokens_col

        qterms = F.array(*[F.lit(t) for t in present])
        span = F.slice(F.col("toks"), F.col("p_start") + 1,
                       F.col("p_end") - F.col("p_start") + 1)
        marked = F.transform(
            span,
            lambda t: F.when(
                F.array_contains(qterms, t),
                F.concat(F.lit("<em>"), t, F.lit("</em>")),
            ).otherwise(t),
        )
        hit_anchor = hits.join(F.broadcast(anchors), "doc_id")
        return (
            docs.join(F.broadcast(hit_anchor), "doc_id")
            .withColumn("toks", tokens_col("text"))
            .select(
                "doc_id", "score", "frag_rank", "term", "first_pos",
                F.array_join(marked, " ").alias("fragment"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("frag_rank"))
        )

    def more_like_this(
        self,
        doc_id: int,
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
    ) -> DataFrame:
        """ES more_like_this for one stored doc (the "similar documents"
        panel): pick the doc's most INTERESTING terms — tf >=
        `min_term_freq`, df >= `min_doc_freq`, ranked by tf*idf desc
        (ties term asc), top `max_query_terms` (ES defaults 2/5/25) —
        then run a disjunctive BM25 search with them, excluding the
        source doc. Returns (doc_id, score).

        The source doc fetch is a point lookup (docs are written sorted
        by doc_id, parquet min/max pruned) and its term vector is one
        row — the same coordinator hop ES pays; the search itself is the
        standard distributed path. Exact exclusion via k+1 over-fetch."""
        from picdexer_spark.functions.tokenize import tokenize_py

        row = (
            self.cat.read_live_docs(self.spark, self.snapshot_id)
            .filter(F.col("doc_id") == int(doc_id))
            .select("text")
            .first()
        )
        if row is None:
            raise ValueError(f"doc_id {doc_id} not found among live docs")
        toks = tokenize_py(row["text"] or "")
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        cand = [t for t, c in tf.items() if c >= min_term_freq]
        dfs = self.term_dfs(sorted(cand))
        scored = [
            (-(tf[t] * idf(self.n_docs_scoring, dfs[t])), t)
            for t in cand
            if t in dfs and dfs[t] >= min_doc_freq
        ]
        scored.sort()
        terms = [t for _s, t in scored[:max_query_terms]]
        if not terms:
            return self._empty()
        hits = self.search(terms, "disjunctive", k + 1)
        return (
            hits.filter(F.col("doc_id") != int(doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def significant_terms(
        self,
        terms: list[str],
        mode: str = "disjunctive",
        filters: list = (),
        k: int = 10,
        min_doc_count: int = 1,
    ) -> DataFrame:
        """ES significant_terms over this query's match set (the Kibana
        significant-terms viz fed by the query bar): terms over-represented
        among matching docs vs the corpus, JLH-scored — see
        operators/dashboards.py::significant_terms for the pinned math.
        Returns (term, fg_df, bg_df, score)."""
        from picdexer_spark.operators.dashboards import significant_terms

        m = self.match_ids(terms, mode, filters)
        docs = self.cat.read_live_docs(self.spark, self.snapshot_id)
        # the match set is consumed twice (fg-size count + the semi-join
        # below) and match_ids is the heaviest job in the query — persist
        # so the shard kernels run once, not twice
        m = m.persist()
        try:
            n_fg = m.count()  # ES knows the fg size too
            if n_fg == 0:
                return self.spark.createDataFrame(
                    [], "term string, fg_df long, bg_df long, score double"
                )
            out = significant_terms(docs, m, "text", self.term_stats,
                                    self.n_docs_scoring, n_fg, k,
                                    min_doc_count)
            # materialize before unpersist: the plan references m
            rows = out.collect()
            return self.spark.createDataFrame(rows, out.schema) if rows \
                else self.spark.createDataFrame([], out.schema)
        finally:
            m.unpersist()

    def sampler(
        self,
        terms: list[str],
        mode: str = "disjunctive",
        filters: list = (),
        shard_size: int = 100,
        field_col: str | None = None,
        max_docs_per_value: int | None = None,
    ) -> DataFrame:
        """ES `sampler` / `diversified_sampler` agg scope: the
        top-`shard_size` highest-scoring matching docs PER SHARD, the
        sample expensive sub-aggregations (significant_text, top_hits)
        then run on instead of the full match set. With
        `max_docs_per_value` + `field_col` it is the diversified form:
        at most that many sampled docs may share one value of the field
        (per shard, like ES's per-shard dedup), de-biasing a sample a
        hot key would otherwise flood. Returns DataFrame[doc_id, score].

        Plan shape: full scored match set (per-shard kernels, never
        globally sorted) -> row_number windows partitioned by the
        engine's doc-range shard key — the limit evaluates inside each
        partition (WindowGroupLimit) and only sampled rows survive to
        any downstream exchange; the field join for the diversified
        form is doc_id-keyed against the live-docs table, shuffling
        match-set-sized rows only. Ties break on doc_id asc (pinned;
        ES uses internal doc order)."""
        from pyspark.sql import Window

        if shard_size < 1:
            raise ValueError("shard_size must be >= 1")
        if (max_docs_per_value is None) != (field_col is None):
            raise ValueError(
                "diversified sampler needs BOTH field_col and "
                "max_docs_per_value (plain sampler: neither)")
        m = self.match_ids(terms, mode, filters, with_scores=True)
        m = m.select(
            "doc_id", "score",
            F.expr(f"doc_id div {self.shard_range}").alias("_shard"))
        rank = (F.desc("score"), F.asc("doc_id"))
        if max_docs_per_value is not None:
            if max_docs_per_value < 1:
                raise ValueError("max_docs_per_value must be >= 1")
            vals = self.cat.read_live_docs(self.spark, self.snapshot_id) \
                .select("doc_id", F.col(field_col).alias("_v"))
            wv = Window.partitionBy("_shard", "_v").orderBy(*rank)
            m = (m.join(vals, "doc_id")
                 .withColumn("_r", F.row_number().over(wv))
                 .filter(F.col("_r") <= max_docs_per_value)
                 .drop("_r", "_v"))
        w = Window.partitionBy("_shard").orderBy(*rank)
        return (m.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") <= shard_size)
                .drop("_r", "_shard"))

    def significant_text(
        self,
        terms: list[str],
        mode: str = "disjunctive",
        filters: list = (),
        k: int = 10,
        min_doc_count: int = 1,
        sample_shard_size: int | None = None,
        filter_duplicate_text: bool = False,
    ) -> DataFrame:
        """ES `significant_text` agg: significant_terms re-analyzed
        from the text field itself, plus the two knobs that agg adds —
        a sampler scope (`sample_shard_size`, ES's recommended
        sampler>significant_text nesting: fg stats come from the
        top-scoring sample only) and `filter_duplicate_text` (docs
        whose text duplicates an already-scoped doc count once, so one
        boilerplate page pasted N times can't mint fake significance).
        ES dedups on token 6-grams streamed per segment; pinned here as
        whole-doc digest dedup keeping the lowest doc_id — cheaper, and
        exact for the full-copy case the option exists for. Background
        stats stay corpus-wide (the ES contract). Returns
        (term, fg_df, bg_df, score), JLH-scored."""
        from pyspark.sql import Window

        from picdexer_spark.operators.dashboards import significant_terms

        if sample_shard_size is not None:
            m = self.sampler(terms, mode, filters,
                             shard_size=sample_shard_size).select("doc_id")
        else:
            m = self.match_ids(terms, mode, filters)
        docs = self.cat.read_live_docs(self.spark, self.snapshot_id)
        if filter_duplicate_text:
            wd = Window.partitionBy(F.md5(F.col("text"))) \
                .orderBy(F.asc("doc_id"))
            m = (docs.join(m, "doc_id", "semi")
                 .select("doc_id", "text")
                 .withColumn("_r", F.row_number().over(wd))
                 .filter(F.col("_r") == 1).select("doc_id"))
        m = m.persist()
        try:
            n_fg = m.count()
            if n_fg == 0:
                return self.spark.createDataFrame(
                    [], "term string, fg_df long, bg_df long, score double"
                )
            out = significant_terms(docs, m, "text", self.term_stats,
                                    self.n_docs_scoring, n_fg, k,
                                    min_doc_count)
            rows = out.collect()
            return self.spark.createDataFrame(rows, out.schema) if rows \
                else self.spark.createDataFrame([], out.schema)
        finally:
            m.unpersist()

    # ---- result shaping (ES collapse / rescore / function_score / sort
    # clause) — thin delegates, see query/shaping.py for the pinned
    # semantics and plan shapes --------------------------------------

    def collapse(self, terms, collapse_field, k=10, mode="disjunctive",
                 filters=()):
        from picdexer_spark.query import shaping
        return shaping.collapse_top_k(self, terms, collapse_field, k,
                                      mode, filters)

    def rescore(self, terms, phrase_terms, window_size=50, k=10,
                mode="disjunctive", query_weight=1.0,
                rescore_query_weight=1.0):
        from picdexer_spark.query import shaping
        return shaping.rescore_phrase(self, terms, phrase_terms,
                                      window_size, k, mode, query_weight,
                                      rescore_query_weight)

    def function_score(self, terms, field, k=10, mode="disjunctive",
                       filters=(), factor=1.0, modifier="ln1p",
                       boost_mode="multiply", missing=1.0):
        from picdexer_spark.query import shaping
        return shaping.function_score(self, terms, field, k, mode,
                                      filters, factor, modifier,
                                      boost_mode, missing)

    def sort_by_field(self, terms, sort_field, k=10, mode="disjunctive",
                      filters=(), ascending=False):
        from picdexer_spark.query import shaping
        return shaping.sort_by_field(self, terms, sort_field, k, mode,
                                     filters, ascending)

    def constant_score(self, terms, k=10, mode="disjunctive", filters=(),
                       boost=1.0):
        from picdexer_spark.query import shaping
        return shaping.constant_score(self, terms, k, mode, filters, boost)

    def dis_max(self, term_sets, k=10, tie_breaker=0.0,
                mode="disjunctive"):
        from picdexer_spark.query import shaping
        return shaping.dis_max(self, term_sets, k, tie_breaker, mode)

    def boosting(self, positive_terms, negative_terms, k=10,
                 mode="disjunctive", negative_boost=0.5):
        from picdexer_spark.query import shaping
        return shaping.boosting_query(self, positive_terms, negative_terms,
                                      k, mode, negative_boost)

    def search_topk(self, terms, mode="disjunctive", k=10, prune=True,
                    after=None):
        """Collected [(doc_id, score)], the oracle-comparable form.
        `after`: search_after cursor, see :meth:`search`."""
        return [
            (int(r["doc_id"]), float(r["score"]))
            for r in self.search(terms, mode, k, prune, after=after).collect()
        ]

    def search_batch(
        self,
        queries: list[dict],
        prune: bool = True,
    ) -> DataFrame:
        """Run a whole query SET as one Spark job (the query-throughput
        path: at cluster scale you don't schedule a job per query).

        `queries`: [{"query_id": int, "terms": [...], "mode": ..., "k": n,
        "slop": s?}], mode one of conjunctive/disjunctive/phrase (phrase
        terms in order; needs a positional index — validated driver-side;
        optional "slop" relaxes adjacency per wand.score_phrase). One postings scan
        filtered to the union of all query terms; a broadcast join against
        the tiny (query_id, term) table replicates each candidate block to
        the queries that need it; ONE shuffle to (shard_id, query_id) so
        every query x shard pair is its own task — the parallelism is
        n_shards * n_queries, not n_shards (the round-1 shape scored all
        queries serially inside each shard task: 6 queries on a 2-shard
        corpus used 2 of 32 cores and ran slower than 6 sequential jobs).
        Per-query global top-k via a second grouped kernel over the
        (queries x shards x k)-sized candidate union — round 7: replaces
        a window-rank + broadcast-joined per-query k + filter tail whose
        rank cut could never push below the exchange (the k bound was a
        joined COLUMN, not a literal, so WindowGroupLimit did not apply
        and every per-shard row crossed the window), and whose
        WindowExec/join codegen dominated one-shot latency. Returns
        (query_id, rank, doc_id, score), row-identical to the window
        formulation.
        """
        modes = {q.get("mode") for q in queries}
        bad = modes - {"conjunctive", "disjunctive", "phrase"}
        if bad:
            raise ValueError(f"unknown query mode(s) {sorted(bad)!r}")
        any_phrase = "phrase" in modes
        if any_phrase:
            self._require_positions()
        out_schema = "query_id long, rank int, doc_id long, score double"
        all_terms = sorted({t for q in queries for t in set(q["terms"])})
        if not all_terms:
            return self.spark.createDataFrame([], out_schema)
        dfs = self.term_dfs(all_terms)
        idf_map = {t: idf(self.n_docs_scoring, d) for t, d in dfs.items()}
        specs: dict[int, QuerySpec] = {}
        for q in queries:
            if int(q.get("slop") or 0) and q["mode"] != "phrase":
                raise ValueError("slop is only valid for phrase queries")
            uniq = sorted(set(q["terms"]))
            present = [t for t in uniq if t in dfs]
            if q["mode"] in ("conjunctive", "phrase") and \
                    len(present) < len(uniq):
                continue  # a required term matches nothing anywhere
            if present:
                specs[int(q["query_id"])] = QuerySpec(
                    q["mode"], present, idf_map, self.avgdl_scoring,
                    int(q["k"]),
                    # phrase scoring needs the original term ORDER
                    ordered=(list(q["terms"]) if q["mode"] == "phrase"
                             else present),
                    slop=int(q.get("slop") or 0), prune=prune,
                )
        if not specs:
            return self.spark.createDataFrame([], out_schema)
        tomb_counts = self._tomb_counts
        # one shard, no tombstones: each (shard, query) kernel's output IS
        # that query's exact global top-k, already in final order (the
        # kernels end in _topk's (score desc, doc_id asc) lexsort) — emit
        # ranks directly and skip the per-query merge kernel and its
        # exchange entirely
        ranked = self._single_shard and not tomb_counts

        def score_query_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            qid = int(pdf["query_id"].iat[0])
            spec = specs[qid]
            k_eff = spec.k + tomb_counts.get(int(pdf["shard_id"].iat[0]), 0)
            ids, scores = _score_blocks(spec, _blocks_from_pdf(pdf), k_eff)
            out = pd.DataFrame({"query_id": qid, "doc_id": ids,
                                "score": scores})
            if ranked:
                out.insert(1, "rank",
                           np.arange(1, ids.size + 1, dtype=np.int32))
            return out

        qterms = self.spark.createDataFrame(
            [(qid, t) for qid, spec in specs.items() for t in spec.terms],
            "query_id long, term string",
        )
        per_shard = (
            self._candidates(all_terms, positions=any_phrase)
            .join(F.broadcast(qterms), "term")
            .groupBy("shard_id", "query_id")
            .applyInPandas(score_query_shard, out_schema if ranked else
                           "query_id long, doc_id long, score double")
        )
        if ranked:
            return per_shard
        per_shard = self._merge(per_shard, None)

        def topk_query(pdf: pd.DataFrame) -> pd.DataFrame:
            qid = int(pdf["query_id"].iat[0])
            ids = pdf["doc_id"].to_numpy(np.int64)
            sc = pdf["score"].to_numpy(np.float64)
            # exact Spark sort-key order: score desc, doc_id asc
            order = np.lexsort((ids, -sc))[:specs[qid].k]
            return pd.DataFrame({
                "query_id": qid,
                "rank": np.arange(1, order.size + 1, dtype=np.int32),
                "doc_id": ids[order],
                "score": sc[order],
            })

        return per_shard.groupBy("query_id").applyInPandas(
            topk_query, out_schema
        )


def rrf_fuse(inputs: list[DataFrame], k: int = 10,
             rank_constant: int = 60,
             window_size: int = 100) -> DataFrame:
    """ES Reciprocal Rank Fusion (the 8.x `rrf` retriever — the
    standard hybrid-search combiner for BM25 + kNN):

        score(doc) = sum over retrievers of 1 / (rank_constant +
                     rank_in_that_retriever(doc))

    computed over each retriever's top `window_size` (the ES
    rank_window_size), final order (rrf score desc, doc_id asc).
    `inputs` are (doc_id, score) DataFrames — any retriever output
    (search(), cosine_topk reshaped, a reranker); ranks are re-derived
    per input by (score desc, doc_id asc) so ties fuse identically no
    matter which engine produced the list.

    Scale shape: each input is already a top-list (retrievers return
    k-sized windows — pass top-N results, not full match sets); the
    per-input window rank runs on those window-sized sets, the union
    is at most len(inputs) * window_size rows, and the only global
    action is TakeOrdered(k)."""
    from pyspark.sql import Window

    if not inputs:
        raise ValueError("rrf_fuse needs at least one input")
    if rank_constant < 1 or window_size < 1:
        raise ValueError("rank_constant and window_size must be >= 1")
    ranked = []
    for df in inputs:
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        ranked.append(
            df.select("doc_id", "score")
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= window_size)
            .select("doc_id",
                    (1.0 / (F.lit(float(rank_constant)) + F.col("_rk")))
                    .alias("_rr"))
        )
    u = ranked[0]
    for r in ranked[1:]:
        u = u.unionAll(r)
    return (
        u.groupBy("doc_id").agg(F.sum("_rr").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_indices(spark: SparkSession, index_dirs, terms,
                   mode: str = "disjunctive", k: int = 10,
                   stats: str = "query_then_fetch",
                   **search_kwargs) -> DataFrame:
    """Cross-index search — ES ``GET idx1,idx2/_search`` (also what a
    multi-target alias or an ``idx-*`` pattern fans into): run the query
    against every index and merge one global top-k.

    ``stats`` picks the two ES modes exactly:

    * ``query_then_fetch`` (the ES default): each index scores with ITS
      OWN statistics (df, docCount, avgdl) — a rare term in a small
      index legitimately outranks the same term in a huge one, the
      behaviour ES documents;
    * ``dfs_query_then_fetch``: a metadata-sized pre-phase collects df /
      docCount / length sums across the indexes and every index scores
      with the blend — top-k scores become IDENTICAL to a single index
      built over the union corpus (tested bit-for-bit). Term presence
      still gates per index. Content field only.

    Result: (index, doc_id, score), score desc / index asc / doc_id asc.

    ``index_dirs`` maps names to directories ({name: dir}) or is a plain
    list (name = basename). Engine setup per index is coordinator
    metadata work; the scoring jobs are the same pruned shard kernels as
    single-index search, each bounded to its own top-k window, and the
    merge is a TakeOrdered over len(indices) * k rows.
    """
    if not index_dirs:
        raise ValueError("search_indices needs at least one index")
    if isinstance(index_dirs, (list, tuple)):
        named = {os.path.basename(os.path.normpath(d)): d
                 for d in index_dirs}
        if len(named) != len(index_dirs):
            raise ValueError(
                "index basenames collide; pass {name: dir} instead")
    else:
        named = dict(index_dirs)
    if stats not in ("query_then_fetch", "dfs_query_then_fetch"):
        raise ValueError(f"unknown stats mode {stats!r}")
    engines = {name: SearchEngine(spark, d)
               for name, d in sorted(named.items())}
    override = None
    if stats == "dfs_query_then_fetch":
        # the ES DFS pre-phase: one metadata round-trip per index
        # collecting df, then every index scores with the blend — scores
        # become identical to a single index over the union corpus.
        # groups-mode terms live in the `groups` kwarg, not `terms` —
        # collect dfs for BOTH so the override covers every scored term
        uniq = sorted(set(terms) | {
            t for g in (search_kwargs.get("groups") or []) for t in g})
        g_dfs: dict[str, int] = {}
        for e in engines.values():
            for t, df_ in e.term_dfs(uniq).items():
                g_dfs[t] = g_dfs.get(t, 0) + df_
        g_n = sum(e.n_docs_scoring for e in engines.values())
        g_avgdl = (sum(e.n_docs_scoring * e.avgdl_scoring
                       for e in engines.values()) / g_n) if g_n else 0.0
        override = (g_dfs, g_n, g_avgdl)
    parts = []
    for name, e in engines.items():
        res = e.search(terms, mode, k, stats_override=override,
                       **search_kwargs)
        parts.append(res.select(
            F.lit(name).alias("index"), "doc_id", "score"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(F.desc("score"), F.asc("index"),
                       F.asc("doc_id")).limit(k)
