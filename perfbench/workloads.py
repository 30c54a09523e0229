"""The benchmark's workloads: one Spark session, one client, closed loop.

A run goes through phases; each phase is one top-level span:

  setup      fixture generation, session start, base ``build_index``
  oracle     expected answers (pure Python, outside every timer)
  warmup     untimed: the process's first ``SearchEngine`` open, then
             one round of the loop
  loop       the measured window: rounds of one request block, one
             ``SearchEngine`` open (construction + first collected result)
             and one ``search_batch`` call, for ``--seconds`` s and at
             least ``min_rounds`` rounds
  upsert     ``build_incremental`` of one batch (ingest workload), then
             the warm-up and the loop on the tombstoned chain
  compact    ``compact``, then an untimed open and ``search_batch`` call
             whose results are checked against the compacted corpus

Latency is the wall time of the public call plus ``collect()``; result
checks run after the timer stops.  Warm-up requests are checked but give
no timing or layer samples, so the first-call compilation of each query
path does not land in the loop's or the batches' figures.  A query that
raises or returns a result that fails its check counts as a failed
operation; a build, upsert, compact or engine construction that raises
ends the run with an error.
"""

from __future__ import annotations

import os
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark import SparkContext

from picdexer_spark.index.build import IndexConfig, build_index
from picdexer_spark.query.bm25 import SearchEngine
from picdexer_spark.query.parser import parse_kuery
from picdexer_spark.session import get_spark
from picdexer_spark.streaming.incremental import build_incremental, compact

from inputs import (
    Oracle,
    Spec,
    bulk_queries,
    ids_by_url,
    interactive_blocks,
    marker_probe,
    materialize,
    open_probe,
    probe_blocks,
    reference_queries,
    same_ranking,
    text_bytes,
    upsert_batch,
    write_pages,
)
from replica import Replica
from spans import NullTracer, Tracer

SPECS = {
    # one shard, KB-sized candidate sets: scheduling and the Python
    # boundary dominate every query
    "interactive_small": Spec(
        n_docs=3000, shard_range=1 << 20, batch_size=20,
    ),
    # ten shards: an upsert (tombstones, a snapshot chain), head-term
    # probes on the chain, a compaction and head/torso-heavy batches
    "ingest_upsert": Spec(
        n_docs=2000, shard_range=200, batch_size=8, min_rounds=3,
        changed_share=0.05, new_share=0.025, same_share=0.025,
    ),
}

#: snapshot tables whose bytes and files the run reports
TABLES = {"docs": "docs", "postings": "postings/field=text",
          "postings_url": "postings/field=url", "term_stats": "term_stats",
          "deletes": "deletes"}


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under `path`."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


@dataclass
class Results:
    latencies: list = field(default_factory=list)
    opens: list = field(default_factory=list)
    init_secs: list = field(default_factory=list)
    batch_queries: int = 0
    batch_calls: list = field(default_factory=list)
    #: queries per second of each timed search_batch call
    batch_qps: list = field(default_factory=list)
    upsert_secs: list = field(default_factory=list)
    compact_secs: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    #: per-request layer samples (traced run)
    layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    #: set while the warm-up runs: it takes no samples
    warming: bool = False

    def sample(self, name: str, value: float) -> None:
        if not self.warming:
            self.layer.setdefault(name, []).append(value)

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


class WorkloadRun:
    def __init__(self, name: str, seed: int, seconds: float, traced: bool,
                 work: str, spec: Spec | None = None, corrupt: bool = False):
        self.name = name
        self.spec = spec or SPECS[name]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.corrupt = corrupt
        self.res = Results()
        self.tracer = Tracer() if traced else NullTracer()
        self.spark = None
        self._req_ids = 0

    # ---- helpers --------------------------------------------------------
    def _span(self, name, **kw):
        return self.tracer.span(name, **kw)

    def _guard(self, what: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            self.res.outcome(False, f"{what}: {type(e).__name__}: {e}")
            return None

    def _index_dir(self) -> str:
        return os.path.join(self.work, "index")

    # ---- phases ---------------------------------------------------------
    def setup(self) -> None:
        spec, work = self.spec, self.work
        t0 = time.perf_counter()
        with self._span("setup"):
            with self._span("fixtures.gen"):
                tf = time.perf_counter()
                self.pages_dir, corpus = materialize(spec, self.seed, work)
                self.refs = reference_queries(self.seed, 50)
                self.res.info["fixtures_s"] = time.perf_counter() - tf
            with self._span("session.start"):
                ts = time.perf_counter()
                self.spark = get_spark(
                    f"perfbench-{self.name}",
                    master=f"local[{len(os.sched_getaffinity(0))}]",
                    extra_conf={
                        "spark.ui.showConsoleProgress": "false",
                        "spark.log.level": "ERROR",
                        "spark.local.dir": os.path.join(work, "spark-local"),
                        "spark.sql.warehouse.dir": os.path.join(work, "wh"),
                    },
                )
                # get_spark pins WARN; every build_incremental onto an
                # existing index logs a caught input_file_name() probe
                # error, which is expected and not a failure
                self.spark.sparkContext.setLogLevel("ERROR")
                self.res.info["session_s"] = time.perf_counter() - ts
            if isinstance(self.tracer, Tracer):
                self.tracer.spark = self.spark
            with self._span("build.base", spark_jobs=True):
                tb = time.perf_counter()
                pages = self.spark.read.parquet(self.pages_dir)
                self.base_build = build_index(
                    self.spark, pages, self._index_dir(),
                    IndexConfig(shard_range=spec.shard_range))
                self.res.info["build_s"] = time.perf_counter() - tb
        self.res.info["setup_s"] = time.perf_counter() - t0
        self.corpus = corpus
        self.res.info["n_docs"] = len(corpus)
        self.res.info["text_bytes"] = text_bytes(corpus)
        self.res.outcome(self.base_build.n_docs == len(corpus),
                         f"base build indexed {self.base_build.n_docs} docs,"
                         f" expected {len(corpus)}")
        snap = os.path.join(self._index_dir(), "snapshots",
                            self.base_build.snapshot_id)
        for t, sub in TABLES.items():
            b, f = dir_usage(os.path.join(snap, sub))
            self.res.info[f"bytes.{t}"] = b
            self.res.info[f"files.{t}"] = f
        self.res.info["snapshot_bytes"] = dir_usage(snap)[0]

    @contextmanager
    def _warming(self):
        """Requests, opens and batch calls inside are checked like any
        other but take no timing or layer samples."""
        with self._span("warmup"):
            self.res.warming = True
            try:
                yield
            finally:
                self.res.warming = False

    def open_engine(self, probe: dict, oracle: Oracle):
        """Engine construction + first collected result on the current
        snapshot (the probe result is checked like any request)."""
        with self._span("open"):
            t0 = time.perf_counter()
            with self._span("bm25.engine_init", spark_jobs=True) as sp:
                ti = time.perf_counter()
                eng = SearchEngine(self.spark, self._index_dir())
                init_s = time.perf_counter() - ti
            got = self._guard(f"open probe {probe['terms']}",
                              lambda: self._execute(eng, probe))
            if got is not None and not self.res.warming:
                self.res.opens.append(time.perf_counter() - t0)
                self.res.init_secs.append(init_s)
                if sp is not None:
                    self.res.sample("bm25.engine_init_jobs", sp.jobs)
            self._check(probe, got, oracle)
        return eng

    def _plan(self, eng, req):
        if req["kind"] == "query_string":
            if self.tracer.enabled:
                with self._span("parser.parse"):
                    tp = time.perf_counter()
                    parse_kuery(req["q"])
                    self.res.sample("parser.parse_s", time.perf_counter() - tp)
            return eng.search_query_string(req["q"], req["k"])
        if req["kind"] == "multi_match":
            return eng.multi_match(req["terms"], req["k"], "most_fields")
        return eng.search(req["terms"], req["mode"], req["k"])

    def _execute(self, eng, req):
        """Plan + collect one request; returns [(doc_id, score)]."""
        with self._span("bm25.plan"):
            tp = time.perf_counter()
            df = self._plan(eng, req)
            plan_s = time.perf_counter() - tp
        with self._span("bm25.execute", spark_jobs=True) as sp:
            te = time.perf_counter()
            rows = df.collect()
            exec_s = time.perf_counter() - te
        if sp is not None:
            req["_plan_s"], req["_exec_s"] = plan_s, exec_s
            self.res.sample("bm25.plan_s", plan_s)
            self.res.sample("bm25.execute_s", exec_s)
            self.res.sample("spark.jobs_per_query", sp.jobs)
            self.res.sample("spark.stages_per_query", sp.stages)
            self.res.sample("spark.tasks_per_query", sp.tasks)
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def _check(self, req, got, oracle: Oracle) -> None:
        if got is None:
            return
        if "_expected" not in req:
            # a block beyond the precomputed ones: the answer is computed
            # after the request's timer stopped
            req["_expected"] = oracle.answer(req)
        exp = req["_expected"]
        if self.corrupt and got:
            got = [(got[0][0] + 1, got[0][1])] + got[1:]
            self.corrupt = False
        ok = same_ranking(got, exp)
        hidden = oracle.hidden & {d for d, _ in got}
        self.res.outcome(ok and not hidden,
                         f"{req.get('kind')} {req['terms']} k={req['k']}: "
                         f"got {got[:3]}.. expected {exp[:3]}.."
                         + (f" tombstoned ids surfaced {sorted(hidden)[:5]}"
                            if hidden else ""))

    def request(self, eng, req, oracle: Oracle, replica=None) -> None:
        self._req_ids += 1
        with self._span("request", request=f"r{self._req_ids}"):
            t0 = time.perf_counter()
            got = self._guard(f"request {req['terms']}",
                              lambda: self._execute(eng, req))
            if got is not None and not self.res.warming:
                self.res.latencies.append(time.perf_counter() - t0)
        self._check(req, got, oracle)
        if (replica is not None and got is not None
                and req["kind"] == "search" and not self.res.warming):
            with self._span("replica"):
                r = replica.run(req["terms"], req["mode"], req["k"])
            self.res.outcome(same_ranking(r["hits"], got),
                             f"replica {req['terms']}: {r['hits'][:3]} vs"
                             f" {got[:3]}")
            self.res.sample("scan.candidate_rows", r["rows"])
            self.res.sample("scan.candidate_bytes", r["bytes"])
            self.res.sample("scan.files_touched", r["files"])
            self.res.sample("scan.read_s", r["read_s"])
            self.res.sample("wand.kernel_s", r["kernel_s"])
            self.res.sample("spark.overhead_s",
                            req["_exec_s"] - r["read_s"] - r["kernel_s"])

    def _round(self, eng, block, probe, oracle: Oracle, batch,
               replica=None):
        """One request block, one open of the snapshot (whose engine the
        next round queries) and one search_batch call."""
        for req in block:
            self.request(eng, req, oracle, replica)
        eng = self.open_engine(probe, oracle)
        self.batch_call(eng, batch, oracle)
        return eng

    def loop(self, eng, blocks, oracle: Oracle, probes: list, batch: list):
        """Closed loop of rounds.  Round 0 is an untimed warm-up: every
        request shape of the blocks, the open and the batch path run once,
        so first-call compilation stays out of the figures.  Timed rounds
        follow until `seconds` have passed and at least `min_rounds` have
        run.  Interleaving spreads each metric's samples over the whole
        window, so a few seconds of host contention move some samples of
        every metric rather than all samples of one; whole blocks keep the
        request mix of every run the same.  Returns the last engine."""
        with self._warming():
            eng = self._round(eng, blocks[0], probes[0], oracle, batch)
        replica = self._replica(eng)
        with self._span("loop"):
            end = time.perf_counter() + self.seconds
            r = 1
            while r <= self.spec.min_rounds or time.perf_counter() < end:
                eng = self._round(eng, blocks[r % len(blocks)],
                                  probes[r % len(probes)], oracle, batch,
                                  replica)
                r += 1
        return eng

    def batch_call(self, eng, queries, oracle: Oracle) -> None:
        """One search_batch call; every query's result is checked."""
        def call():
            with self._span("bm25.batch", spark_jobs=True):
                t0 = time.perf_counter()
                rows = eng.search_batch(queries).collect()
                dt = time.perf_counter() - t0
            return rows, dt

        out = self._guard("search_batch", call)
        if out is None:
            return
        rows, dt = out
        if not self.res.warming:
            self.res.batch_queries += len(queries)
            self.res.batch_calls.append(dt)
            self.res.batch_qps.append(len(queries) / dt)
        by_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(int(r["query_id"]), []).append(
                (int(r["doc_id"]), float(r["score"])))
        for q in queries:
            self._check(q, by_q.get(q["query_id"], []), oracle)

    def _precompute(self, reqs, oracle: Oracle) -> None:
        for r in reqs:
            r["_expected"] = oracle.answer(r)

    # ---- workloads ------------------------------------------------------
    def run(self) -> Results:
        t0 = time.perf_counter()
        self.setup()
        with self._span("oracle"):
            urls = ids_by_url(self.corpus["url"])
            texts = dict(zip(self.corpus["url"],
                             self.corpus["text"].fillna("")))
        if self.name == "interactive_small":
            self.interactive(texts, urls)
        else:
            self.ingest(texts, urls)
        self.res.info["run_wall_s"] = time.perf_counter() - t0
        return self.res

    def _replica(self, eng):
        return Replica(eng) if self.tracer.enabled else None

    def interactive(self, texts: dict, urls: dict) -> None:
        """Rounds of small single requests, an engine open and a
        search_batch call of the reference query set, on a one-shard
        index."""
        spec = self.spec
        with self._span("oracle"):
            base = Oracle({d: (u, texts[u]) for u, d in urls.items()},
                          with_url=True)
            blocks = interactive_blocks(self.seed, self.refs)
            batch = self.refs[: spec.batch_size]
            probes = [open_probe(self.seed + i)
                      for i in range(spec.min_rounds + 1)]
            self._precompute(sum(blocks[: spec.min_rounds + 1], [])
                             + batch + probes, base)
        with self._warming():
            eng = self.open_engine(probes[0], base)
        self._chain_info(eng)
        self.loop(eng, blocks, base, probes, batch)

    def _chain_info(self, eng) -> None:
        paths = eng.cat.existing_chain_paths("postings", eng.snapshot_id)
        self.res.info["chain_len"] = len(eng.cat.parent_chain(eng.snapshot_id))
        self.res.info["chain_files_postings"] = sum(
            1 for p in paths for n in os.listdir(p) if n.endswith(".parquet"))

    def ingest(self, texts: dict, urls: dict) -> None:
        """One upsert batch onto a multi-shard index (changed texts make
        tombstones, the commit makes a snapshot chain), rounds of probe
        blocks, engine opens and head/torso-heavy search_batch calls on the
        chain, then compact and one search_batch call checked against a
        fresh oracle of the live corpus."""
        spec = self.spec
        with self._span("oracle"):
            pdf, fresh = upsert_batch(spec, self.seed, texts)
            path = write_pages(pdf, os.path.join(self.work, "upsert"))
            changed = [u for u in fresh if u in urls]
            new_ids = ids_by_url(fresh, len(urls))
            versions = {d: (u, texts[u]) for u, d in urls.items()}
            versions.update((d, (u, fresh[u])) for u, d in new_ids.items())
            live = dict(texts, **fresh)
            chain = Oracle(versions,
                           hidden=frozenset(urls[u] for u in changed))
            blocks = probe_blocks(10)
            probes = [open_probe(self.seed + i)
                      for i in range(spec.min_rounds + 1)]
            marker = marker_probe()
            batch = bulk_queries(spec.batch_size)
            self._precompute(sum(blocks[: spec.min_rounds + 1], [])
                             + probes + [marker] + batch, chain)
        with self._span("upsert"):
            with self._span("incremental.upsert", spark_jobs=True) as sp:
                t0 = time.perf_counter()
                res = build_incremental(
                    self.spark, self.spark.read.parquet(path),
                    self._index_dir(), source_id="perfbench-upsert")
                self.res.upsert_secs.append(time.perf_counter() - t0)
        if sp is not None:
            self.res.sample("incremental.upsert_jobs", sp.jobs)
        deletes = os.path.join(self._index_dir(), "snapshots",
                               res.snapshot_id, "deletes")
        self.res.info["bytes.deletes"], self.res.info["files.deletes"] = (
            dir_usage(deletes))
        dels = (pq.read_table(deletes).num_rows if os.path.isdir(deletes)
                else 0)
        self.res.sample("incremental.tombstones", dels)
        self.res.outcome(res.n_docs == len(live) and dels == len(changed),
                         f"upsert: {res.n_docs} live docs, {dels} tombstones;"
                         f" expected {len(live)}, {len(changed)}")
        with self._warming():
            eng = self.open_engine(probes[0], chain)
            self.request(eng, marker, chain)
        self._chain_info(eng)
        self.loop(eng, blocks, chain, probes, batch)

        with self._span("oracle"):
            final = Oracle({d: (u, live[u])
                            for u, d in ids_by_url(live).items()})
            batch = bulk_queries(spec.batch_size)
            first = open_probe(self.seed + spec.min_rounds + 1)
            self._precompute(batch + [first], final)
        with self._span("compact"):
            with self._span("incremental.compact", spark_jobs=True):
                t0 = time.perf_counter()
                res = compact(self.spark, self._index_dir())
                self.res.compact_secs.append(time.perf_counter() - t0)
        self.res.outcome(res.n_docs == len(live),
                         f"compact: {res.n_docs} docs, expected {len(live)}")
        # the compacted index is checked, not timed
        with self._warming():
            eng = self.open_engine(first, final)
            self.batch_call(eng, batch, final)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers), also
        when the run ended while the session was starting."""
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        if self.spark is not None:
            self.spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None
