"""Benchmark of the picdexer_spark engine: seeded workloads, end-to-end and
per-layer metrics, every result checked against the reference oracle.

Run from the root of a checkout:

    python3 perfbench/run.py --workload interactive_small --seed 1 \\
        --seconds 5 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a separate
run that records spans around each layer's public calls and reports the
per-layer metrics.  Every metric is printed as ``metric <name> = <value>
<unit>``; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  Scratch files live
under ``.perfbench_work/`` in the current directory and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys

from spans import HostRecord, RssSampler, reap_descendants

#: end-to-end metrics (untraced run): name -> unit
END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "1/s",
    "engine_open_s": "s",
    "query_p50_s": "s",
    "batch_qps": "1/s",
    "index_bytes_per_input_byte": "ratio",
}

#: build phases reported by BuildResult.phase_secs -> metric name.  The
#: small-table phase is left out: the engine rounds phases to 10 ms and it
#: takes less, so it reads the same on every run.
BUILD_PHASES = {
    "extract+assign_ids": "build.extract_assign_s",
    "docs_write": "build.docs_write_s",
    "postings_write": "build.postings_write_s",
    "term_stats+metrics_aggs": "build.term_stats_s",
}

#: per-layer metrics (traced run): name -> unit
PER_LAYER = {
    "session.start_s": "s",
    "fixtures.gen_s": "s",
    **{m: "s" for m in BUILD_PHASES.values()},
    "build.jobs": "count",
    "build.tasks": "count",
    "build.postings_rows": "count",
    **{f"index.bytes.{t}": "bytes"
       for t in ("docs", "postings", "postings_url", "term_stats", "deletes")},
    **{f"index.files.{t}": "count"
       for t in ("docs", "postings", "postings_url", "term_stats", "deletes")},
    "incremental.upsert_jobs": "count",
    "incremental.tombstones": "count",
    "catalog.chain_len": "count",
    "catalog.chain_files_postings": "count",
    "bm25.engine_init_s": "s",
    "bm25.engine_init_jobs": "count",
    "parser.parse_s": "s",
    "bm25.plan_s": "s",
    "bm25.execute_s": "s",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "scan.candidate_rows": "count",
    "scan.candidate_bytes": "bytes",
    "scan.files_touched": "count",
    "scan.read_s": "s",
    "wand.kernel_s": "s",
    "spark.overhead_s": "s",
    "host.peak_rss_mb": "MB",
    "trace.bookkeeping_s": "s",
    "trace.top_level_share": "ratio",
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(res) -> dict:
    """setup_s is everything before the workload's measured window:
    fixtures, session start, the base build and, on the ingest workload,
    the upsert batch (so its time is bounded like the rest of set-up).
    Open times, query latencies and batch throughputs are medians over
    the run's samples."""
    info = res.info
    return {
        "setup_s": info["setup_s"] + sum(res.upsert_secs),
        "build_docs_per_s": info["n_docs"] / info["build_s"],
        "engine_open_s": median(res.opens),
        "query_p50_s": median(res.latencies),
        "batch_qps": median(res.batch_qps),
        "index_bytes_per_input_byte":
            info["snapshot_bytes"] / info["text_bytes"],
    }


def per_layer(run, res, peak_rss_mb: float) -> dict:
    tr = run.tracer
    info = res.info
    build = tr.by_name("build.base")[0]
    wall = info["run_wall_s"]
    top = sum(s.dur for s in tr.top_level())
    out = {
        "session.start_s": info["session_s"],
        "fixtures.gen_s": info["fixtures_s"],
        **{m: float(run.base_build.phase_secs.get(p, 0.0))
           for p, m in BUILD_PHASES.items()},
        "build.jobs": build.jobs,
        "build.tasks": build.tasks,
        "build.postings_rows": run.base_build.n_postings_rows,
        "catalog.chain_len": info["chain_len"],
        "catalog.chain_files_postings": info["chain_files_postings"],
        "bm25.engine_init_s": median(res.init_secs),
        "host.peak_rss_mb": peak_rss_mb,
        "trace.bookkeeping_s": tr.overhead_s,
        "trace.top_level_share": top / wall if wall else 0.0,
    }
    for t in ("docs", "postings", "postings_url", "term_stats", "deletes"):
        out[f"index.bytes.{t}"] = info[f"bytes.{t}"]
        out[f"index.files.{t}"] = info[f"files.{t}"]
    for name in PER_LAYER:
        if name not in out:
            out[name] = median(res.layer.get(name, []))
    return out


def execute(workload: str, seed: int, seconds: float, traced: bool,
            root: str, spec=None, corrupt: bool = False):
    """One run in a scratch directory under `root`, removed afterwards.
    Returns (the WorkloadRun, its Results, peak RSS in MB, host record)."""
    from workloads import WorkloadRun

    work = os.path.join(root, ".perfbench_work",
                        f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # scratch of Spark, the JVM and Python workers stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the corpora are a few MB: a 2 GB Spark heap keeps the footprint small
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # every JVM (the spark-submit launcher and Spark itself) keeps its temp
    # files in the checkout and writes no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")

    host = HostRecord()
    run = WorkloadRun(workload, seed, seconds, traced=traced, work=work,
                      spec=spec, corrupt=corrupt)
    try:
        with RssSampler() as rss:
            try:
                res = run.run()
            finally:
                run.stop()
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return run, res, rss.peak_mb, host.finish()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import picdexer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {root}: {e}",
              file=sys.stderr)
        return 2
    from workloads import SPECS

    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(known: {', '.join(SPECS)})", file=sys.stderr)
        return 2

    run, res, peak_rss_mb, host_rec = execute(
        args.workload, args.seed, args.seconds, bool(args.trace), root)
    if args.trace:
        metrics, units = per_layer(run, res, peak_rss_mb), PER_LAYER
    else:
        metrics, units = end_to_end(res), END_TO_END

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds}"
          f" trace {args.trace}")
    print("host " + json.dumps(dict(host_rec, peak_rss_mb=peak_rss_mb),
                               sort_keys=True))
    for k in ("run_wall_s", "n_docs", "text_bytes", "snapshot_bytes"):
        print(f"input {k} = {res.info[k]}")
    print(f"samples queries = {len(res.latencies)}, opens = {len(res.opens)},"
          f" batch queries = {res.batch_queries}")
    print("opens_s = " + " ".join(f"{x:.4f}" for x in res.opens))
    print("batch_calls_s = " + " ".join(f"{x:.4f}" for x in res.batch_calls))
    if res.latencies:
        lat = sorted(res.latencies)
        print(f"query latency min/p50/max = {lat[0]:.4f} /"
              f" {median(lat):.4f} / {lat[-1]:.4f} s")
    if res.upsert_secs:
        print(f"metric upsert_p50_s = {median(res.upsert_secs):.6f} s")
    if res.compact_secs:
        print(f"metric compact_s = {median(res.compact_secs):.6f} s")
    ratio = res.failed / res.attempted if res.attempted else 1.0
    print(f"metric ops_failed_ratio = {ratio:.6f} ratio"
          f" ({res.failed} of {res.attempted})")
    for f in res.failures[:20]:
        print(f"failure {f}")
    if args.trace:
        for name, secs in sorted(run.tracer.self_times().items()):
            print(f"self_s {name} = {secs:.6f} s")
        for sp in run.tracer.top_level():
            print(f"top_level {sp.name} = {sp.dur:.3f} s")
    for name, unit in units.items():
        print(f"metric {name} = {metrics[name]} {unit}")

    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
