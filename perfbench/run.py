"""Benchmark of the NAER knowledge-graph pipeline and its retrieval
operators, driven through the package's public API from one process at
``local[4]``.

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 15 --trace 0

Workloads (``perfbench/README.md`` says why each exists and what each
metric means on it):

* ``kg_bulk``: synthetic SAD corpus, 2 files per core, flagship
  ``RecognizerPipeline.triples`` into ``lakehouse.write_triples``, then
  subject lookups on the committed table;
* ``retrieval_topk``: BM25 index job, then a closed loop of BM25
  ``search_topk`` and ``cosine_topk`` queries.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of ``layers.py``, and
the spans go to ``.perfbench/traces/``. Every pass and query is checked; a
failed check counts in ``failed``. Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "named_architecture_entity_recognition_spark"
WORKLOADS = ("kg_bulk", "retrieval_topk")
SETUP_REPEATS = 3
MIN_PASSES = 3
# sizes the pre-written pass inputs (kg corpora, retrieval queries), which
# cap a run's passes at seconds / MIN_PASS_S + 2
MIN_PASS_S = 2.0


def set_up_timed(wl, n_corpora: int) -> list:
    """Set up ``SETUP_REPEATS`` times; each repeat stops the previous
    session, starts a new SparkContext (and so new Python workers),
    regenerates every input and warms up. Only the first repeat starts
    the JVM and warms its JIT, so the median is a set-up on a warm JVM."""
    from workloads import WORK

    times = []
    for i in range(SETUP_REPEATS):
        if wl.spark is not None:
            wl.spark.stop()
        for sub in ("in", "out"):
            shutil.rmtree(WORK / sub, ignore_errors=True)
        t0 = time.perf_counter()
        wl.set_up(n_corpora, first=i == 0)
        times.append(time.perf_counter() - t0)
    return times


def measure(wl, seconds: float, mem) -> tuple:
    """Closed loop, one client: passes until ``seconds`` of passes have
    run (at least ``MIN_PASSES``), each over its own pre-written input
    and each checked after it returns. Returns (records, passes that
    raised)."""
    recs, errors, spent, k = [], 0, 0.0, 1
    while k <= wl.n_corpora and (k <= MIN_PASSES or spent < seconds):
        t0 = time.perf_counter()
        try:
            rec = wl.run_pass(k)
            spent += time.perf_counter() - t0
            rec["peak_mb"] = mem.take_peak() / 2**20
            wl.check_pass(rec)
            recs.append(rec)
        except Exception:  # counted as failed; the loop goes on
            traceback.print_exc()
            errors += 1
        k += 1
    return recs, errors


def untraced_run(wl, args, n_corpora: int) -> dict:
    from tracing import TreeMemorySampler
    from workloads import log, median, summarize

    t0 = time.perf_counter()
    setup = set_up_timed(wl, n_corpora)
    wl.prepare_checks()
    t1 = time.perf_counter()
    # memory while the workload runs, not the transients of set-up; the
    # peak is taken over the first MIN_PASSES passes, which every run has,
    # because the JVM and the workers grow a little with every pass
    with TreeMemorySampler() as mem:
        recs, errors = measure(wl, args.seconds, mem)
    s = summarize(recs, errors)
    log(
        f"{wl.name} seed={args.seed}: set-up {t1 - t0:.1f} s, passes and "
        f"checks {time.perf_counter() - t1:.1f} s; setup_s each "
        f"{[round(x, 3) for x in setup]}"
    )
    log(
        "pass job_s / host.probe_ms / peak MB: "
        + ", ".join(
            f"{r['job_s']:.3f}/{r['probe_ms']:.0f}/{r['peak_mb']:.0f}" for r in recs
        )
    )
    log(
        f"output digest {wl.digest}; corpus.dup_line_frac {wl.dup_line_frac:.4f}; "
        f"{s['n_passes']} passes, {s['n_queries']} queries; "
        f"failed_frac {s['failed']}/{s['attempted']}"
    )
    peak_mb = max((r["peak_mb"] for r in recs[:MIN_PASSES]), default=0.0)
    metrics = {
        "job_s": (s["job_s"], "s"),
        "rows_per_s": (s["rows_per_s"], "1/s"),
        "query_p50_ms": (s["query_p50_ms"], "ms"),
        "setup_s": (median(setup), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    return {
        "correct": s["failed"] == 0,
        "attempted": s["attempted"],
        "failed": s["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # Spark's Python workers import the package and these modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p
    )

    import procs
    from tracing import Tracer
    from workloads import CORES, WORK, make_workload

    procs.become_subreaper()

    for sub in ("in", "out", "ckpt", "mat", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(WORK / sub, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")

    cores = min(CORES, len(os.sched_getaffinity(0)))
    wl = make_workload(args.workload, args.seed, cores, Tracer(bool(args.trace)))
    # the traced run times passes 1-3 only
    n_corpora = 3 if args.trace else int(args.seconds / MIN_PASS_S) + 2
    try:
        if args.trace:
            import layers

            result = layers.traced_run(wl, args, n_corpora)
        else:
            result = untraced_run(wl, args, n_corpora)
    finally:
        # every process the run started (JVM, Python daemon and workers)
        # has ended before the run exits
        clean = procs.end_all()
        for sub in ("in", "out", "ckpt", "mat", "spark-local"):
            shutil.rmtree(WORK / sub, ignore_errors=True)
    if not clean:
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
