"""Benchmark of the zerox_spark extraction job and dedup queries.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_mixed --seed 1 --seconds 10 --trace 0

The run generates the workload's inputs from ``--seed``, starts Spark on
``local[K]`` (K = half the usable cores, see ``ops.bench_cores``), then
runs one operation at a time from this single process (a closed loop with
one client) until ``--seconds`` have passed after the warm-up, checking
every operation's output against the repo's DuckDB oracles. The last
stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json;
the lines before it give the run's stamp (cores, versions, commit, Arrow
batch settings) and ``error_page_ratio`` and ``failed_ops_ratio``, which
must read 0 (any error page or failed operation also makes ``correct``
false). With ``--trace 1`` a separate traced run reports the per-layer
ledger and writes its spans to ``.perfbench_out/``. ``--out FILE`` also
appends the stamped result record to FILE as one JSON line; two such
files feed

    python3 perfbench/run.py --compare BASE.jsonl CHANGE.jsonl

Workloads:
  crawl_mixed    many small mixed pages; runner crossing and sink dominate
  formats_heavy  real PDF / encrypted PDF / CFB / OOXML / pptx parsing
  curate_dedup   minhash near-dup pairs + the curation pipeline (no
                 extraction). It runs, but is not in BENCHMARK.json: its
                 many small stages made its job_s spread 0.14-0.36 of the
                 median across seeds on a shared 4-vCPU machine, over the
                 0.25 bound; every traced run measures its layers instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
# a run starts no operation after this many seconds, and is interrupted
# at ALARM_S, so it ends inside the 180 s a run may take
RUN_DEADLINE_S = 150
ALARM_S = 175
# a run times at least this many operations, even past --seconds: the
# median of three sets one disturbed operation aside, the median of two
# is their mean (on 4 vCPUs, two-operation runs read 10-20% slower)
MIN_TIMED_OPS = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the stamped result record here")
    ap.add_argument("--compare", nargs=2, metavar=("BASE", "CHANGE"))
    return ap.parse_args(argv)


def _import_program(root: str) -> None:
    """Make the checkout's ``zerox_spark`` and ``perfbench`` importable here
    and in Spark's Python workers; exit non-zero when the checkout holds no
    program."""
    if not os.path.isfile(os.path.join(root, "zerox_spark", "__init__.py")):
        print(f"no zerox_spark package under {root}", file=sys.stderr)
        raise SystemExit(2)
    sys.path.insert(0, root)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")


# the end-to-end metrics with their units, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "pages_per_s": "pages/s",
    "docs_per_s": "docs/s",
    "cpu_s": "s",
    "peak_worker_rss_mb": "MiB",
}


def end_to_end(timed, setup_s: float) -> dict:
    """The end-to-end metrics of an untraced run: medians over its timed
    operations (peak RSS: the largest reading)."""
    med = statistics.median
    values = {
        "setup_s": setup_s,
        "job_s": med(r.job_s for r in timed),
        "pages_per_s": med(r.pages / r.job_s for r in timed),
        "docs_per_s": med(r.docs / r.job_s for r in timed),
        "cpu_s": med(r.cpu_s for r in timed),
        "peak_worker_rss_mb": max(r.detail["peak_rss_mb"] for r in timed),
    }
    return {k: (values[k], u) for k, u in END_TO_END.items()}


def ratios(timed, attempted: int, failed: int) -> dict:
    """The two ratios that must read 0; a non-zero one also fails the run
    (``correct`` false), so they are printed beside, not among, the
    metrics."""
    pages = sum(r.pages for r in timed)
    return {
        "error_page_ratio": (
            sum(r.error_pages for r in timed) / pages if pages else 0.0,
            "ratio",
        ),
        "failed_ops_ratio": (failed / attempted, "ratio"),
    }


def run_loop(workload, session, seconds: float, t_run0: float):
    """Closed loop: one operation at a time until ``seconds`` have passed
    and MIN_TIMED_OPS operations are timed, after the WARMUP_OPS warm-up
    operations, which are checked but not timed. Returns (timed results,
    attempted, failed)."""
    from perfbench import proc
    from perfbench.ops import WARMUP_OPS

    timed, attempted, failed = [], 0, 0
    while True:
        attempted += 1
        try:
            res = workload.run(session)
        except Exception:  # noqa: BLE001 — a failed operation is a result
            traceback.print_exc()
            failed += 1
            break
        res.detail["peak_rss_mb"] = proc.peak_worker_rss_mb()
        workload.cleanup_output(res)
        print(f"operation {attempted}: {res.job_s:.3f} s, "
              f"cpu {res.cpu_s:.1f} s, check {'ok' if res.ok else 'FAILED'}",
              file=sys.stderr)
        if not res.ok:
            failed += 1
            break
        if attempted <= WARMUP_OPS:
            t_loop0 = time.perf_counter()
            continue
        timed.append(res)
        now = time.perf_counter()
        if now - t_run0 >= RUN_DEADLINE_S or (
            len(timed) >= MIN_TIMED_OPS and now - t_loop0 >= seconds
        ):
            break
    return timed, attempted, failed


def untraced(args, workload, session, t_run0: float) -> dict:
    """One measured set-up (JVM launch plus the first Python task, 9-13 s
    on 4 cores: one per run, since a second would add a fifth to the
    run's length), then the closed loop on that session."""
    from perfbench.ops import bench_cores, stamp

    setup_s = sum(session.start(bench_cores()))
    timed, attempted, failed = run_loop(workload, session, args.seconds, t_run0)
    return {
        "correct": failed == 0 and bool(timed),
        "attempted": attempted,
        "failed": failed,
        "metrics": end_to_end(timed, setup_s) if timed else {},
        "ratios": ratios(timed, attempted, failed),
        "stamp": stamp(session),
    }


def _on_alarm(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {ALARM_S} s")


def _on_term(signum, frame):
    raise SystemExit(143)  # unwind through main's finally: stop the JVM


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if args.compare:
        sys.path.insert(0, os.path.dirname(BENCH_DIR))
        from perfbench import compare

        return compare.main(*args.compare)
    _import_program(root)
    from perfbench import gen, ops

    if args.workload not in ops.WORKLOADS:
        print(f"--workload must be one of {ops.WORKLOADS}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.signal(signal.SIGTERM, _on_term)
    signal.alarm(ALARM_S)
    t_run0 = time.perf_counter()
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark prefers this variable over spark.local.dir: keep both inside
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    session = ops.Session(work)
    try:
        workload = ops.Workload(args.workload, args.seed, work, gen.Sizes())
        print(
            f"generated {args.workload} seed={args.seed}: "
            f"{workload.inputs.n_docs} rows, "
            f"{workload.inputs.input_bytes / 2**20:.2f} MiB "
            f"in {workload.gen_s:.2f} s",
            file=sys.stderr,
        )
        if args.trace:
            from perfbench import trace

            result = trace.traced(workload, session, root, args.seed)
        else:
            result = untraced(args, workload, session, t_run0)
    finally:
        session.stop()
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    if not result["metrics"]:
        print("no operation completed", file=sys.stderr)
        return 1
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, **result,
    }
    if args.out:
        with open(args.out, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(record, sort_keys=True) + "\n")
    print(json.dumps({"stamp": result["stamp"]}))
    for name, (v, u) in result.get("ratios", {}).items():
        print(json.dumps({name: {"value": v, "unit": u}}))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            k: {"value": v, "unit": u}
            for k, (v, u) in result["metrics"].items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
