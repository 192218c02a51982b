"""The Spark session lifecycle and one operation of each workload.

An operation is what one client does per loop turn: one ``job.main`` run
for the extraction workloads, one ``q_dedup_minhash`` + ``q_curation``
batch for ``curate_dedup``. Each operation is timed around the calls into
``zerox_spark``'s public entry points only; its output check runs after the
timer stops.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import time
from dataclasses import dataclass, field

from perfbench import check, gen, proc

WORKLOADS = ("crawl_mixed", "formats_heavy", "curate_dedup")
# job.main partitions and buckets per core: two waves of tasks per stage,
# so one descheduled core stalls a stage less (the CLI defaults, 256/256,
# take 30-40 s per operation on 4 cores)
WIDTH_PER_CORE = 2
# untimed operations first: the first pays worker imports, JVM class
# loading and most JIT compilation (2-3x a later operation); the second
# still runs up to 1.4x a warm one on formats_heavy
WARMUP_OPS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def bench_cores() -> int:
    """K of the benchmark's ``local[K]``: half the usable cores.

    A Python UDF task keeps a JVM task thread and a Python worker busy at
    once, so ``local[nproc]`` runs two busy processes per core and times
    the scheduler. Measured on 4 vCPUs: at ``local[4]`` an operation needed
    6-8 operations to reach its warm time and varied with host load from
    minute to minute; at ``local[2]`` it is warm from the second or third
    operation and as fast (crawl_mixed 4.4-4.8 s against 4-5 s,
    formats_heavy at 1500 documents per family 6.1-6.8 s against 7.2-7.9
    s) on half the JVM CPU."""
    return max(1, nproc() // 2)


def _identity(batches):
    yield from batches


def stamp(session: "Session") -> dict:
    """Where and with what a result was measured."""
    import platform

    import pyarrow
    import pyspark

    commit = "unknown"  # a checkout without .git (git would search parents)
    if os.path.exists(".git"):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    conf = session.spark.conf
    return {
        "nproc": nproc(),
        "local_cores": session.cores,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "commit": commit,
        "arrow_max_records_per_batch": conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        ),
        "arrow_max_bytes_per_batch": conf.get(
            "spark.sql.execution.arrow.maxBytesPerBatch"
        ),
    }


class Session:
    """One SparkSession (and the JVM behind it) owned by the benchmark.

    Spark scratch space, the warehouse and JVM temp files go under the
    run's work directory so the benchmark writes only inside its checkout.
    """

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None
        self.cores = 0

    def start(self, cores: int) -> tuple[float, float]:
        """Start ``local[cores]``; returns (session start s, first Python
        task s). The first Python task spawns the worker processes."""
        from zerox_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        }
        t0 = time.perf_counter()
        spark = get_spark(
            f"local[{cores}]", app_name="zerox-spark-job", extra_conf=conf
        )
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        spark.range(cores, numPartitions=cores).mapInPandas(
            _identity, "id long"
        ).collect()
        t2 = time.perf_counter()
        self.spark, self.cores = spark, cores
        return t1 - t0, t2 - t1

    def stop(self, keep_jvm: bool = False) -> None:
        """Stop the session and shut the JVM down, waiting until its
        process has ended, so the next ``start`` pays the full launch.
        ``keep_jvm`` stops the session only: the next ``start`` reuses the
        warm JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None or keep_jvm:
            return
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if jvm is not None:
            jvm.stdin.close()  # the JVM exits when its stdin pipe closes
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()


@dataclass
class OpResult:
    job_s: float
    cpu_s: float
    pages: int  # pages written (curate_dedup: input documents)
    docs: int  # input documents
    error_pages: int
    ok: bool = False
    detail: dict = field(default_factory=dict)


class Workload:
    """Inputs, expected outputs and the operation of one workload."""

    def __init__(self, name: str, seed: int, work: str, sizes: gen.Sizes):
        self.name = name
        self.sizes = sizes
        self.work = work
        t0 = time.perf_counter()
        self.inputs = gen.generate(name, seed, os.path.join(work, "in"), sizes)
        self.gen_s = time.perf_counter() - t0
        if name == "curate_dedup":
            self.expected = check.expected_results(self.inputs)
        else:
            self.expected = check.expected_pages(self.inputs)
        self._n = 0

    def width(self, cores: int) -> int:
        """``job.main`` ``--partitions`` and ``--buckets``."""
        return WIDTH_PER_CORE * cores

    def fresh_output(self) -> str:
        self._n += 1
        return os.path.join(self.work, "out", str(self._n))

    def run(self, session: Session, width: int | None = None) -> OpResult:
        """One timed operation followed by its (untimed) output check.
        ``width`` overrides the job's partitions and buckets."""
        if self.name == "curate_dedup":
            return self._run_curate(session)
        return self._run_job(session, width or self.width(session.cores))

    def _run_job(self, session: Session, width: int) -> OpResult:
        from zerox_spark import job

        out = self.fresh_output()
        argv = [
            "--input", self.inputs.pages_path, "--output", out,
            "--master", f"local[{session.cores}]",
            "--partitions", str(width), "--buckets", str(width),
        ]
        buf = io.StringIO()
        cpu0 = proc.tree_cpu_s()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            job.main(argv)
        job_s = time.perf_counter() - t0
        cpu_s = proc.tree_cpu_s() - cpu0
        stats = json.loads(buf.getvalue().strip().splitlines()[-1])
        res = OpResult(
            job_s, cpu_s, int(stats["total_pages"]), self.inputs.n_docs,
            int(stats["failed"]), detail={"output": out},
        )
        res.ok = res.error_pages == 0 and self.check_job(session, out)
        return res

    def check_job(self, session: Session, out: str) -> bool:
        from zerox_spark.sinks import ParquetSnapshotSink

        rows = (
            ParquetSnapshotSink(out)
            .read_extracted_latest(session.spark)
            .select("url", "page_no", "markdown")
            .collect()
        )
        return check.page_digest(rows) == self.expected

    def _run_curate(self, session: Session) -> OpResult:
        from zerox_spark.queries import q_curation, q_dedup_minhash

        spark, sf = session.spark, self.inputs.docs_dir
        cpu0 = proc.tree_cpu_s()
        t0 = time.perf_counter()
        pairs = q_dedup_minhash(spark, sf).collect()
        kept = q_curation(spark, sf).collect()
        job_s = time.perf_counter() - t0
        cpu_s = proc.tree_cpu_s() - cpu0
        n = self.inputs.n_docs
        res = OpResult(job_s, cpu_s, n, n, 0, detail={"pairs": len(pairs)})
        res.ok = self.check_curate(pairs, kept)
        return res

    def check_curate(self, pairs, kept) -> bool:
        got = {
            "dedup_minhash": check.result_digest(r.asDict() for r in pairs),
            "curation": check.result_digest(r.asDict() for r in kept),
        }
        return got == self.expected

    def cleanup_output(self, res: OpResult) -> None:
        out = res.detail.get("output")
        if out:
            shutil.rmtree(out, ignore_errors=True)
