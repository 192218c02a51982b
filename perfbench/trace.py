"""The traced run: the per-layer ledger of one workload.

Spans are recorded from the benchmark's own code, around the calls into
each ``zerox_spark`` module; nothing under ``zerox_spark/`` is patched.
A span holds name, start, end, parent span and operation id; the spans
stay in memory and are written as JSON to ``.perfbench_out/`` when the
run ends. A layer's self time is its span minus the spans it contains.

For the extraction workloads the run times, on one warm session:

- an untraced ``job.main`` operation (the tracing-overhead reference);
- ``ExtractionPipeline.run`` with a timing proxy around its sink, so each
  sink call is its own span and ``pipeline.other_s`` is the rest of run;
- a noop-sink ladder over the same input and widths: scan, then
  + ``salted_repartition``, + an identity ``mapInPandas`` over the columns
  the extract UDF receives, + ``extract_pages``, + the latest-crawl
  dedupe (the full ``ExtractionPipeline.transform``). Each rung's time
  minus the one below is that layer's cost;
- on ``crawl_mixed`` only, the same job at ``local[1]`` in the same JVM
  (scaling).

For the dedup and curation layers: an untraced batch, a traced batch
with one span per query, and the minhash signatures alone under a noop
sink. ``curate_dedup`` runs them on its own input; ``formats_heavy`` runs
them on a seeded documents table of the same size (``crawl_mixed``
measures the scaling instead, so that each traced run ends in time).

Every run also times the extract routes, the HTML stages, markdown emit
and format, and the fold on a seeded document sample in the driver
(``perfbench.layers``). Spark's own counters come from its local REST
API. A per-layer metric a workload does not exercise reads 0.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import urllib.request

from perfbench import layers, ops

LADDER_REPS = 2  # each ladder rung runs this often; the fastest counts

# every per-layer metric with its unit, in BENCHMARK.json order
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "scan.s": "s",
    "scan.input_mb": "MiB",
    "pipeline.dedupe_s": "s",
    "pipeline.other_s": "s",
    "shuffle.s": "s",
    "shuffle.write_mb": "MiB",
    "shuffle.skew": "ratio",
    "udf.tasks": "count",
    "udf.crossing_s": "s",
    "udf.per_task_ms": "ms",
    "udf.arrow_batches": "count",
    "extract.s": "s",
    "extract.body_s": "s",
    **{
        f"route.{r}.{m}": u
        for r in layers.ROUTES
        for m, u in (("docs", "count"), ("ms_per_doc", "ms"),
                     ("error_docs", "count"))
    },
    "html.tokenize_ms_per_doc": "ms",
    "html.parse_ms_per_doc": "ms",
    "html.score_ms_per_doc": "ms",
    "md.emit_ms_per_doc": "ms",
    "md.format_ms_per_doc": "ms",
    "fold.ms_per_doc": "ms",
    "sink.write_extracted_s": "s",
    "sink.write_lineage_s": "s",
    "sink.read_latest_s": "s",
    "sink.files": "count",
    "sink.mb": "MiB",
    "lineage.rows": "count",
    "dedup.signatures_s": "s",
    "dedup.minhash_s": "s",
    "curation.s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MiB",
    "scaling.pages_per_s_1core": "pages/s",
    "scaling.eff_1_to_k": "ratio",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
}


class Tracer:
    """In-memory spans; ``span`` nests by call order."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op = 0
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name, "op": self.op,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Summed duration of ``name`` spans minus their child spans."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        children = sum(s["end"] - s["start"] for s in self.spans
                       if s["parent"] in ids)
        return self.total(name) - children

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


class TimedSink:
    """Proxy that records a ``sink.<method>`` span around every method
    call on the wrapped sink."""

    def __init__(self, sink, tracer: Tracer) -> None:
        self._sink = sink
        self._tracer = tracer

    def __getattr__(self, name: str):
        attr = getattr(self._sink, name)
        if not callable(attr):
            return attr

        def timed(*args, **kwargs):
            with self._tracer.span(f"sink.{name}"):
                return attr(*args, **kwargs)

        return timed


class SparkRest:
    """Spark's monitoring REST API on the driver's local UI port."""

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )
        self.sc = sc

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self) -> None:
        """Wait until no stage is active and the listener bus caught up."""
        while self.sc.statusTracker().getActiveStageIds():
            time.sleep(0.1)
        time.sleep(1.0)

    def max_stage_id(self) -> int:
        return max((s["stageId"] for s in self.get("/stages")), default=-1)

    def stages_after(self, stage_id: int) -> list[dict]:
        self.settle()
        return [s for s in self.get("/stages")
                if s["stageId"] > stage_id and s["status"] == "COMPLETE"]

    def candidate_pairs(self) -> int:
        """Rows out of the last query's ``distinct()`` over band-join
        pairs: the HashAggregate nearest the plan root (lowest node id)."""
        self.settle()
        # the listing pages 20 queries at a time unless told otherwise
        last_id = max(q["id"] for q in self.get(
            "/sql?details=false&offset=0&length=1000000"))
        last = self.get(f"/sql/{last_id}?details=true&planDescription=false")
        aggs = [n for n in last["nodes"] if n["nodeName"] == "HashAggregate"]
        node = min(aggs, key=lambda n: n["nodeId"])
        for m in node["metrics"]:
            if m["name"] == "number of output rows":
                return int(m["value"].replace(",", ""))
        raise RuntimeError("no row count on the candidate aggregate")


def spark_metrics(stages: list[dict]) -> dict[str, float]:
    return {
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numTasks"] for s in stages),
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages)
        / 2**20,
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tree_size(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _untraced_ref(workload: ops.Workload, session: ops.Session,
                  width: int | None = None) -> ops.OpResult:
    res = workload.run(session, width)
    workload.cleanup_output(res)
    if not res.ok:
        raise RuntimeError("untraced reference operation failed its check")
    return res


# -- extraction workloads ----------------------------------------------------
def _traced_job(workload, session, tracer, rest) -> dict[str, float]:
    from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig
    from zerox_spark.sinks import ParquetSnapshotSink

    spark, width = session.spark, workload.width(session.cores)
    out = workload.fresh_output()
    stage0 = rest.max_stage_id()
    tracer.op += 1
    with tracer.span("op"):
        with tracer.span("pipeline.run"):
            pages = spark.read.parquet(workload.inputs.pages_path)
            pipe = ExtractionPipeline(
                PipelineConfig(num_partitions=width, num_buckets=width)
            )
            sink = ParquetSnapshotSink(out)
            stats = pipe.run(spark, pages, TimedSink(sink, tracer))
    with tracer.span("sink.read_latest"):
        ok = workload.check_job(session, out)
    if not ok or stats["failed"]:
        raise RuntimeError("traced operation failed its output check")
    m = spark_metrics(rest.stages_after(stage0))
    files, size = _tree_size(out)
    body_ms = sink.read_extracted(spark).agg({"elapsed_ms": "sum"}).first()[0]
    m.update({
        "trace.job_s": tracer.total("op"),
        "pipeline.other_s": tracer.self_time("pipeline.run"),
        "sink.write_lineage_s": tracer.total("sink.write_lineage"),
        "sink.read_latest_s": tracer.total("sink.read_latest"),
        "sink.files": files,
        "sink.mb": size / 2**20,
        "lineage.rows": sink.read_lineage(spark).count(),
        "extract.body_s": body_ms / 1000.0,
        "_write_extracted_s": tracer.total("sink.write_extracted"),
        "_pages": stats["total_pages"],
    })
    shutil.rmtree(out, ignore_errors=True)
    return m


def _ladder(workload, session, tracer, rest) -> dict[str, float]:
    """Noop-sink rungs; each rung's time minus the one below it."""
    from pyspark.sql import functions as F

    from zerox_spark.operators.extract import extract_pages
    from zerox_spark.operators.repartition import (
        partition_bucket, salted_repartition,
    )
    from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig

    spark, width = session.spark, workload.width(session.cores)
    pipe = ExtractionPipeline(
        PipelineConfig(num_partitions=width, num_buckets=width)
    )
    pages = spark.read.parquet(workload.inputs.pages_path)
    rep = salted_repartition(pages, width)
    needed = rep.select(
        "url", "html", "text", "warc_ts",
        partition_bucket(width).alias("_bucket"),
    )
    rungs = {
        "scan": pages,
        "repartition": rep,
        "identity": needed.mapInPandas(ops._identity, needed.schema),
        "extract": extract_pages(rep, pipe.config.extract, width),
        "transform": pipe.transform(pages),
    }
    t, stages = {}, {}
    for name, df in rungs.items():
        stage0 = rest.max_stage_id()
        with tracer.span(f"ladder.{name}"):
            t[name] = layers.best(_noop, df, reps=LADDER_REPS)[0]
        stages[name] = rest.stages_after(stage0)

    rows = [r["count"] for r in rep.groupBy(F.spark_partition_id()).count()
            .collect()]
    rows += [0] * (width - len(rows))
    per_batch = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"
    ))
    udf_tasks = max(s["numTasks"] for s in stages["identity"])
    crossing = t["identity"] - t["repartition"]
    write_mb = sum(s["shuffleWriteBytes"] for s in stages["repartition"])
    return {
        "scan.s": t["scan"],
        "scan.input_mb": workload.inputs.input_bytes / 2**20,
        "shuffle.s": t["repartition"] - t["scan"],
        # one reading per rep: the stage list holds every rep's stages
        "shuffle.write_mb": write_mb / LADDER_REPS / 2**20,
        "shuffle.skew": max(rows) / max(statistics.median(rows), 1),
        "udf.tasks": udf_tasks,
        "udf.crossing_s": crossing,
        "udf.per_task_ms": 1000.0 * crossing / udf_tasks,
        "udf.arrow_batches": sum(math.ceil(r / per_batch) for r in rows),
        "extract.s": t["extract"] - t["identity"],
        "pipeline.dedupe_s": t["transform"] - t["extract"],
        "_transform_s": t["transform"],
    }


LEDGER = (
    "scan.s", "shuffle.s", "udf.crossing_s", "extract.s",
    "pipeline.dedupe_s", "sink.write_extracted_s", "sink.write_lineage_s",
    "pipeline.other_s",
)


def _print_ledger(m: dict[str, float]) -> None:
    """Where the traced job's wall time went; the remainder is the sink's
    other calls (lineage and manifest reads, the snapshot commit)."""
    job = m["trace.job_s"]
    rest = job - sum(m[k] for k in LEDGER)
    print(f"ledger of the traced job ({job:.3f} s):", file=sys.stderr)
    for k in LEDGER:
        print(f"  {k:24s} {m[k]:8.3f} s  {m[k] / job:6.1%}", file=sys.stderr)
    print(f"  {'other sink calls':24s} {rest:8.3f} s  {rest / job:6.1%}",
          file=sys.stderr)


def _scaling(workload, session, k_pages_per_s: float) -> dict[str, float]:
    """The same job, with the same partitions and buckets, on ``local[1]``
    in the same JVM (one warm-up, one timed operation) against the
    ``local[K]`` rate; efficiency = speed-up ÷ K. Ends the session."""
    k = session.cores
    width = workload.width(k)
    session.stop(keep_jvm=True)
    session.start(1)
    try:
        _untraced_ref(workload, session, width)
        one = _untraced_ref(workload, session, width)
    finally:
        session.stop()
    one_rate = one.pages / one.job_s
    return {
        "scaling.pages_per_s_1core": one_rate,
        "scaling.eff_1_to_k": k_pages_per_s / one_rate / k,
    }


def _extraction(workload, session, tracer, rest) -> dict[str, float]:
    ref = _untraced_ref(workload, session)
    m = _traced_job(workload, session, tracer, rest)
    m.update(_ladder(workload, session, tracer, rest))
    m["sink.write_extracted_s"] = (
        m.pop("_write_extracted_s") - m.pop("_transform_s")
    )
    m["trace.untraced_job_s"] = ref.job_s
    _print_ledger(m)
    m["_k_pages_per_s"] = m.pop("_pages") / ref.job_s
    return m


# -- curate_dedup ------------------------------------------------------------
def _curation(workload, session, tracer, rest):
    """(layer metrics, operation metrics) of one traced curate batch."""
    from zerox_spark.operators.dedup import (
        minhash_signatures, with_injected_duplicates,
    )
    from zerox_spark.queries import _docs, _spread, q_curation, q_dedup_minhash

    spark, sf = session.spark, workload.inputs.docs_dir
    ref = _untraced_ref(workload, session)
    stage0 = rest.max_stage_id()
    tracer.op += 1
    # no enclosing op span: the candidate count must be read between the
    # queries (it is the last query's plan) and waits for the listener bus
    with tracer.span("dedup.minhash"):
        pairs = q_dedup_minhash(spark, sf).collect()
    candidates = rest.candidate_pairs()
    with tracer.span("curation"):
        kept = q_curation(spark, sf).collect()
    if not workload.check_curate(pairs, kept):
        raise RuntimeError("traced batch failed its output check")
    op = spark_metrics(rest.stages_after(stage0))
    op.update({
        "trace.job_s": tracer.total("dedup.minhash") + tracer.total("curation"),
        "trace.untraced_job_s": ref.job_s,
        "scan.input_mb": workload.inputs.input_bytes / 2**20,
    })
    sigs = minhash_signatures(
        _spread(with_injected_duplicates(_docs(spark, sf)), "doc_id")
    )
    with tracer.span("ladder.signatures"):
        signatures_s = layers.best(_noop, sigs, reps=LADDER_REPS)[0]
    layer = {
        "dedup.signatures_s": signatures_s,
        "dedup.minhash_s": tracer.total("dedup.minhash"),
        "curation.s": tracer.total("curation"),
        "dedup.candidate_pairs": candidates,
        "dedup.verified_pairs": len(pairs),
        "dedup.verify_yield": len(pairs) / candidates,
    }
    return layer, op


def traced(workload: ops.Workload, session: ops.Session, root: str,
           seed: int) -> dict:
    """Run the traced ledger; returns the result dict ``run.main`` prints."""
    tracer = Tracer()
    with tracer.span("session.start"):
        start_s, warm_s = session.start(ops.bench_cores())
    rest = SparkRest(session.spark.sparkContext)
    result_stamp = ops.stamp(session)
    for _ in range(ops.WARMUP_OPS):  # as in the untraced run
        _untraced_ref(workload, session)
    if workload.name == "curate_dedup":
        layer, m = _curation(workload, session, tracer, rest)
        m.update(layer)
    else:
        m = _extraction(workload, session, tracer, rest)
        if workload.name == "crawl_mixed":
            m.update(_scaling(workload, session, m["_k_pages_per_s"]))
        else:
            # the dedup and curation layers, on a documents table of their own
            curate = ops.Workload("curate_dedup", seed,
                                  os.path.join(workload.work, "curate"),
                                  workload.sizes)
            m.update(_curation(curate, session, tracer, rest)[0])
        del m["_k_pages_per_s"]
    m.update(layers.driver_metrics(seed))
    m.update({
        "session.start_s": start_s,
        "session.worker_warm_s": warm_s,
        "trace.overhead_s": m["trace.job_s"] - m["trace.untraced_job_s"],
    })
    unknown = set(m) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics missing from PER_LAYER: {sorted(unknown)}")
    path = os.path.join(root, ".perfbench_out",
                        f"spans-{workload.name}-{seed}.json")
    tracer.write(path)
    print(f"spans written to {path}", file=sys.stderr)
    return {
        "correct": True,
        "attempted": 1,
        "failed": 0,
        "metrics": {k: (float(m.get(k, 0.0)), u) for k, u in PER_LAYER.items()},
        "stamp": result_stamp,
    }
