"""The three workloads: the job's public entry points, called from outside.

Each workload has
- ``execute``: one whole job on the seeded table at the current session,
  timed, CPU-metered and checked against the oracle. Its ``units`` are the
  durations of its commit units: the ``run_pipeline`` call, each
  ``run_resumable`` snapshot, each streaming trigger;
- ``settle``: the cheapest full-size call that runs every code path once
  after a cold start (JIT, code generation, worker imports), untimed;
- ``leg``: the commit units timed for ``scaling_eff`` at ``local[1]``, and
  ``leg_samples``: the same units taken from ``local[nproc]`` executions.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from br_doc_ocr_spark import checkpoint, pipeline, streaming

import checker as chk
from host import CpuMeter

RESUME_BUCKETS = 16
RESUME_BUCKETS_PER_CALL = 8


@dataclass
class Execution:
    wall_s: float
    busy_s: float
    steal_pct: float
    units: list[float]            # commit-unit durations, in order
    report: chk.Report
    output_bytes: int
    output_files: int
    progress: list = field(default_factory=list)


class Ctx:
    """What every workload call needs: inputs, checker, spans, scratch."""

    def __init__(self, inputs, checker, spans, work_dir: str):
        self.inputs, self.checker, self.spans = inputs, checker, spans
        self.work_dir = work_dir
        self.sample = inputs.sample_conv_ids()

    def fresh(self, *names: str) -> list[str]:
        paths = [os.path.join(self.work_dir, n) for n in names]
        for p in paths:
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)
        return paths


class BatchExtract:
    """The CLI ``extract`` call: run_pipeline with output and lineage."""

    name = "batch_extract"
    interleaved = True  # one more local[nproc] execution after the local[1] leg

    def execute(self, spark, ctx) -> Execution:
        out, lin = ctx.fresh("batch/out", "batch/lineage")
        with ctx.spans.span("run_pipeline"), CpuMeter() as m:
            pipeline.run_pipeline(spark, ctx.inputs.table, output_path=out,
                                  lineage_path=lin)
        rep = ctx.checker.check(chk.read_output(out, ctx.sample),
                                lineage_rows=chk.lineage_rows(lin),
                                ordered_keys=chk.ordered_keys(out))
        return Execution(m.wall_s, m.busy_s, m.steal_pct, [m.wall_s], rep,
                         chk.output_bytes(out), chk.output_files(out))

    def settle(self, spark, ctx) -> Execution | None:
        return self.execute(spark, ctx)

    def leg(self, spark, ctx) -> tuple[list[float], Execution | None]:
        ex = self.execute(spark, ctx)
        return ex.units, ex

    def leg_samples(self, execs: list[Execution]) -> list[float]:
        # the executions just before and just after the local[1] leg
        return [e.wall_s for e in execs[-2:]]


class ResumeSnapshots:
    """The CLI ``resume`` call: run_resumable, 16 buckets, no lineage, a
    fixed number of buckets per call until nothing is pending."""

    name = "resume_snapshots"
    interleaved = False

    def _loop(self, spark, ctx, max_calls=None) -> list[float]:
        out, man = ctx.fresh("resume/out", "resume/manifest.json")
        units = []
        while True:
            with ctx.spans.span("run_resumable") as s:
                summary = checkpoint.run_resumable(
                    spark, ctx.inputs.table, out, man, n_buckets=RESUME_BUCKETS,
                    max_buckets_per_snapshot=RESUME_BUCKETS_PER_CALL)
            units.append(s.seconds)
            if not summary["pending_after"] or len(units) == max_calls:
                return units

    def execute(self, spark, ctx) -> Execution:
        with CpuMeter() as m:
            units = self._loop(spark, ctx)
        out = os.path.join(ctx.work_dir, "resume/out")
        rep = ctx.checker.check(chk.read_output(out, ctx.sample))
        return Execution(m.wall_s, m.busy_s, m.steal_pct, units, rep,
                         chk.output_bytes(out), chk.output_files(out))

    def settle(self, spark, ctx) -> Execution | None:
        self._loop(spark, ctx, max_calls=1)
        return None

    def leg(self, spark, ctx) -> tuple[list[float], Execution | None]:
        # the first snapshot of a fresh manifest: the same buckets as the
        # first call of every execute()
        return self._loop(spark, ctx, max_calls=1), None

    def leg_samples(self, execs: list[Execution]) -> list[float]:
        return [e.units[0] for e in execs]


class StreamBackfill:
    """stream_extract_with_lineage(available_now=True,
    max_files_per_trigger=1) over the table landed as small files."""

    name = "stream_backfill"
    interleaved = False

    def _query(self, spark, ctx, files_dir):
        out, lin, ck = ctx.fresh("stream/out", "stream/lineage", "stream/ckpt")
        with ctx.spans.span("stream_query"), CpuMeter() as m:
            q = streaming.stream_extract_with_lineage(
                spark, files_dir, out, lin, ck, available_now=True,
                max_files_per_trigger=1)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return out, lin, m, progress

    def execute(self, spark, ctx) -> Execution:
        out, lin, m, progress = self._query(spark, ctx, ctx.inputs.files_dir)
        rep = ctx.checker.check(chk.read_output(out, ctx.sample),
                                lineage_rows=chk.lineage_rows(lin))
        return Execution(m.wall_s, m.busy_s, m.steal_pct, trigger_seconds(progress),
                         rep, chk.output_bytes(out), chk.output_files(out), progress)

    def _head(self, spark, ctx) -> list[float]:
        return trigger_seconds(self._query(spark, ctx, ctx.inputs.head_dir)[3])

    def settle(self, spark, ctx) -> Execution | None:
        self._head(spark, ctx)
        return None

    def leg(self, spark, ctx) -> tuple[list[float], Execution | None]:
        # triggers after the first: the first also starts the query
        return self._head(spark, ctx)[1:], None

    def leg_samples(self, execs: list[Execution]) -> list[float]:
        return [u for e in execs for u in e.units[1:]]


def trigger_seconds(progress: list, key: str = "triggerExecution") -> list[float]:
    return [p["durationMs"][key] / 1000 for p in progress]


WORKLOADS = {w.name: w for w in (BatchExtract(), ResumeSnapshots(), StreamBackfill())}


def first_worker_job(spark, cpus: int) -> None:
    """The first Python-worker job: one tiny mapInPandas task per core."""

    def identity(batches):  # nested: shipped by value, workers import nothing
        yield from batches

    spark.range(0, 4 * cpus, numPartitions=cpus) \
        .mapInPandas(identity, "id long").count()


class Sessions:
    """Builds sessions the way the CLI does and times each set-up: session
    start plus the first Python-worker job."""

    def __init__(self, spans):
        self.spans = spans
        self.spark = None
        self.setups: list[tuple[float, float]] = []  # (start_s, warm_s)

    def start(self, cpus: int, extra_conf: dict | None = None):
        from br_doc_ocr_spark.session import build_session

        self.stop()
        with self.spans.span("setup", cpus=cpus):
            with self.spans.span("session.start") as a:
                spark = build_session(cpus=cpus, extra_conf=extra_conf)
            with self.spans.span("session.worker_warm") as b:
                first_worker_job(spark, cpus)
        self.setups.append((a.seconds, b.seconds))
        self.spark = spark
        return spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM the first session launched, and
        wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=120)
