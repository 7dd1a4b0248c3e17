"""The traced run's pieces: cumulative plans, Spark's local event log, and
single-thread calls into the kernel's sub-stages.

Cumulative plans run to a ``noop`` sink (the last ones write for real) and a
layer's time is the difference between consecutive plans, negative
differences included. Each plan runs under its own job group, so the event
log parser can keep its tasks apart from the workload's own job.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

from pyspark.sql import functions as sf

from br_doc_ocr_spark import pipeline
from br_doc_ocr_spark.core import extract as kx
from br_doc_ocr_spark.core import textops

PLAN_PREFIX = "plan:"
SALT = 8  # run_extraction's default, which every entry point here uses


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        # persist.disk_bytes_per_turn comes from block updates
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cumulative_plans(spark, ctx) -> list[tuple[str, float]]:
    """(plan name, seconds) in order; each plan adds one layer of the batch
    job over the workload's rows."""
    inputs = ctx.inputs
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def identity(batches):  # nested: shipped by value, workers import nothing
        yield from batches

    scan = pipeline.read_transcripts(spark, inputs.table)
    salted = scan.repartition(
        n, sf.col("conv_id"), sf.pmod(sf.col("turn_idx"), sf.lit(SALT)))
    out, lin = ctx.fresh("plans/out", "plans/lineage")
    plans = [
        ("scan", lambda: _noop(scan)),
        ("exchange", lambda: _noop(salted)),
        ("arrow", lambda: _noop(salted.mapInPandas(identity, scan.schema))),
        ("kernel", lambda: _noop(pipeline.run_extraction(scan)[0])),
        ("write", lambda: pipeline.run_pipeline(spark, inputs.table, output_path=out)),
        ("lineage", lambda: pipeline.run_pipeline(
            spark, inputs.table, output_path=out, lineage_path=lin)),
    ]
    timings = []
    for name, run in plans:
        spark.sparkContext.setJobGroup(PLAN_PREFIX + name, name)
        with ctx.spans.span("plan." + name) as s:
            run()
        timings.append((name, s.seconds))
    spark.sparkContext.setJobGroup("after", "after")
    return timings


def layer_times(plans: list[tuple[str, float]]) -> dict[str, float]:
    """Layer seconds from cumulative plan times."""
    out, prev = {}, 0.0
    for name, secs in plans:
        out[name] = secs - prev
        prev = secs
    return out


# ---------------------------------------------------------------------------
# Spark's local event log
# ---------------------------------------------------------------------------

def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


class EventLog:
    """Task metrics and SQL plan metrics, grouped by phase.

    A task's phase is its job's: ``plan:<name>`` for a cumulative plan's
    job group, else the name of the ``windows`` entry (epoch seconds) its
    job was submitted in - a streaming query names its own job groups -
    else ``other``."""

    def __init__(self, log_dir: str, windows: dict[str, tuple[float, float]]):
        self.acc_meta: dict[int, tuple[str, str, str]] = {}
        self.stage_phase: dict[int, str] = {}
        self.tasks: list[dict] = []
        self.block_disk: dict[str, dict[str, float]] = defaultdict(dict)
        phase = "other"
        files = sorted(glob.glob(f"{log_dir}/*/events_*")) or sorted(
            f for f in glob.glob(f"{log_dir}/*") if os.path.isfile(f))
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        submitted = ev["Submission Time"] / 1000
                        phase = group if group.startswith(PLAN_PREFIX) else next(
                            (name for name, (lo, hi) in windows.items()
                             if lo <= submitted <= hi), "other")
                        for sid in ev["Stage IDs"]:
                            # a reused (skipped) stage ran in its first job
                            self.stage_phase.setdefault(sid, phase)
                    elif kind == "SparkListenerTaskEnd":
                        self._task(ev)
                    elif kind == "SparkListenerBlockUpdated":
                        info = ev["Block Updated Info"]
                        block = info["Block ID"]
                        if block.startswith("rdd_"):
                            size = _num(info.get("Disk Size"))
                            cur = self.block_disk[phase].get(block, 0.0)
                            self.block_disk[phase][block] = max(cur, size)
                    elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                        self._plan(ev["sparkPlanInfo"])

    def _plan(self, node: dict) -> None:
        desc = node.get("simpleString", "")
        for m in node.get("metrics", []):
            self.acc_meta[int(m["accumulatorId"])] = (node["nodeName"], m["name"], desc)
        for child in node.get("children", []):
            self._plan(child)

    def _task(self, ev: dict) -> None:
        info = ev["Task Info"]
        self.tasks.append({
            "stage": ev["Stage ID"],
            "seconds": (info["Finish Time"] - info["Launch Time"]) / 1000,
            "updates": {int(a["ID"]): _num(a.get("Update"))
                        for a in info.get("Accumulables", []) if "ID" in a},
        })

    def phase_tasks(self, phase: str) -> list[dict]:
        return [t for t in self.tasks if self.stage_phase.get(t["stage"]) == phase]

    def _ids(self, node_prefix: str, metric: str, desc_has: str | None = None) -> set[int]:
        return {i for i, (node, name, desc) in self.acc_meta.items()
                if node.startswith(node_prefix) and name == metric
                and (desc_has is None or desc_has in desc)}

    def sql_sum(self, phase: str, node_prefix: str, metric: str,
                desc_has: str | None = None) -> float:
        ids = self._ids(node_prefix, metric, desc_has)
        return sum(v for t in self.phase_tasks(phase)
                   for i, v in t["updates"].items() if i in ids)

    def kernel_task_skew(self, phase: str) -> float:
        """max / median task seconds in the stage that sent the most bytes
        to Python workers (the kernel stage, fed by the salted exchange)."""
        ids = self._ids("MapInPandas", "data sent to Python workers")
        per_stage: dict[int, float] = defaultdict(float)
        for t in self.phase_tasks(phase):
            per_stage[t["stage"]] += sum(v for i, v in t["updates"].items() if i in ids)
        if not per_stage:
            return 0.0
        stage = max(per_stage, key=per_stage.get)
        secs = [t["seconds"] for t in self.phase_tasks(phase) if t["stage"] == stage]
        return max(secs) / max(statistics.median(secs), 1e-3)

    def kernel_tasks(self, phase: str) -> int:
        """Tasks that sent rows to the kernel's Python workers."""
        ids = self._ids("MapInPandas", "data sent to Python workers")
        return sum(1 for t in self.phase_tasks(phase)
                   if any(t["updates"].get(i, 0) > 0 for i in ids))

    def persist_disk_bytes(self, phase: str) -> float:
        return sum(self.block_disk.get(phase, {}).values())


# The input scans' ReadSchema; a plan's Location string is cut at 100
# characters, and resume's row-count read of its output reads no columns.
INPUT_SCHEMA_MARK = "role:string,text:string"


def job_layer_metrics(log: EventLog, job: str, turns: int) -> dict[str, float]:
    """The per-layer numbers the event log gives for the phase ``job``."""
    mip = lambda metric: log.sql_sum(job, "MapInPandas", metric)  # noqa: E731
    salted = log.sql_sum(job, "Exchange", "shuffle bytes written", "pmod(turn_idx")
    return {
        "scan.rows_read_per_turn": log.sql_sum(
            job, "Scan parquet", "number of output rows", INPUT_SCHEMA_MARK) / turns,
        "exchange.shuffle_bytes_per_turn": salted / turns,
        # skew of the kernel stage the salted exchange feeds; no exchange, 0
        "exchange.task_s_max_over_median": log.kernel_task_skew(job) if salted else 0.0,
        "arrow.bytes_sent_per_turn": mip("data sent to Python workers") / turns,
        "arrow.bytes_returned_per_turn": mip("data returned from Python workers") / turns,
        # the set-up job starts the session's workers; the job may start more
        "arrow.worker_start_s": (mip("time to start Python workers") + log.sql_sum(
            "setup", "MapInPandas", "time to start Python workers")) / 1000,
        "kernel.python_run_s_per_kturn": mip("time to run Python workers") / turns,
        "kernel.rows_per_turn": mip("number of output rows") / turns,
        "persist.disk_bytes_per_turn": log.persist_disk_bytes(job) / turns,
    }


# ---------------------------------------------------------------------------
# Kernel sub-stages: single-thread direct calls on a sample of the input
# ---------------------------------------------------------------------------

def _median_secs(reps: int, fn) -> float:
    """Median seconds of ``reps`` calls."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_sample(frame, n: int):
    step = max(len(frame) // n, 1)
    return frame.iloc[::step].head(n).reset_index(drop=True)


def single_core_turns_per_s(sample, reps: int = 3) -> float:
    return len(sample) / _median_secs(reps, lambda: kx.extract_batch(sample))


def kernel_substages(sample, reps: int = 5) -> dict[str, float]:
    texts = sample["text"].tolist()
    n = len(texts)
    present = [t for t in texts if t is not None]
    kinds = [textops.detect_payload_kind(t) for t in present]
    html = [t for t, k in zip(present, kinds) if k == textops.KIND_HTML]
    pdf = [t for t, k in zip(present, kinds) if k == textops.KIND_PDF]
    us = 1e6 / n

    def each(fn, items):
        return lambda: [fn(x) for x in items]

    # assembly = extract_batch minus the per-turn calls it makes: paired
    # back-to-back timings, so slow spells of the host cancel
    t_batch, gaps = [], []
    for _ in range(reps):
        b = _median_secs(1, lambda: kx.extract_batch(sample))
        t = _median_secs(1, each(kx.extract_turn, texts))
        t_batch.append(b)
        gaps.append(b - t)
    t_batch = statistics.median(t_batch)
    out = kx.extract_batch(sample)
    return {
        "kernel.single_core_turns_per_s": n / t_batch,
        "kernel.kind_us_per_turn": _median_secs(reps, each(textops.detect_payload_kind, present)) * us,
        "kernel.html_us_per_turn": _median_secs(reps, each(textops.strip_html, html)) * us,
        "kernel.pdf_us_per_turn": _median_secs(reps, each(textops.parse_pdf_layout, pdf)) * us,
        "kernel.scan_fields_us_per_turn": _median_secs(
            reps, each(kx.scan_fields, [t or "" for t in texts])) * us,
        "kernel.assembly_us_per_turn": statistics.median(gaps) * us,
        "kernel.field_yield": float((out["n_fields"] > 0).mean()),
    }
