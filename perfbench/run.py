"""Benchmark of the extraction job as shipped: batch, resume and streaming.

    python3 perfbench/run.py --workload batch_extract --seed 1 --seconds 10 --trace 0

Run from the repository root. It drives the job's public entry points from
one driver process on ``local[nproc]`` with the session the CLI builds,
checks every execution's output against the single-threaded kernel oracle,
prints every metric by name with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``attempted`` counts the
input turns of every checked execution and ``failed`` the turns the checker
rejected. It exits non-zero when the checker fails.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json and
``--trace 1`` the per-layer ones (see perfbench/README.md). Inputs are cached
under ``.perfbench-work/inputs``; every run writes one spans file under
``.perfbench-work/spans`` and deletes its other scratch files on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
N_KERNEL_SAMPLE = 1000  # turns for the single-thread kernel probes


def _isolate(run_dir: str) -> None:
    """Point Spark, the JVM, Python workers and temp files at ``run_dir``,
    and let Python workers import the package under test."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):  # Spark's JVM, its launcher
        os.environ[var] = " ".join(filter(None, [
            os.environ.get(var), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [
        ROOT, os.environ.get("PYTHONPATH")]))


def untraced(wl, ctx, sessions, nproc: int, seconds: float):
    """End-to-end metrics: a cold set-up, one settling execution (JIT and
    code generation; checked, not timed), executions for ``seconds``, then
    a local[1] leg of one commit unit between two restarts."""
    import tracing
    from host import RssSampler, percentile

    spans = ctx.spans
    spark = sessions.start(nproc)
    with spans.span("settle"):
        checked = [wl.settle(spark, ctx)]
    with spans.span("kernel.single_core"):
        single = tracing.single_core_turns_per_s(
            tracing.kernel_sample(ctx.inputs.frame, N_KERNEL_SAMPLE))
    execs = []
    t0 = time.perf_counter()
    # peak RSS of the timed executions: a restart briefly overlaps the old
    # and the new Python workers, which is not the job's footprint
    with spans.span("window"), RssSampler() as rss:
        # at least one execution; another only if it fits the window
        while not execs or (time.perf_counter() - t0
                            + execs[-1].wall_s <= seconds):
            execs.append(wl.execute(spark, ctx))
    # the set-up samples are the cold start, the restart to local[1] and
    # the restart back to local[nproc]
    spark = sessions.start(1)
    with spans.span("leg.local1"):
        t1, leg_ex = wl.leg(spark, ctx)
    spark = sessions.start(nproc)
    if wl.interleaved:
        execs.append(wl.execute(spark, ctx))
    sessions.stop()
    checked += [leg_ex] + execs
    turns = ctx.inputs.n_turns
    units = [u for e in execs for u in e.units]
    values = {
        "turns_per_s": turns / median([e.wall_s for e in execs]),
        "cpu_s_per_kturn": median([e.busy_s for e in execs]) * 1000 / turns,
        "setup_s": median([a + b for a, b in sessions.setups]),
        "output_bytes_per_turn": median([e.output_bytes for e in execs]) / turns,
        "peak_rss_mb": rss.peak_mb,
        "microbatch_s_p50": percentile(units, 50),
        "microbatch_s_p90": percentile(units, 90),
        "scaling_eff": median(t1) / median(wl.leg_samples(execs)) / nproc,
    }
    busy = sum(e.busy_s for e in execs)
    wall = sum(e.wall_s for e in execs)
    record = {
        "executions": len(execs), "units": len(units),
        "leg_local1_s": [round(x, 4) for x in t1],
        "leg_localN_s": [round(x, 4) for x in wl.leg_samples(execs)],
        "host.busy_cores": round(busy / wall, 3),
        "host.steal_pct": round(median([e.steal_pct for e in execs]), 3),
        "kernel.single_core_turns_per_s": round(single, 1),
    }
    return values, [e for e in checked if e is not None], record


def traced(wl, ctx, sessions, nproc: int, run_dir: str):
    """Per-layer metrics. After a settling call, one untraced and one traced
    execution (their ratio is the tracing overhead); then, in the same
    event-logged session, one execution of each other workload, so every
    layer is measured on every workload's rows, and the cumulative plans;
    last the kernel sub-stage probes."""
    import tracing
    from workloads import WORKLOADS, trigger_seconds

    spans = ctx.spans
    spark = sessions.start(nproc)
    with spans.span("settle"):
        checked = [wl.settle(spark, ctx)]
    plain = wl.execute(spark, ctx)
    log_dir = os.path.join(run_dir, "eventlog")
    windows = {}
    t0 = time.time()
    spark = sessions.start(nproc, extra_conf=tracing.event_log_conf(log_dir))
    windows["setup"] = (t0, time.time())
    runs = {}
    for other in [wl] + [w for w in WORKLOADS.values() if w is not wl]:
        t0 = time.time()
        with spans.span("traced." + other.name):
            runs[other.name] = other.execute(spark, ctx)
        windows[other.name] = (t0, time.time())
    with spans.span("cumulative_plans"):
        plans = tracing.cumulative_plans(spark, ctx)
    sessions.stop()
    with spans.span("event_log"):
        log = tracing.EventLog(log_dir, windows)
    with spans.span("kernel_substages"):
        sub = tracing.kernel_substages(
            tracing.kernel_sample(ctx.inputs.frame, N_KERNEL_SAMPLE))

    ex = runs[wl.name]
    resume, stream = runs["resume_snapshots"], runs["stream_backfill"]
    trig = trigger_seconds(stream.progress)
    add = trigger_seconds(stream.progress, "addBatch")
    values = {
        "session.start_s": median([a for a, _ in sessions.setups]),
        "session.worker_warm_s": median([b for _, b in sessions.setups]),
        **{f"{k}.s": v for k, v in tracing.layer_times(plans).items()},
        **tracing.job_layer_metrics(log, wl.name, ctx.inputs.n_turns),
        **sub,
        "write.files": float(ex.output_files),
        "resume.snapshot_s": median(resume.units),
        "resume.snapshots": float(len(resume.units)),
        "stream.trigger_s": median(trig),
        "stream.add_batch_s": median(add),
        "stream.overhead_s": median([t - a for t, a in zip(trig, add)]),
        "stream.tasks_per_batch": log.kernel_tasks("stream_backfill") / len(trig),
        "host.busy_cores": ex.busy_s / ex.wall_s,
        "host.steal_pct": ex.steal_pct,
        "trace.overhead_pct": 100.0 * (ex.wall_s / plain.wall_s - 1),
    }
    record = {"plans_s": {k: round(v, 4) for k, v in plans},
              "untraced_wall_s": round(plain.wall_s, 4),
              "traced_wall_s": {k: round(r.wall_s, 4) for k, r in runs.items()}}
    return values, [e for e in checked + [plain, *runs.values()] if e is not None], record


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, ROOT)
    try:
        import br_doc_ocr_spark  # noqa: F401  (fail fast outside a checkout)
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    _isolate(run_dir)

    import host
    import inputs as inputs_mod
    from checker import Checker
    from spans import Spans
    from workloads import WORKLOADS, Ctx, Sessions

    nproc = host.nproc()
    spans = Spans()
    with spans.span("inputs"):
        inputs = inputs_mod.load(os.path.join(WORK, "inputs"), args.seed)
        checker = Checker(inputs.frame, inputs.sample_conv_ids())
    ctx = Ctx(inputs, checker, spans, run_dir)
    wl = WORKLOADS[args.workload]
    sessions = Sessions(spans)
    try:
        with spans.span("run", workload=wl.name, trace=args.trace):
            if args.trace:
                values, execs, record = traced(wl, ctx, sessions, nproc, run_dir)
            else:
                values, execs, record = untraced(wl, ctx, sessions, nproc, args.seconds)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        sessions.close()
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        spans.write(os.path.join(WORK, "spans", os.path.basename(run_dir) +
                                 f"-t{args.trace}.json"),
                    {"workload": wl.name, "seed": args.seed, "trace": args.trace})
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(e.report.turns for e in execs)
    failed = sum(e.report.failed for e in execs)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    correct = failed == 0 and not missing
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] in values}

    print(f"workload {wl.name}  seed {args.seed}  trace {args.trace}  "
          f"turns {inputs.n_turns}  local[{nproc}]")
    for name, m in metrics.items():
        print(f"  {name:<36} {m['value']:>16.6f} {m['unit']}")
    print("  failed_share " + f"{failed / attempted:.6f}" + f" ({failed}/{attempted} turns)")
    for e in execs:
        if e.report.failed:
            print("  check: " + json.dumps(e.report.__dict__, default=str)[:2000])
    if missing:
        print("  metrics not produced: " + ", ".join(missing))
    print("host " + json.dumps({"nproc": nproc,
                                "mem_total_mb": round(host.mem_total_mb(), 1),
                                **record}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
