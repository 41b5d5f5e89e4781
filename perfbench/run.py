"""Benchmark of the program's user paths.

    python3 perfbench/run.py --workload etl_docs|corpus_mix --seed N \\
        --seconds S --trace 0|1

Run from the root of a source checkout.  One local Spark session with
``SPARK_GRAFT_CPUS`` = the usable CPU count, at most ``MAX_CPUS``,
serves one client that runs one op at a time (a closed loop).  Set-up
(session start and input generation, done ``SETUP_REPS`` times, then
untimed warm-up ops) comes first; ops then run until ``--seconds`` have
passed, each checked, untimed, against what the generator planted.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced ops and prints the per-layer metrics, writing every
span and count to ``perfbench/work/trace-<workload>-<seed>.json``.
The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

T_PROCESS = time.perf_counter()

ROOT = Path.cwd()
if __name__ == "__main__":
    # import perfbench as a package, not its modules as top-level names
    sys.path[0] = str(ROOT)

from perfbench import spans  # noqa: E402
from perfbench.workloads import CORPUS_SPECS, WORKLOADS, median  # noqa: E402

#: session start + input generation is repeated this many times and the
#: median reported as ``setup_s``; the first repeat also launches the JVM
SETUP_REPS = 3
DRIVER_MEMORY = "1g"
#: the session's core count: half of a 4-core host, so the JVM's compiler
#: and GC threads and the driver's Python do not compete with the tasks
MAX_CPUS = 2
#: an untraced run times at least this many ops, however long they take
MIN_OPS = 2

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "setup.session_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_frac": "ratio",
    "ops.drift_frac": "ratio",
    "storage.mem_mb": "MB",
    "cli.chunks": "count",
    "sources.raw_from_cell_grids_s": "s",
    "operators.registry.extract_all_s": "s",
    "operators.area.extract_areas_s": "s",
    "operators.island.extract_islands_s": "s",
    "writer.write_all_entities_s": "s",
    "writer.rows": "count",
    "writer.rows_per_task": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.output_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    **{f"plans.{n}.{k}_s": "s" for n in CORPUS_SPECS for k in ("build", "exec")},
    "curate.curate_s": "s",
    "curate.write_s": "s",
    "curate.readback_s": "s",
    "curate.kept_frac": "ratio",
    "sink.bytes_per_input_byte": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def require_program() -> None:
    """Refuse to run outside a checkout holding the program."""
    if not (ROOT / "idn_area_etl_spark" / "__init__.py").is_file():
        sys.exit(f"perfbench: no idn_area_etl_spark package under {ROOT}; "
                 "run from the root of a source checkout")
    try:
        import pyspark  # noqa: F401
    except ImportError as exc:
        sys.exit(f"perfbench: {exc}")


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(MAX_CPUS, len(os.sched_getaffinity(0))))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM of the run, the spark-submit launcher's too: no hsperfdata
    # files under /tmp, temp files under ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(work: Path):
    from idn_area_etl_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def spark_op_stats(tracer: spans.Tracer, sc):
    """``stats(op, name=None)``: Spark work of an op's spans (only the
    spans named ``name`` and their descendants, if given)."""
    jobs_by_span = spans.spark_jobs_by_span(sc)
    stages = spans.spark_stages(sc)
    children: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def subtree(span_id: int) -> list[int]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(children.get(sid, []))
        return out

    def stats(op: int, name: str | None = None) -> dict[str, float]:
        roots = [s["id"] for s in tracer.spans if s["op"] == op
                 and (name is None and s["parent"] is None or s["name"] == name)]
        span_ids = {sid for r in roots for sid in subtree(r)}
        jobs = [j for sid in span_ids for j in jobs_by_span.get(sid, [])]
        stage_ids = {st for j in jobs for st in j["stages"] if st in stages}
        out = {"jobs": len(jobs), "stages": len(stage_ids)}
        out["tasks"] = sum(stages[st]["tasks"] for st in stage_ids)
        for f in spans.STAGE_FIELDS:
            out[f] = sum(stages[st][f] for st in stage_ids)
        return out

    return stats


def main(argv=None) -> int:
    args = parse_args(argv)
    require_program()
    work = ROOT / "perfbench" / "work" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    workload = WORKLOADS[args.workload](work)

    # set-up: session start + inputs, repeated; the first launches the JVM
    setups, session_s, inputs_s = [], [], []
    spark = None
    for rep in range(SETUP_REPS):
        t = T_PROCESS if rep == 0 else time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(work)
        t_inputs = time.perf_counter()
        workload.make_inputs(args.seed)
        done = time.perf_counter()
        session_s.append(t_inputs - t)
        inputs_s.append(done - t_inputs)
        setups.append(done - t)
    sc = spark.sparkContext
    tracer = spans.Tracer(sc)
    if args.trace:
        workload.install(tracer)

    t = t_warm = time.perf_counter()
    warm_problems = []
    for i in range(workload.warmup_ops):
        warm_problems += workload.op(spark, -1 - i, tracer)()
    warmup_s = time.perf_counter() - t
    for p in warm_problems:
        print(f"perfbench: warm-up op: {p}", file=sys.stderr)

    # timed ops: a closed loop; with --trace 1, every other op is traced
    times: dict[bool, list[float]] = {False: [], True: []}
    untraced = times[False]
    op_ids: dict[bool, list[int]] = {False: [], True: []}
    failed = 0
    storage: dict[int, float] = {}
    t_start = time.perf_counter()
    with spans.RssSampler() as rss:
        i = 0
        while True:
            traced = bool(args.trace) and i % 2 == 1
            tracer.enabled = traced
            tracer.op = i
            t = time.perf_counter()
            elapsed = None
            try:
                with tracer.span("op"):
                    check = workload.op(spark, i, tracer)
                elapsed = time.perf_counter() - t
                problems = check()  # untimed
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                problems = [f"{type(exc).__name__}: {exc}"]
            if elapsed is None:
                elapsed = time.perf_counter() - t
            times[traced].append(elapsed)
            op_ids[traced].append(i)
            tracer.enabled = False
            if traced:
                storage[i] = spans.storage_memory_mb(sc)
            if problems:
                failed += 1
                for p in problems[:5]:
                    print(f"perfbench: op {i}: {p}", file=sys.stderr)
            i += 1
            # a traced run needs one traced op; an untraced one, MIN_OPS
            # ops, so its median does not rest on a time-dependent count
            enough = times[True] if args.trace else len(untraced) >= MIN_OPS
            if time.perf_counter() - t_start >= args.seconds and enough:
                break
    attempted = i
    t_checks = time.perf_counter()
    try:
        final = workload.final_check(spark)
    except Exception as exc:  # noqa: BLE001 - reported as a failed check
        final = [f"{type(exc).__name__}: {exc}"]
    for p in final:
        print(f"perfbench: check: {p}", file=sys.stderr)
    if final:
        failed = attempted
    if warm_problems and not failed:
        failed = 1

    op_p50 = median(untraced)
    if args.trace:
        stats = spark_op_stats(tracer, sc)
        traced_ops = op_ids[True]
        layers = dict.fromkeys(PER_LAYER, 0.0)
        if traced_ops:
            layers.update(workload.layers(tracer, traced_ops, stats))
            per_op = [stats(op) for op in traced_ops]
            for key in ("jobs", "stages", "tasks"):
                layers[f"spark.{key}"] = median(s[key] for s in per_op)
            layers["spark.executor_run_s"] = median(s["executorRunTime"] for s in per_op) / 1000
            layers["spark.input_mb"] = median(s["inputBytes"] for s in per_op) / 2**20
            layers["spark.shuffle_write_mb"] = median(s["shuffleWriteBytes"] for s in per_op) / 2**20
            layers["spark.spill_mb"] = median(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in per_op) / 2**20
            layers["spark.output_mb"] = median(s["outputBytes"] for s in per_op) / 2**20
            layers["storage.mem_mb"] = median(storage.values())
            layers["trace.overhead_frac"] = median(times[True]) / op_p50 - 1
        # drift over untraced ops; with only one, over all ops in order
        in_order = untraced if len(untraced) > 1 else [
            t for _, t in sorted(zip(op_ids[False] + op_ids[True], untraced + times[True]))]
        layers.update({
            "setup.session_s": session_s[0],
            "setup.inputs_s": median(inputs_s),
            "setup.warmup_s": warmup_s,
            "ops.drift_frac": in_order[-1] / in_order[0] - 1,
        })
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
        tracer.dump(work.parent / f"trace-{args.workload}-{args.seed}.json", {
            "workload": args.workload, "seed": args.seed,
            "op_seconds": dict(zip(op_ids[False] + op_ids[True], untraced + times[True])),
        })
    else:
        values = {
            "setup_s": median(setups),
            "op_s_p50": op_p50,
            "rows_per_s": workload.rows_per_op / op_p50,
            "peak_rss_mb": rss.peak_mb,
        }
        metrics = {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}

    tracer.unwrap()
    t_stop = time.perf_counter()
    stop_spark(spark)
    print(f"perfbench: phases (s): set-up {t_warm - T_PROCESS:.1f}, warm-up {warmup_s:.1f}, "
          f"timed {t_checks - t_start:.1f}, final check and metrics {t_stop - t_checks:.1f}, "
          f"stop {time.perf_counter() - t_stop:.1f}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{args.workload:12s} {name:38s} {m['value']:14.4f} {m['unit']}")
    print(f"{args.workload:12s} {'ops (untraced, traced)':38s} {len(untraced):7d} {len(times[True]):6d}")
    print(f"{args.workload:12s} {'op seconds, in order':38s} " + " ".join(
        f"{t:.2f}" for _, t in sorted(zip(op_ids[False] + op_ids[True], untraced + times[True]))))
    print(f"{args.workload:12s} {'ops_failed_frac':38s} {failed / attempted:14.4f} ratio")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
