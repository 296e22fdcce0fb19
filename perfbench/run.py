#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its seeded inputs (outside
every timer), starts a Spark session on ``local[<nproc/2>]``, then runs ops
one after another (one client) until ``--seconds`` of op time have passed,
checking every op's output against the golden answer. There is no warm-up
op: the first op of a fresh session is measured, as a caller's first request
is (a warm-up op costs as much as a measured one, which the run budget does
not allow).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on Spark's
event log, runs one plain op and then traced ops, and prints the per-layer
metrics. Both print a run record line (host, samples, inputs) and, as the
last line of standard output, the result object. Work files live in
``.perfbench/`` at the repository root. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
ENGINE = "cmem_plugin_pyshacl_spark"
# the session's driver heap: get_spark defaults to 48g, more than this
# class of host (4 cores, 15 GB shared) has
DRIVER_MEM = "4g"
SETUP_REPEATS = 3

LAYERS = [
    "relations_fused_stage",
    "unique_relations_stage",
    "canonicalize_stage",
    "triples_stage",
    "write_triples",
    "validate",
    "validate_eval",
    "partition_reports",
    "load_graph",
    "report_graph",
    "post_graph",
]
LAYER_FIELDS = [
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("task_s", "s"),
    ("gc_s", "s"),
    ("rows_out", "count"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
]
UTIL_LAYERS = ["relations_fused_stage", "canonicalize_stage", "triples_stage", "validate_eval"]
EXTRA_METRICS = [
    ("unique_relations_stage.dedup_ratio", "ratio"),
    ("canonicalize_stage.edges", "count"),
    ("triples_stage.fanout_ratio", "ratio"),
    ("triples_stage.broadcast_joins", "count"),
    ("validate.broadcast_joins", "count"),
    ("validate.smj_joins", "count"),
    ("validate.slice_rows", "count"),
    ("write_triples.mb_written", "MB"),
    ("run.jobs_per_op", "count"),
    ("run.stages_per_op", "count"),
    ("run.span_coverage", "ratio"),
    ("sparql_af.compile_s", "s"),
]


def per_layer_names() -> list[tuple[str, str]]:
    out = [(f"{layer}.{f}", unit) for layer in LAYERS for f, unit in LAYER_FIELDS]
    out += [(f"{layer}.core_util", "ratio") for layer in UTIL_LAYERS]
    return out + EXTRA_METRICS


END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("validated_triples_per_s", "1/s"),
    ("cpu_core_s_per_op", "s"),
]


def configure_env(trace: bool) -> dict:
    """Process environment for the session, set before pyspark starts the
    JVM: cores, driver heap, work dirs inside the checkout and, for traced
    runs only, Spark's event log."""
    cpus = len(os.sched_getaffinity(0))
    # task slots: half the cores. A stage of nproc tasks (each with a
    # Python worker beside it in kg_build) waits on whichever core the
    # shared host slows; with spare cores the scheduler moves work away
    slots = max(1, cpus // 2)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # no hsperfdata file: the JVM writes it to /tmp whatever tmpdir says.
        # C1 only: with C2 on, JIT compilation of Spark's generated classes
        # took 25-31 CPU-seconds inside every 13-15 s op of a one-minute
        # run, and its progress, not the engine, set the run-to-run spread.
        # C1 alone gets a 48 MB code cache, which one op fills; the JVM then
        # stops compiling and later work runs interpreted
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
            " -XX:ReservedCodeCacheSize=256m"
        ),
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(slots),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
            )
            + " pyspark-shell",
        }
    )
    return {"cpus": cpus, "slots": slots, "spark_conf": conf}


def start_session(slots: int):
    """get_spark plus one warm-up job that forks the Python worker pool."""
    from cmem_plugin_pyshacl_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{slots}]", shuffle_partitions=slots)
    spark.range(slots, numPartitions=slots).mapInPandas(lambda it: it, "id long").count()
    return spark


def stop_jvm() -> None:
    """End the JVM pyspark started (it exits when its stdin closes) and
    wait for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    import procfs

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    # the JVM's own children (the PySpark worker daemon and its workers)
    # exit once the JVM is gone; wait for them too
    children = [pid for pid in procfs.tree_pids(proc.pid) if pid != proc.pid]
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [pid for pid in children if os.path.exists(f"/proc/{pid}")]
        time.sleep(0.1)
    for pid in children:
        os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = SparkContext._jvm = None


def af_compile_probe(spark, shapes_rows: list[tuple], reps: int = 20) -> float:
    """Median time of the SHACL-AF front end over a catalog's rows:
    compile_sparql_constraints, compile_sparql_targets,
    compile_custom_components and parse_select over every SELECT."""
    from cmem_plugin_pyshacl_spark.data_model import TRIPLES_SCHEMA
    from cmem_plugin_pyshacl_spark.plans.sparql_af import (
        compile_custom_components,
        compile_sparql_constraints,
        compile_sparql_targets,
        parse_select,
    )
    from cmem_plugin_pyshacl_spark.plans.shacl import collect_shapes_rows

    shapes = spark.createDataFrame(shapes_rows, schema=TRIPLES_SCHEMA)
    rows = collect_shapes_rows(shapes)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        constraints = compile_sparql_constraints(rows)
        targets = compile_sparql_targets(rows)
        compile_custom_components(rows, shapes, all_rows=rows)
        for scs in constraints.values():
            for sc in scs:
                if sc.select:
                    parse_select(sc.select)
        for sels in targets.values():
            for sel in sels:
                parse_select(sel)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run(args) -> dict:
    import inputs
    import procfs
    from workloads import WORKLOADS

    host = configure_env(args.trace)
    cpus, slots = host["cpus"], host["slots"]
    record: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "host": {
            "nproc": cpus,
            "task_slots": slots,
            "loadavg_before": os.getloadavg(),
            "python": platform.python_version(),
            "driver_mem": DRIVER_MEM,
        },
    }
    steal0 = procfs.cpu_stat()

    t0 = time.monotonic()
    root = os.path.join(WORK, "inputs")
    inp, reused = inputs.materialize(args.workload, args.seed, args.scale, root)
    cls = WORKLOADS[args.workload]
    input_s = time.monotonic() - t0
    record["inputs"] = {"facts": inp.facts, "reused": reused, "input_s": input_s}

    import pyspark

    record["host"]["pyspark"] = pyspark.__version__
    spark = start_session(slots)
    setup = [time.monotonic() - T_START - input_s]
    for _ in range(SETUP_REPEATS - 1 if not args.trace else 0):
        t = time.monotonic()
        spark.stop()
        spark = start_session(slots)
        setup.append(time.monotonic() - t)
    record["setup_samples_s"] = setup

    out_root = os.path.join(WORK, "out")
    failures: list[str] = []
    attempted = 0

    def checked(wl, i: int, fn) -> float:
        """Run fn (one op), time it, check it outside the timer."""
        nonlocal attempted
        attempted += 1
        t = time.monotonic()
        try:
            fn()
            dt = time.monotonic() - t
            err = wl.check(i)
        except Exception:  # a failed op counts; the run goes on
            dt = time.monotonic() - t
            err = traceback.format_exc(limit=3)
        if err:
            failures.append(f"op {i}: {err}")
        return dt

    wl = cls(spark, inp, out_root)

    if args.trace:
        metrics = traced(args, spark, wl, checked, record)
    else:
        metrics = measured(args, spark, wl, checked, record, setup, procfs)
    stop_jvm()
    record["host"]["loadavg_after"] = os.getloadavg()
    record["host"]["steal_pct"] = procfs.steal_pct(steal0, procfs.cpu_stat())
    record["failures"] = failures
    return {"record": record, "attempted": attempted, "failed": len(failures), "metrics": metrics}


def jvm_busy_s(spark) -> tuple[float, float]:
    """(JIT compilation, garbage collection) seconds of the JVM so far."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mgmt.getGarbageCollectorMXBeans())
    return mgmt.getCompilationMXBean().getTotalCompilationTime() / 1000, gc_ms / 1000


def measured(args, spark, wl, checked, record, setup, procfs) -> dict:
    times, cpu, rss, pss, jit, gcs = [], [], [], [], [], []
    with procfs.RssSampler() as sampler:
        sampler.reset()
        i = 0
        while i == 0 or sum(times) < args.seconds:
            # start every op from a collected heap, so garbage left by the
            # set-up restarts is not collected on its clock
            spark._jvm.System.gc()
            c0, (j0, g0) = procfs.tree_cpu_s(), jvm_busy_s(spark)
            times.append(checked(wl, i, lambda i=i: wl.op(i)))
            cpu.append(procfs.tree_cpu_s() - c0)
            j1, g1 = jvm_busy_s(spark)
            jit.append(j1 - j0)
            gcs.append(g1 - g0)
            rss.append(sampler.peak())
            pss.append(sampler.peak_pss())
            i += 1
    spark.stop()
    p50 = statistics.median(times)
    record.update(
        op_s=times, op_cpu_s=cpu, op_jit_s=jit, op_gc_s=gcs,
        op_peak_rss_mb=rss, op_peak_pss_mb=pss,
        requests_per_s=len(times) / sum(times),
    )
    values = {
        "setup_s": statistics.median(setup),
        "op_p50_s": p50,
        "validated_triples_per_s": wl.triples_per_op() / p50,
        "cpu_core_s_per_op": statistics.median(cpu),
    }
    if "pages" in wl.inp.facts:
        record["pages_per_s"] = wl.inp.facts["pages"] / p50
    return {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}


def traced(args, spark, wl, checked, record) -> dict:
    import spans as tr

    tracer = tr.Tracer(spark)
    # the first traced op is, like the measured run's first op, the first
    # op of a fresh session
    ops, counts = [], []
    while not ops or sum(tracer.spans[j].wall for j in ops) < args.seconds:
        op_id = f"t{len(ops)}"
        i = len(ops)
        holder: dict = {}

        def one(i=i, op_id=op_id, holder=holder):
            with tracer.span("op", op_id):
                holder["rows"] = wl.traced_op(i, tracer, op_id)

        spark._jvm.System.gc()
        checked(wl, i, one)
        if "rows" in holder:
            holder["extra"] = wl.outside_counts(i, holder["rows"])
        else:  # the op failed; its layers report no counts
            holder.update(rows={}, extra={})
        ops.append(next(j for j, s in enumerate(tracer.spans) if s.op_id == op_id and s.name == "op"))
        counts.append(holder)
    compile_s = af_compile_probe(spark, wl.shapes_rows())
    app_id = spark.sparkContext.applicationId
    spark.stop()
    log = tr.EventLog(tr.find_log(os.path.join(WORK, "eventlog"), app_id))

    def med(fn) -> float:
        return statistics.median(fn(k) for k in range(len(ops)))

    roots = [tracer.spans[j] for j in ops]
    values: dict[str, float] = {}
    for layer in LAYERS:
        spans = [next((c for c in tracer.children(r) if c.name == layer), None) for r in roots]
        if spans[0] is None:
            for f, _u in LAYER_FIELDS:
                values[f"{layer}.{f}"] = 0.0
            continue
        stats = [log.get(s.op_id, layer) for s in spans]
        values[f"{layer}.wall_s"] = med(lambda k: spans[k].wall)
        values[f"{layer}.driver_s"] = med(lambda k: log.driver_s(spans[k]))
        values[f"{layer}.jobs"] = med(lambda k: stats[k].jobs)
        values[f"{layer}.task_s"] = med(lambda k: stats[k].task_s)
        values[f"{layer}.gc_s"] = med(lambda k: stats[k].gc_s)
        values[f"{layer}.rows_out"] = med(lambda k: counts[k]["rows"].get(layer, 0))
        values[f"{layer}.shuffle_write_mb"] = med(lambda k: stats[k].shuffle_write_mb)
        values[f"{layer}.spill_mb"] = med(lambda k: stats[k].spill_mb)
    cores = record["host"]["task_slots"]
    for layer in UTIL_LAYERS:
        wall = values[f"{layer}.wall_s"]
        values[f"{layer}.core_util"] = values[f"{layer}.task_s"] / (wall * cores) if wall else 0.0
    for name in ("triples_stage.broadcast_joins", "validate.broadcast_joins", "validate.smj_joins"):
        layer, what = name.split(".")
        # the joins run in the action after the plan is built
        evaluated = {"validate": "validate_eval"}.get(layer, layer)
        values[name] = med(lambda k: getattr(log.get(roots[k].op_id, evaluated), what))
    for name, _u in EXTRA_METRICS:
        if name not in values and not name.startswith(("run.", "sparql_af.")):
            values[name] = med(lambda k: counts[k]["extra"].get(name, 0.0))
    op_walls = [r.wall for r in roots]
    values["run.jobs_per_op"] = med(lambda k: log.op_total(roots[k].op_id).jobs)
    values["run.stages_per_op"] = med(lambda k: log.op_total(roots[k].op_id).stages)
    values["run.span_coverage"] = med(
        lambda k: 1 - tracer.self_time(roots[k]) / roots[k].wall
    )
    values["sparql_af.compile_s"] = compile_s
    record.update(
        traced_op_s=op_walls,
        spans=[
            {"name": s.name, "op": s.op_id, "parent": s.parent, "start": s.start, "end": s.end}
            for s in tracer.spans
        ],
    )
    return {name: {"value": values[name], "unit": unit} for name, unit in per_layer_names()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["kg_build", "plugin_af_requests"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["tiny", "bench", "full"], default="bench",
                    help="input size; the recorded metrics use bench")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    result = run(args)
    record = result.pop("record")
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{args.workload}-{args.scale}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(WORK, "records", name), "w") as fh:
        json.dump({**record, **result}, fh, indent=1)
    for f in record["failures"]:
        print(f"perfbench: {f}", file=sys.stderr)
    print(json.dumps({"record": {k: v for k, v in record.items() if k != "spans"}}))
    print(json.dumps({"correct": result["failed"] == 0, **result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
