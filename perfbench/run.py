#!/usr/bin/env python3
"""Benchmark harness for the extraction engine.

    python3 perfbench/run.py --slots 4 --driver-memory 1g --split-bytes 4m \
        --workload extract_mixed --seed 1 --seconds 12 --trace 0

Runs one seeded workload (extract_mixed or curate_chain) against the
engine's public functions at a fixed ``local[--slots]``,
checks its outputs, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics named in BENCHMARK.json; ``--trace 1``
makes a separate traced run that reports the per-layer metrics. The
line before it is a ``{"record": ...}`` object with the input digest,
the host probe and every raw timing. Run it from the repository root;
everything it writes goes under ``.perfbench/`` there. See
perfbench/METHOD.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("extract_mixed", "curate_chain")
# tables the traced run probes besides the workload's own
PROBE_TABLES = ("job_resume", "curate_chain")
SETUPS = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # session settings: fixed in BENCHMARK.json's command so every
    # commit is measured with the same ones
    p.add_argument("--slots", type=int, required=True)
    p.add_argument("--driver-memory", required=True)
    p.add_argument("--split-bytes", required=True)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, one set-up: a quick end-to-end check")
    return p.parse_args(argv)


def contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(values: dict, trace: int, attempted: int, failed: int) -> str:
    """The final stdout line: every metric BENCHMARK.json names for this
    mode, each with its unit."""
    specs = contract()["per_layer" if trace else "end_to_end"]
    metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs}
    return json.dumps(
        {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics},
        sort_keys=True,
    )


def prepare_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    ``work``, and let the Spark workers import the engine."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "warehouse", "cache", "out", "traces")}
    # only the input cache and the traces outlive a run
    for k in ("tmp", "spark-local", "warehouse", "out"):
        shutil.rmtree(dirs[k], ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no hsperfdata files outside the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(args: argparse.Namespace, work: str):
    from engine.spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=args.slots,
        extra_conf={
            "spark.driver.memory": args.driver_memory,
            "spark.sql.files.maxPartitionBytes": args.split_bytes,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(args, work, table, n_setups):
    """Session start, table load and worker warm-up, ``n_setups`` times
    (the first start launches the JVM; later ones restart the Spark
    context in it). Returns the last session and the timings."""
    from harness.workloads import noop

    from engine.spark.stage import extract_turns

    spark, totals, starts = None, [], []
    for _ in range(n_setups):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(args, work)
        t1 = time.perf_counter()
        n = spark.read.parquet(table.path).count()
        if n != table.rows:
            raise RuntimeError(f"stored table has {n} rows, expected {table.rows}")
        # start the Python workers and import the kernel in them
        noop(extract_turns(spark.read.parquet(os.path.join(table.path, "part-000.parquet")), span_content=False))
        totals.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
    return spark, totals, starts


def shutdown(spark, sampler) -> None:
    """Stop Spark, end the JVM, and wait for every process seen."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    sampler.stop()
    deadline = time.monotonic() + 30
    for pid in sampler.seen:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    """A process that has not exited (zombies have exited)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def traced_metrics(args, run, tables, sample) -> tuple[dict, dict]:
    """The workload traced, then a probe of every layer: kernel, stage
    and pipeline over this workload's table, the job over the seed's
    job_resume table, and the curation chain over its curate_chain
    table (this workload's own traced pass when it is curate_chain)."""
    from harness import workloads as wl
    from harness.observe import Tracer

    pass_fn = wl.PASSES[args.workload]
    off = Tracer("", enabled=False)
    # warm-up, then traced and untraced passes over the same warm plans
    pass_fn(run, off)
    tr = Tracer(run_id=f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}")
    with tr.span("harness.pass"):
        pass_fn(run, tr)
    wall_t = tr.spans[0].end - tr.spans[0].start
    self_s = tr.self_times(0)
    wall_u, _ = pass_fn(run, off)
    # every span below the root is a call into an engine layer
    layer_s = sum(v for k, v in self_s.items() if k != "harness.pass")
    m = {
        "trace.pass_wall_s": wall_u,
        "trace.overhead_s": wall_t - wall_u,
        "trace.coverage": layer_s / wall_t,
    }
    m.update(wl.kernel_probe(sample))
    m.update(wl.stage_probe(run, m["kernel.turns_per_s_core"]))
    m.update(wl.pipeline_probe(run))
    for name, probe, layer_metrics in (
        ("job_resume", wl.job_pass, wl.job_layer_metrics),
        ("curate_chain", wl.curate_pass, wl.curate_layer_metrics),
    ):
        if name == args.workload:
            m.update(layer_metrics(run, self_s))
            continue
        sub = run.on(tables[name])
        root = len(tr.spans)
        with tr.span(f"harness.probe.{name}"):
            probe(sub, tr)
        m.update(layer_metrics(sub, tr.self_times(root)))
    with open(os.path.join(run.work_dir, "traces", f"{tr.run_id}.json"), "w") as fh:
        json.dump(tr.dump(), fh)
    return m, {"trace_file": f"{tr.run_id}.json", "pass_walls": {"traced": wall_t, "untraced": wall_u}}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "spark", "pipeline.py")):
        print(f"perfbench: no engine sources under {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    prepare_env(work)

    from harness import inputs
    from harness import workloads as wl
    from harness.observe import RssSampler, Tracer, calibrate_spin

    spin0 = calibrate_spin()
    t0 = time.perf_counter()
    names = dict.fromkeys((args.workload,) + (PROBE_TABLES if args.trace else ()))
    tables = {n: inputs.materialize(ROOT, os.path.join(work, "cache"), n, args.seed, args.smoke) for n in names}
    table = tables[args.workload]
    input_s = time.perf_counter() - t0
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        spark, setups, starts = set_up(args, work, table, 1 if args.smoke else SETUPS)
        run = wl.Run(spark=spark, table=table, work_dir=work, slots=args.slots)
        sample = wl.sample_rows(table)
        if args.trace:
            values, record = traced_metrics(args, run, tables, sample)
            values["session.start_s"] = statistics.median(starts)
        else:
            pass_fn = wl.PASSES[args.workload]
            off = Tracer("", enabled=False)
            for _ in range(wl.WARM_UP_PASSES[args.workload]):
                pass_fn(run, off)
            walls, turns, t_start = [], 0, time.perf_counter()
            while not walls or time.perf_counter() - t_start < args.seconds:
                wall, turns = pass_fn(run, off)
                walls.append(wall)
            record = {"pass_walls": walls}
            values = {
                "setup_s": statistics.median(setups),
                "turns_per_s": turns / statistics.median(walls),
            }
        if args.workload == "extract_mixed":
            wl.check_equality(run, sample)
        spin1 = calibrate_spin()
        sampler.sample()
        checks = run.checks
        values["peak_rss_mb"] = sampler.peak_kb / 1024
        values["success_rate"] = 1.0 - checks.failed / max(checks.attempted, 1)
        values["host.spin_s"] = spin0
        values["host.spin_drift"] = spin1 / spin0
        record.update(
            workload=args.workload, seed=args.seed, trace=args.trace, smoke=args.smoke,
            settings={"slots": args.slots, "driver_memory": args.driver_memory, "split_bytes": args.split_bytes},
            inputs={n: {"digest": t.digest, "rows": t.rows, "valid_rows": t.valid_rows} for n, t in tables.items()},
            input_s=input_s, host={"spin_s": spin0, "spin_after_s": spin1},
            setup_s=setups, session_start_s=starts, failures=checks.failures, curate_digests=run.digests,
        )
        print(json.dumps({"record": record}, sort_keys=True, default=str))
        print(result_line(values, args.trace, checks.attempted, checks.failed), flush=True)
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown(spark, sampler)


if __name__ == "__main__":
    sys.exit(main())
