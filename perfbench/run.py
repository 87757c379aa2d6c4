"""Run one benchmark workload for one seed and print one JSON result line.

    python3 perfbench/run.py --workload search_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs come from ``--seed`` alone; set-up,
then a closed loop with one client runs operations that fit in
``--seconds`` and checks every output against an engine-free oracle. With ``--trace 0`` the
last line carries the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. The line before it is a JSON context
record (session settings, host calibration, route and funnel details).
Scratch files go under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "filtered_ads_vector_search_spark"
# an operation that starts after this many seconds is not started, so a run
# ends well inside the three minutes it is allowed
DEADLINE_S = 140.0


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def pin_session_env() -> dict:
    """Pin what the session depends on, so every run starts the same one."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = max(1024, min(4096, total_mb // 4))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    env["master"] = f"local[{cpus}]"
    return env


def start_session(cpus: int):
    from filtered_ads_vector_search_spark.session import get_spark

    work = os.path.join(WORK, "spark")
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave it running
            proc.kill()
            proc.wait()


def tail_latency(lat: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, when
    there is one above the median (at least 20 samples)."""
    n = len(lat)
    if n < 20:
        return {"samples": n, "percentile": None, "value_s": None}
    return {"samples": n, "percentile": 100.0 * (n - 10) / n,
            "value_s": sorted(lat)[n - 11]}


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    env = pin_session_env()

    import workloads
    from filtered_ads_vector_search_spark.calibration import (
        assert_quiet_host,
        host_calibration,
    )
    from spans import FIELDS, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    phases = {"imports_s": time.time() - T_START}
    t0 = time.time()
    wl.generate(args.seed, work)
    phases["generate_s"] = time.time() - t0

    t0 = time.time()
    spark = start_session(int(env["SPARK_GRAFT_CPUS"]))
    session_s = phases["session_s"] = time.time() - t0
    try:
        tr = Tracer(spark, bool(args.trace))
        tr.window("session.get_spark", None, t0, t0 + session_s)
        t0 = time.time()
        wl.setup(spark, tr)
        phases["workload_setup_s"] = time.time() - t0
        attempted = failed = 0
        lat: list[float] = []

        def run_op(i: int) -> float:
            nonlocal attempted, failed
            attempted += 1
            start = time.time()
            try:
                with tr.span("op"):
                    out = wl.op(spark, tr, i)
                took = time.time() - start
                problems = wl.check(i, out)
            except Exception:  # noqa: BLE001 - a failed operation is counted
                traceback.print_exc()
                failed += 1
                return time.time() - start
            if problems:
                print(f"perfbench: operation {i} failed its checks: {problems}",
                      file=sys.stderr)
                failed += 1
            return took

        tr.warming_up = True
        for i in range(wl.warmup_ops):
            run_op(i)
        tr.warming_up = False
        setup_s = time.time() - T_START
        phases["warmup_s"] = setup_s - sum(phases.values())

        # whole cycles while another cycle as long as the last one still
        # ends inside the window; the first cycle always runs
        i = wl.warmup_ops
        t_meas = time.time()
        while True:
            t_cycle = time.time()
            for _ in range(wl.cycle):
                lat.append(run_op(i))
                i += 1
            now = time.time()
            if (2 * now - t_cycle - t_meas > args.seconds
                    or now - T_START >= DEADLINE_S):
                break
        for message, n in wl.finish():
            print(f"perfbench: {message}", file=sys.stderr)
            failed = min(attempted, failed + n)

        # the probes take seconds, so only the traced run, which is not
        # timed end to end, pays for them
        calibration = host_calibration(spark) if args.trace else {}
        layers, raw_spans = tr.report()
        conf = spark.sparkContext.getConf()
        session = {
            **env,
            "spark.master": conf.get("spark.master"),
            "spark.driver.memory": conf.get("spark.driver.memory"),
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "session_start_s": session_s,
        }
    finally:
        stop_session(spark)

    values: dict[str, float] = {}
    if args.trace:
        for span, agg in layers.items():
            for field in FIELDS:
                values[f"{span}.{field}"] = agg[field]
        values.update(wl.ratios(layers))
        wanted = spec["per_layer"]
    else:
        values["setup_s"] = setup_s
        values["latency_p50_s"] = statistics.median(lat)
        values["qps"] = wl.items * len(lat) / sum(lat)
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "operations": len(lat), "setup_s": setup_s,
        "setup_phases": phases,
        "latencies_s": lat, "latency_tail": tail_latency(lat), "session": session,
        "calibration": calibration, "host_warnings": assert_quiet_host(calibration),
        "workload_detail": wl.summary(),
    }
    if args.trace:
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"context": context, "layers": layers, "spans": raw_spans}, fh)
        context["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
