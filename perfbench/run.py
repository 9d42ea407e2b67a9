"""End-to-end changegen benchmark: drives ``changegen_spark.__main__.main``
on generated inputs, one workload per process.

    python3 perfbench/run.py --workload small_diff --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
# BENCHMARK.json gates the first two; extract_heavy runs by hand and in --workload all
WORKLOADS = ("small_diff", "road_grid", "extract_heavy")
END_TO_END = {
    "setup_s": "s",
    "cold_changeset_s": "s",
    "changeset_s.p50": "s",
    "elements_per_s": "1/s",
}
# spans whose functions submit Spark jobs; the others only build plans
SPARK_SPANS = ("changeset", "sources.extract", "sources.tables", "pipeline.plan", "pipeline.new_ways", "pipeline.modify_ways", "sinks.osc")
SPARK_METRICS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "busy_ratio")
TIME_SPANS = {
    "sources.extract_s": "sources.extract",
    "sources.tables_s": "sources.tables",
    "pipeline.plan_s": "pipeline.plan",
    "pipeline.junctions_s": "pipeline.junctions",
    "geo.segment_join_s": "geo.segment_join",
    "pipeline.new_ways_s": "pipeline.new_ways",
    "pipeline.modify_ways_s": "pipeline.modify_ways",
    "pipeline.ids_resolve_s": "pipeline.ids_resolve",
    "operators.split_ways_s": "operators.split_ways",
    "sinks.osc_s": "sinks.osc",
}
SAFETY_S = 140.0  # stop measuring past this process age (the run limit is 180 s)


def _vmhwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_calib_s() -> float:
    """Wall of a fixed pure-Python loop: how fast this machine is right now."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t


def _environment() -> dict:
    import pyspark

    return {
        "cpu_calib_s": _cpu_calib_s(),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg": os.getloadavg(),
    }


def _prepare_env(work: str) -> None:
    """Point every scratch location into the checkout before the JVM starts;
    Python workers need the package (and nothing else) on PYTHONPATH."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's included: temp files and perf data stay here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _tail(values: list[float]) -> tuple[float | None, int | None]:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n <= 10:
        return None, None
    pct = int(100 * (n - 10) / n)
    rank = max(1, -(-pct * n // 100))  # nearest rank
    return sorted(values)[rank - 1], pct


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import inputs
    from check import check_osc

    work = os.path.join(WORK, name)
    _prepare_env(work)
    env_before = _environment()
    workload = inputs.generate(name, os.path.join(work, "in"), seed)
    out_dir = os.path.join(work, "out")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    from pyspark import SparkContext

    import changegen_spark.__main__ as cli
    from changegen_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("changegen_spark-cli")
    session_start_s = time.time() - t0
    try:
        tracer = None
        if trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        cores = spark.sparkContext.defaultParallelism
        jvm_pid = SparkContext._gateway.proc.pid

        digests: dict[str, str] = {}
        records: list[dict] = []

        def changeset(i: int, phase: str) -> dict:
            diff = workload.diffs[i % len(workload.diffs)]
            out = os.path.join(out_dir, f"{diff.name}.osc")
            if os.path.exists(out):
                os.remove(out)
            rec = {"i": i, "phase": phase, "diff": diff.name, "errors": []}
            root = None
            t = time.perf_counter()
            try:
                if tracer is None:
                    rc = cli.main(diff.argv + ["--output", out])
                else:
                    with tracer.span("changeset") as root:
                        rc = cli.main(diff.argv + ["--output", out])
                if rc != 0:
                    rec["errors"].append(f"main returned {rc}")
            except Exception:  # a failed changeset is counted, not fatal
                rec["errors"].append(traceback.format_exc(limit=5))
            rec["wall_s"] = time.perf_counter() - t
            if not rec["errors"]:
                errors, stats = check_osc(out, diff, digests)
                rec["errors"] += errors
                rec.update(stats)
            if tracer is not None:
                rec["before"] = records[-1]["session"] if records else {"cached_rdds": 0, "cached_bytes": 0, "jvm_gc_s": 0.0}
                tracer.collect_spark()
                rec["profile"] = tracer.changeset_profile(root, cores)
                rec["session"] = tracer.session_state()
            records.append(rec)
            return rec

        changeset(0, "cold")
        setup_s = time.time() - T_START
        t_window = time.time()
        measured = [changeset(1, "measured")]
        while time.time() - t_window < seconds and time.time() - T_START < SAFETY_S:
            measured.append(changeset(len(records), "measured"))

        rss = {"jvm_mb": _vmhwm_mb(jvm_pid), "python_mb": _vmhwm_mb(os.getpid())}
        walls = [r["wall_s"] for r in measured]
        elements = sum(r.get("elements", 0) for r in measured)
        failed = sum(1 for r in records if r["errors"])
        metrics = {
            "setup_s": setup_s,
            "cold_changeset_s": records[0]["wall_s"],
            "changeset_s.p50": _median(walls),
            "elements_per_s": elements / sum(walls),
        }
        tail, tail_pct = _tail(walls)
        result = {
            "workload": name,
            "seed": seed,
            "trace": trace,
            "attempted": len(records),
            "failed": failed,
            "metrics": metrics,
            "changeset_s.tail": tail,
            "changeset_s.tail_pct": tail_pct,
            "warm_samples": len(walls),
            "environment": {"before": env_before, "after": {"loadavg": os.getloadavg(), "cpu_calib_s": _cpu_calib_s()}, "cores": cores},
            "inputs": workload.info,
            "peak_rss": rss,
            "changesets": [{k: v for k, v in r.items() if k != "profile"} for r in records],
        }
        if tracer is not None:
            result["per_layer"] = per_layer(measured, session_start_s, workload.info, len(records), failed)
            result["per_layer"]["session.peak_rss_mb"] = rss["jvm_mb"] + rss["python_mb"]
            result["profiles"] = [r["profile"] for r in measured]
            tracer.close()
            os.makedirs(RESULTS, exist_ok=True)
            tracer.dump(os.path.join(RESULTS, f"{name}-s{seed}-spans.json"))
    finally:
        # stop the session and the JVM it started, and wait for it to exit
        spark.stop()
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    return result


def per_layer(measured: list[dict], session_start_s: float, info: dict, attempted: int, failed: int) -> dict:
    """Per-layer metrics: per-changeset medians over the measured window."""

    def med(fn) -> float:
        return _median([fn(r) for r in measured])

    def span(r: dict, name: str) -> dict:
        return r["profile"].get(name, {})

    m: dict[str, float] = {"session.start_s": session_start_s}
    # levels after the first measured changeset (a fixed position, so they
    # repeat); growth and GC as per-changeset deltas from the changeset before
    m["session.cached_rdds"] = measured[0]["session"]["cached_rdds"]
    m["session.cached_bytes"] = measured[0]["session"]["cached_bytes"]
    for key in ("cached_rdds", "cached_bytes", "jvm_gc_s"):
        per = "session.jvm_gc_s" if key == "jvm_gc_s" else f"session.{key}_per_changeset"
        m[per] = med(lambda r: r["session"][key] - r["before"][key])
    for metric, name in TIME_SPANS.items():
        m[metric] = med(lambda r: span(r, name).get("wall_s", 0.0))
    m["pipeline.driver_self_s"] = med(lambda r: span(r, "pipeline.plan").get("driver_self_s", 0.0))
    m["sinks.driver_self_s"] = med(lambda r: span(r, "sinks.osc").get("driver_self_s", 0.0))
    m["sources.pbf.blobs"] = info.get("pbf_blobs", 0)
    m["sources.pbf.elements"] = info.get("pbf_elements", 0)
    extract_s = m["sources.extract_s"]
    m["sources.pbf.elements_per_s"] = m["sources.pbf.elements"] / extract_s if extract_s and m["sources.pbf.elements"] else 0.0
    m["geo.junctions"] = med(lambda r: r.get("junctions", 0))
    m["geo.junction_yield"] = med(lambda r: r.get("junctions", 0) / max(1, span(r, "geo.segment_join").get("candidate_pairs", 0)))
    m["operators.way_chunks"] = med(lambda r: r.get("way_chunks", 0))
    m["sinks.osc_bytes"] = med(lambda r: r.get("osc_bytes", 0))
    for block in ("create", "modify", "delete"):
        m[f"sinks.elements.{block}"] = med(lambda r: sum(v for k, v in r.get("counts", {}).items() if k.startswith(block + "/")))
    for name in SPARK_SPANS:
        for f in SPARK_METRICS:
            m[f"{name}.spark.{f}"] = med(lambda r: span(r, name).get(f, 0))
    m["trace.changeset_s.p50"] = med(lambda r: r["wall_s"])
    m["trace.coverage"] = med(lambda r: 1.0 - span(r, "changeset")["self_s"] / span(r, "changeset")["wall_s"])
    m["failed_ratio"] = failed / attempted
    return m


def _emit(result: dict, keys: dict[str, str]) -> None:
    metrics = {k: {"value": result[k], "unit": u} for k, u in keys.items()}
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"], "failed": result["failed"], "metrics": metrics}))


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main_one(args) -> int:
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    if args.trace:
        units = per_layer_units()
        _emit({**result, **{k: result["per_layer"][k] for k in units}}, units)
    else:
        _emit({**result, **result["metrics"]}, END_TO_END)
    return 0 if result["failed"] == 0 else 1


def main_all(args) -> int:
    """Every workload, untraced then traced, each in its own process, in a
    seeded shuffled order per repetition; prints a table and writes a summary."""
    import random

    rng = random.Random(args.seed)
    os.makedirs(RESULTS, exist_ok=True)
    runs = []
    for rep in range(args.reps):
        order = [(w, t) for w in WORKLOADS for t in (0, 1)]
        rng.shuffle(order)
        for wl, tr in order:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed", str(args.seed + rep),
                   "--seconds", str(args.seconds), "--trace", str(tr)]
            log = os.path.join(RESULTS, f"{wl}-s{args.seed + rep}-t{tr}.log")
            with open(log, "w") as err:
                proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True, timeout=600)
            line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            runs.append({"rep": rep, "workload": wl, "trace": tr, "exit": proc.returncode, "result": json.loads(line)})
    print(f"{'workload':<14} {'metric':<34} {'value':>14}  unit")
    for wl in WORKLOADS:
        mine = [r for r in runs if r["workload"] == wl]
        attempted = sum(r["result"].get("attempted", 0) for r in mine)
        untraced = [r["result"]["metrics"] for r in mine if r["trace"] == 0 and "metrics" in r["result"]]
        traced = [r["result"]["metrics"] for r in mine if r["trace"] == 1 and "metrics" in r["result"]]
        for name, unit in END_TO_END.items():
            vals = [m[name]["value"] for m in untraced]
            print(f"{wl:<14} {name:<34} {_median(vals):>14.4f}  {unit}")
        print(f"{wl:<14} {'failed_ratio':<34} {(sum(r['result'].get('failed', 0) for r in mine) / max(1, attempted)):>14.4f}  ratio")
        if traced and untraced:
            over = _median([m["trace.changeset_s.p50"]["value"] for m in traced]) - _median([m["changeset_s.p50"]["value"] for m in untraced])
            print(f"{wl:<14} {'trace.overhead_s':<34} {over:>14.4f}  s")
            for name, unit in (("trace.coverage", "ratio"), ("session.peak_rss_mb", "MB")):
                print(f"{wl:<14} {name:<34} {_median([m[name]['value'] for m in traced]):>14.4f}  {unit}")
    bad = [r for r in runs if r["exit"] != 0]
    for r in bad:
        print(f"run failed: {r['workload']} seed {args.seed + r['rep']} trace {r['trace']} exit {r['exit']}")
    with open(os.path.join(RESULTS, f"all-s{args.seed}.json"), "w") as f:
        json.dump({"order": [(r["workload"], r["trace"]) for r in runs], "runs": runs}, f, indent=1)
    return 1 if bad else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--reps", type=int, default=1, help="repetitions of every workload (--workload all)")
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "changegen_spark", "__main__.py")):
        print(f"changegen_spark not found next to {HERE}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return main_all(args)
    return main_one(args)


if __name__ == "__main__":
    sys.exit(main())
