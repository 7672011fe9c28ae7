#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one fresh Spark session.

    python3 perfbench/run.py --workload file_import --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The run generates (or reuses) the seeded
inputs, builds a session with ``session.get_spark`` on
``local[<cpus of this host>]``, runs the workload's pipeline once cold,
once to warm up and then again until ``--seconds`` have passed, checks
every job's output independently, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (spans, py4j sends, Spark SQL metrics from the event log and the
``perf`` UDF profiler). Every run writes its full record (the trace too,
when traced) to ``perfbench/.out/``.
Human-readable lines go to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "terra_bonobo_nodes_spark"
JOB_PROP = "perfbench.job"
PROFILER_CONF = "spark.sql.pyspark.udf.profiler"
UNTRACED_MIN_JOBS = 4  # cold, warm-up, two timed
TRACED_MIN_JOBS = 5  # cold, warm-up, untraced, traced, untraced

E2E_UNITS = {
    "setup_s": "s",
    "cold_job_s": "s",
    "job_s": "s",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
}


def host() -> dict:
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def pin_environment(work: Path, traced: bool, info: dict) -> dict:
    """Session defaults from this host, every temporary path inside ``work``."""
    for sub in ("tmp", "spark-local", "conf", "eventlog", "layers"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    env = {
        # unset, get_spark defaults to local[32] and a 16g driver heap
        "SPARK_GRAFT_CPUS": str(info["nproc"]),
        "SPARK_DRIVER_MEM": f"{min(2048, info['mem_total_mb'] // 4)}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_CONF_DIR": str(work / "conf"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    conf = [
        "spark.ui.showConsoleProgress false",
        f"spark.sql.warehouse.dir file://{work / 'warehouse'}",
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    ]
    if traced:
        conf += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{work / 'eventlog'}",
            "spark.eventLog.compress false",
        ]
    (work / "conf" / "spark-defaults.conf").write_text("\n".join(conf) + "\n")
    return env


def release(spark) -> None:
    """Drop every cache a job left behind, so no job inherits another's
    executor memory."""
    from terra_bonobo_nodes_spark.operators.spatial import release_spatial_caches

    release_spatial_caches()
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)


def host_probe(spark) -> float:
    """JVM-only calibration work (no IO, no Python): its time moves with
    host load, not with the program. Recorded as context, never gated."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(10_000_000).select(F.avg(F.xxhash64("id"))).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def run(args) -> dict:
    import gen
    import tracing as T
    from workloads import WORKLOADS

    traced = args.trace == 1
    info = host()
    inputs, manifest = gen.ensure_inputs(HERE / ".data", args.workload, args.seed)
    print(
        f"# inputs {args.workload} seed={args.seed}: {manifest['rows']} rows, "
        f"{manifest['bytes']} bytes in {manifest['files']} files "
        f"(generated in {manifest['gen_s']:.2f}s, not in any metric)",
        file=sys.stderr,
    )
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work, traced, info)
    tracer = T.Tracer()
    wl = WORKLOADS[args.workload](inputs, manifest, work / "layers", tracer)
    wl.prepare()

    rss = T.RssSampler()
    rss.start()
    # --- set-up: import, session (ship_package inside), one trivial action
    t0 = time.perf_counter()
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from terra_bonobo_nodes_spark import session

    ship = {"s": 0.0}
    if traced:
        orig_ship = session.ship_package

        def timed_ship(spark):
            s0 = time.perf_counter()
            orig_ship(spark)
            ship["s"] += time.perf_counter() - s0

        session.ship_package = timed_ship
    t1 = time.perf_counter()
    spark = session.get_spark("perfbench")
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    setup = {
        "setup_s": t3 - t0,
        "session.import_s": t1 - t0,
        "session.get_spark_s": t2 - t1,
        "session.ship_package_s": ship["s"],
        "session.first_action_s": t3 - t2,
    }
    sc = spark.sparkContext
    gateway = sc._gateway
    if traced:
        tracer.count_py4j(gateway._gateway_client)

    def run_job(k: int, traced_job: bool) -> dict:
        sc.setLocalProperty(JOB_PROP, str(k))
        if traced_job:
            spark.conf.set(PROFILER_CONF, "perf")
        tracer.job, tracer.on = k, traced_job
        w0 = T.hadoop_bytes_written(spark)
        rec = {"job": k, "traced": traced_job, "error": None}
        rss.take_peak()
        start = time.perf_counter()
        try:
            with tracer.span("bench", "job"):
                result = wl.job(spark, k)
        except Exception as exc:  # a failing job is counted, the run goes on
            result = None
            rec["error"] = f"job raised {exc!r}"
        rec["wall_s"] = time.perf_counter() - start
        rec["peak_rss_mb"] = rss.take_peak()
        tracer.on = False
        sc.setLocalProperty(JOB_PROP, None)
        rec["bytes_written"] = T.hadoop_bytes_written(spark) - w0
        rec["write_amp"] = rec["bytes_written"] / wl.input_bytes(k)
        if traced_job:
            rec["kernels"], rec["udf_profiles"] = T.udf_profiles(spark)
            spark.profile.clear(type="perf")
            spark.conf.unset(PROFILER_CONF)
            rec["counts"] = wl.traced_counts() if rec["error"] is None else {}
        if rec["error"] is None:
            rec["error"] = wl.quick_check(k, result)
        rec["layer_bytes"], rec["layer_files"] = T.dir_stats(wl.output_dir(k))
        release(spark)
        return rec

    # Job 0 is the cold job. Job 1 is a warm-up job, in no metric: the
    # first warm job still runs markedly slower than the next ones.
    # Timed jobs follow until --seconds have passed, at least two; a
    # traced run alternates untraced and traced jobs, starting and (at
    # the minimum) ending untraced, so the untraced jobs bracket the
    # traced ones in the overhead estimate.
    jobs = [run_job(0, False)]
    deadline = time.perf_counter() + args.seconds
    k = 1
    while k < wl.max_jobs() and (
        time.perf_counter() < deadline
        or k < (TRACED_MIN_JOBS if traced else UNTRACED_MIN_JOBS)
    ):
        jobs.append(run_job(k, traced and k >= 3 and k % 2 == 1))
        k += 1
    run_peak_rss_mb = rss.stop()
    rss_parts = sorted((v / 2**20 for v in rss.peak_parts.values()), reverse=True)
    print(
        f"# run peak RSS {run_peak_rss_mb:.0f} MB, parts: {[round(v) for v in rss_parts]}",
        file=sys.stderr,
    )
    probe_s = host_probe(spark)
    versions = {
        "python": sys.version.split()[0],
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }
    spark.stop()
    gateway.shutdown()
    # the gateway JVM exits when its stdin closes; wait for it (and the
    # Python workers it forked) to end before checking anything
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    # --- checks, after the measured part -----------------------------------
    errors = wl.final_check([j["job"] for j in jobs])
    for j in jobs:
        if j["error"] is None and j["job"] in errors:
            j["error"] = errors[j["job"]]
    failed = sum(1 for j in jobs if j["error"])
    for j in jobs:
        if j["error"]:
            print(f"# FAILED job {j['job']}: {j['error']}", file=sys.stderr)

    timed = jobs[2:]
    plain = [j for j in timed if not j["traced"]]
    import duckdb
    import pandas
    import pyarrow

    versions.update(duckdb=duckdb.__version__, pandas=pandas.__version__, pyarrow=pyarrow.__version__)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": info,
        "env": {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT") or k == "SPARK_DRIVER_MEM"},
        "versions": versions,
        "host_probe_s": probe_s,
        "run_peak_rss_mb": run_peak_rss_mb,
        "inputs": manifest,
        "setup": setup,
        "jobs": jobs,
        "failed_frac": failed / len(jobs),
        # the waste ratios' bases: fixed by the inputs, so not metrics
        "bases": wl.bases(),
    }
    e2e = {
        "setup_s": setup["setup_s"],
        "cold_job_s": jobs[0]["wall_s"],
        "job_s": statistics.median(j["wall_s"] for j in plain),
        "peak_rss_mb": statistics.median(j["peak_rss_mb"] for j in plain),
        "write_amp": statistics.median(j["write_amp"] for j in plain),
    }
    record["e2e"] = e2e
    if traced:
        record["event_log"] = {}
        metrics = per_layer(T, wl, work, setup, tracer, jobs, record["event_log"])
        record["per_layer"] = metrics
        record["spans"] = tracer.spans
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)
    out = HERE / ".out"
    out.mkdir(exist_ok=True)
    kind = "trace" if traced else "run"
    path = out / f"{kind}-{args.workload}-s{args.seed}-{os.getpid()}.json"
    path.write_text(json.dumps(record, indent=1, default=str))

    print(f"# record written to {path.relative_to(ROOT)}", file=sys.stderr)
    print(
        f"# host: {info['nproc']} cpus, {info['mem_total_mb']} MB; driver heap "
        f"{env['SPARK_DRIVER_MEM']}; {versions}; host probe {probe_s:.3f}s",
        file=sys.stderr,
    )
    print(
        f"# {len(jobs)} jobs (1 cold, 1 warm-up, {len(timed)} timed, {len(plain)} untraced), "
        f"failed_frac = {failed}/{len(jobs)} = {failed / len(jobs):.3f}",
        file=sys.stderr,
    )
    print(f"# waste-ratio bases: {record['bases']}", file=sys.stderr)
    walls = sorted(j["wall_s"] for j in plain)
    print(
        f"# job_s is the median of {len(walls)} timed warm job walls (s): {[round(w, 3) for w in walls]}; "
        f"warm-up job {jobs[1]['wall_s']:.3f}s",
        file=sys.stderr,
    )
    for name, value in metrics.items():
        print(f"# {name} = {value:.6g} {unit(name)}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {
            name: {"value": value, "unit": unit(name)}
            for name, value in metrics.items()
        },
    }


def unit(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.endswith("_s") or "_s." in name:
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac") or "per_" in name:
        return "ratio"
    return "count"


def per_layer(T, wl, work: Path, setup: dict, tracer, jobs: list[dict], per_job_log: dict) -> dict:
    """Per-layer metrics of a traced run. Spans, py4j sends and profiler
    times come from the traced warm jobs; Spark's SQL and task metrics
    from the untraced warm jobs, whose execution the profiler did not
    slow; layer sizes from all warm jobs. The warm-up job is left out."""
    warm = jobs[2:]
    traced = [j for j in warm if j["traced"]]
    plain = [j for j in warm if not j["traced"]]
    med = statistics.median
    m = {k: setup[k] for k in ("session.get_spark_s", "session.ship_package_s", "session.first_action_s")}
    spans = [T.span_summary(tracer.spans, j["job"]) for j in traced]
    for key in spans[0]:
        m[key] = med(s[key] for s in spans)
    log = T.parse_event_log(work / "eventlog", JOB_PROP, wl.is_source_node)
    per_job_log.update(log)
    logged = [log.get(j["job"], {}) for j in plain]
    for key in T.LOG_METRICS:
        m[key] = med(d.get(key, 0.0) for d in logged)
    for name in T.GEO_KERNELS:
        m[f"geo.kernel_s.{name}"] = med(j["kernels"][name] for j in traced)
    bases = wl.bases()
    m["geo.pairs_per_hit"] = m["geo.candidate_pairs"] / bases["geo.hit_pairs"] if bases["geo.hit_pairs"] else 0.0
    counts = [j["counts"] for j in traced]
    m["llm.lsh_candidate_pairs"] = med(c.get("llm.lsh_candidate_pairs", 0) for c in counts)
    m["llm.pairs_per_dup"] = (
        m["llm.lsh_candidate_pairs"] / bases["llm.dup_pairs"] if bases["llm.dup_pairs"] else 0.0
    )
    m["sinks.layer_bytes"] = med(j["layer_bytes"] for j in warm)
    m["sinks.layer_files"] = med(j["layer_files"] for j in warm)
    t_on = med(j["wall_s"] for j in traced)
    t_off = med(j["wall_s"] for j in plain)
    m["trace.overhead_s"] = t_on - t_off
    m["trace.overhead_frac"] = (t_on - t_off) / t_off
    return m


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(
            f"perfbench: no {PACKAGE}/ package next to {HERE.name}/; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
