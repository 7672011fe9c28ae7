"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configs are the right defaults on a real cluster: AQE re-plans joins and
coalesces shuffle partitions at runtime, Arrow keeps the pandas-UDF
geometry kernel fast, and UTC pins timestamp semantics to match the
DuckDB oracle (duckdb timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_ram_capped() -> str:
    """Half of the host's physical memory, capped at 16g."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{min(16 * 1024, kb // 2048)}m"


def get_spark(app_name: str = "terra_bonobo_nodes_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # ~cores, not the 200 default: right-sizes every local shuffle.
        # On a 1000-executor cluster this would be set to ~2-3x total cores.
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts has shipped as TIMESTAMP(NANOS) in some testdata
        # generations; without this Spark rejects the footer outright
        # ([PARQUET_TYPE_ILLEGAL]). Set once at session build so table
        # loaders never have to mutate session config mid-query.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource predicate pushdown (sources/scroll.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # local[N] keeps every executor task inside the ONE driver JVM,
        # so the heap must be sized for N concurrent tasks' execution
        # memory plus cached/checkpointed state; 8g showed multi-second
        # GC spikes on a 32-core host that 16g removed. The default
        # takes half the host's RAM, capped at that 16g, so the heap
        # never exceeds what a small host has. On a real cluster
        # executor memory is provisioned per executor, not here.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _half_ram_capped(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge joins, and let AQE rewrite
        # a planned sort-merge join to shuffled-hash when every post-
        # shuffle partition is under 64m. The timing A/B was a wash;
        # results are join-algorithm-independent, and the 64m bound
        # keeps each task's hash build side bounded.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark's Python workers.

    Pandas-UDF closures (the geometry kernel, multimodal decode)
    reference the package by name; workers spawned by the executor JVM
    don't inherit the driver's sys.path, so ship the package as a zip
    via addPyFile — exactly how the library deploys on a real cluster
    (--py-files). Idempotent per session."""
    if getattr(spark, "_tbns_pyfiles_added", False):
        return
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_root = Path(__file__).resolve().parent.parent
    pkg = pkg_root / "terra_bonobo_nodes_spark"
    zpath = Path(tempfile.gettempdir()) / "terra_bonobo_nodes_spark_pyfiles.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for py in sorted(pkg.rglob("*.py")):
            zf.write(py, py.relative_to(pkg_root))
    spark.sparkContext.addPyFile(str(zpath))
    spark._tbns_pyfiles_added = True
