"""Measurement plumbing: spans around public calls, a py4j send counter,
a process-tree RSS sampler, Spark event-log metrics per job and the
``perf`` UDF profiler tables.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the package, the py4j counter wraps the
gateway client's ``send_command``, and Spark's SQL metrics come from the
event log Spark writes itself.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# layers that get spans inside a job; "bench" is the benchmark's own glue
LAYERS = ("bench", "sources", "operators", "geo", "sinks", "llm")
CONSTRUCT_LAYERS = ("sources", "operators", "geo", "llm")
# geometry kernels whose self-reported profile time is a per-layer metric
GEO_KERNELS = (
    "st_point",
    "st_geomfromtext",
    "st_bbox_boxy",
    "st_prepare",
    "st_intersects",
    "st_intersection_area",
)
PAIR_KERNELS = ("_st_intersects(", "_st_intersection_area(")
# per-job metrics read from Spark's event log
LOG_METRICS = (
    "sources.rows_out",
    "spark.executor_cpu_s",
    "spark.task_s",
    "spark.gc_s",
    "spark.spill_bytes",
    "spark.exchange.bytes_written",
    "spark.exchange.write_s",
    "spark.exchange.fetch_wait_s",
    "spark.scan.bytes_read",
    "spark.scan.files_read",
    "spark.python.eval_nodes",
    "spark.python.rows",
    "spark.python.bytes_to_worker",
    "spark.python.bytes_from_worker",
    "spark.python.worker_boot_s",
    "spark.python.worker_init_s",
    "spark.python.worker_init_task_max_s",
    "spark.python.run_s",
    "geo.candidate_pairs",
    "geo.kernel_rows",
    "sinks.bytes_written",
    "sinks.files_written",
)


class Tracer:
    """In-memory spans (name, layer, start, end, parent, job) and a count
    of py4j sends. Disabled, ``call`` is a plain call and ``span`` a no-op."""

    def __init__(self) -> None:
        self.on = False
        self.job: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_sends = 0

    def count_py4j(self, gateway_client) -> None:
        """Count the commands this thread sends. Releases of Python-side
        proxies are left out: py4j sends them from a finalizer thread
        whenever Python's garbage collector runs, so they would make the
        count depend on timing."""
        from py4j import protocol

        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        send = gateway_client.send_command
        caller = threading.current_thread()

        def counted(command, *args, **kwargs):
            if threading.current_thread() is caller and not command.startswith(release):
                self.py4j_sends += 1
            return send(command, *args, **kwargs)

        gateway_client.send_command = counted

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.on:
            yield
            return
        rec = {
            "name": name,
            "layer": layer,
            "job": self.job,
            "parent": self._stack[-1] if self._stack else None,
            "py4j0": self.py4j_sends,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_sends - rec.pop("py4j0")
            self._stack.pop()

    def call(self, layer: str, fn, *args, **kwargs):
        if not self.on:
            return fn(*args, **kwargs)
        with self.span(layer, fn.__name__):
            return fn(*args, **kwargs)


def span_summary(spans: list[dict], job: int) -> dict:
    """Per-layer self time, per-layer construct time, named sink spans and
    construction py4j sends of one job. A span's self time is its
    duration minus the time its child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s["job"] == job and s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out = {f"{layer}.self_s": 0.0 for layer in LAYERS}
    total = defaultdict(float)
    named = defaultdict(float)
    py4j = 0
    for i, s in enumerate(spans):
        if s["job"] != job:
            continue
        dur = s["end"] - s["start"]
        out[f"{s['layer']}.self_s"] += dur - child[i]
        total[s["layer"]] += dur
        named[f"{s['layer']}.{s['name']}"] += dur
        if s["layer"] in CONSTRUCT_LAYERS:
            py4j += s["py4j"]
    for layer in CONSTRUCT_LAYERS:
        out[f"{layer}.construct_s"] = total[layer]
    out["sinks.upsert_s"] = named["sinks.load_feature_in_layer"]
    out["sinks.retention_s"] = named["sinks.clean_older_than"]
    out["sinks.read_s"] = named["sinks.read_layer_count"]
    out["spark.construct_py4j_calls"] = py4j
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers it forks), sampled from /proc. The process
    tree is re-read every ``rescan`` samples; in between only the known
    processes' ``statm`` is read, which keeps the sampler's share of the
    driver's interpreter lock small."""

    def __init__(self, interval_s: float = 0.05, rescan: int = 5) -> None:
        self.interval_s = interval_s
        self.rescan = rescan
        self.peak_bytes = 0
        self.window_bytes = 0
        self.peak_parts: dict = {}
        self._pids: list[int] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> None:
        self._thread.start()

    def take_peak(self) -> float:
        """Peak MB since the last call; starts the next window."""
        self._pids = self._tree()
        self.sample()
        with self._lock:
            peak, self.window_bytes = self.window_bytes, 0
        return peak / 2**20

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._pids = self._tree()
        self.sample()
        return self.peak_bytes / 2**20

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(self.interval_s):
            if n % self.rescan == 0:
                self._pids = self._tree()
            self.sample()
            n += 1

    @staticmethod
    def _tree() -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", "rb") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # the command name may hold spaces; fields resume after ')'
            ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
            children[ppid].append(int(entry))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> None:
        parts = {}
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/statm", "rb") as fh:
                    parts[pid] = int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        total = sum(parts.values())
        with self._lock:
            self.window_bytes = max(self.window_bytes, total)
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.peak_parts = parts


def hadoop_bytes_written(spark) -> int:
    """Bytes the JVM has written through Hadoop's local file system: data
    files, checksums and commit markers of every parquet write."""
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem
    return sum(
        st.getBytesWritten() for st in fs.getAllStatistics() if st.getScheme() == "file"
    )


def dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, data files) under ``path``; checksum and marker files count
    as bytes but not as files."""
    nbytes = nfiles = 0
    for root, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += f.endswith(".parquet")
    return nbytes, nfiles


# --- UDF profiler ----------------------------------------------------------------


def udf_profiles(spark, top: int = 12) -> tuple[dict[str, float], dict[str, list]]:
    """From the ``perf`` UDF profiler results collected so far: cumulative
    time per geometry kernel (summed over UDF ids and workers), and per
    UDF id the ``top`` functions by cumulative time."""
    kernels = {k: 0.0 for k in GEO_KERNELS}
    tables = {}
    for udf_id, stats in spark._profiler_collector._perf_profile_results.items():
        rows = []
        for (filename, line, func), (_, ncalls, tottime, cumtime, _) in stats.stats.items():
            name = func.lstrip("_")
            if filename.endswith("kernels.py") and name in kernels:
                kernels[name] += cumtime
            rows.append([f"{os.path.basename(filename)}:{line}({func})", ncalls, tottime, cumtime])
        rows.sort(key=lambda r: r[3], reverse=True)
        tables[str(udf_id)] = rows[:top]
    return kernels, tables


# --- event log ---------------------------------------------------------------------


def _python_node(metric_names: set[str]) -> bool:
    return "time to run Python workers" in metric_names


def parse_event_log(log_dir: Path, job_prop: str, is_source_node) -> dict[int, dict]:
    """Spark metrics per benchmark job from the (uncompressed) event log.

    Jobs are told apart by the ``job_prop`` local property the benchmark
    sets before each pipeline job. Task metrics are summed over the
    job's stages; SQL metrics are summed per plan node, found through the
    accumulator ids in every plan version (initial and adaptive).
    ``is_source_node(name, simple)`` picks the plan nodes whose output
    rows are the rows the sources layer produced."""
    files = sorted(p for p in log_dir.rglob("*") if p.is_file() and "events_" in p.name)
    if not files:
        files = sorted(p for p in log_dir.iterdir() if p.is_file())
    acc_node: dict[int, tuple[str, str, str]] = {}
    node_metrics: dict[tuple[str, str], set[str]] = defaultdict(set)
    stage_job: dict[int, int] = {}
    exec_job: dict[int, int] = {}
    task = defaultdict(lambda: defaultdict(float))
    acc = defaultdict(lambda: defaultdict(float))

    def walk(plan: dict) -> None:
        key = (plan["nodeName"], plan["simpleString"])
        for m in plan["metrics"]:
            acc_node[m["accumulatorId"]] = (plan["nodeName"], plan["simpleString"], m["name"])
            node_metrics[key].add(m["name"])
        for c in plan["children"]:
            walk(c)

    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    walk(e["sparkPlanInfo"])
                elif ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    if job_prop not in props:
                        continue
                    job = int(props[job_prop])
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = job
                    if "spark.sql.execution.id" in props:
                        exec_job[int(props["spark.sql.execution.id"])] = job
                elif ev == "SparkListenerTaskEnd":
                    job = stage_job.get(e["Stage ID"])
                    if job is None:
                        continue
                    tm = e.get("Task Metrics") or {}
                    t = task[job]
                    t["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    t["gc_ms"] += tm.get("JVM GC Time", 0)
                    t["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    sw = tm.get("Shuffle Write Metrics", {})
                    t["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    t["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
                    t["fetch_wait_ms"] += tm.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
                    t["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                    t["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                    info = e["Task Info"]
                    t["task_ms"] += info["Finish Time"] - info["Launch Time"]
                    init_ms = [0.0]
                    for a in info.get("Accumulables", []):
                        if a["ID"] in acc_node and "Update" in a:
                            acc[job][a["ID"]] += float(a["Update"])
                            if acc_node[a["ID"]][2] == "time to initialize Python workers":
                                init_ms.append(float(a["Update"]))
                    # A reused Python worker takes its boot timestamp when
                    # it starts waiting for its next task, so "time to
                    # initialize" also holds that idle wait. Summed over
                    # tasks, the largest value per task can then exceed
                    # the tasks' own wall time (spark.task_s), which shows
                    # how much of it is wait rather than work.
                    t["init_task_max_ms"] += max(init_ms)
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    job = exec_job.get(e["executionId"])
                    if job is None:
                        continue
                    for aid, val in e["accumUpdates"]:
                        if aid in acc_node:
                            acc[job][aid] += float(val)

    out = {}
    for job in set(task) | set(acc):
        t = task[job]
        node = defaultdict(float)  # (nodeName, simpleString, metric) -> value
        for aid, v in acc[job].items():
            node[acc_node[aid]] += v
        m = dict.fromkeys(LOG_METRICS, 0.0)
        m.update(
            {
                "spark.executor_cpu_s": t["cpu_ns"] / 1e9,
                "spark.task_s": t["task_ms"] / 1e3,
                "spark.python.worker_init_task_max_s": t["init_task_max_ms"] / 1e3,
                "spark.gc_s": t["gc_ms"] / 1e3,
                "spark.spill_bytes": t["spill_bytes"],
                "spark.exchange.bytes_written": t["shuffle_bytes"],
                "spark.exchange.write_s": t["shuffle_write_ns"] / 1e9,
                "spark.exchange.fetch_wait_s": t["fetch_wait_ms"] / 1e3,
                "spark.scan.bytes_read": t["input_bytes"],
                "sinks.bytes_written": t["output_bytes"],
            }
        )
        py_nodes = set()
        for (name, simple, metric), v in node.items():
            if metric == "number of output rows" and is_source_node(name, simple):
                m["sources.rows_out"] += v
            if _python_node(node_metrics[(name, simple)]):
                py_nodes.add((name, simple))
                if metric == "number of output rows":
                    m["spark.python.rows"] += v
                    if any(k in simple for k in PAIR_KERNELS):
                        m["geo.kernel_rows"] += v
                elif metric == "data sent to Python workers":
                    m["spark.python.bytes_to_worker"] += v
                elif metric == "data returned from Python workers":
                    m["spark.python.bytes_from_worker"] += v
                elif metric == "time to start Python workers":
                    m["spark.python.worker_boot_s"] += v / 1e3
                elif metric == "time to initialize Python workers":
                    m["spark.python.worker_init_s"] += v / 1e3
                elif metric == "time to run Python workers":
                    m["spark.python.run_s"] += v / 1e3
            elif metric == "number of files read":
                m["spark.scan.files_read"] += v
            elif metric == "number of written files":
                m["sinks.files_written"] += v
            elif metric == "number of output rows" and "Join" in name and "bbox" in simple:
                m["geo.candidate_pairs"] += v
        m["spark.python.eval_nodes"] = len(py_nodes)
        m["_nodes"] = {f"{n} | {s[:120]} | {k}": v for (n, s, k), v in node.items() if v}
        out[job] = m
    return out

