"""Session factory (session.get_spark): with no overrides in the
environment, parallelism and driver heap are sized from the host."""

from __future__ import annotations

import os
import types

from terra_bonobo_nodes_spark import session


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, url):
        return self.config("master", url)

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return types.SimpleNamespace(sparkContext=types.SimpleNamespace(setLogLevel=id))


def test_defaults_come_from_the_host(monkeypatch):
    builder = _RecordingBuilder()
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "ship_package", id)
    session.get_spark("defaults")

    cpus = len(os.sched_getaffinity(0))
    assert builder.conf["master"] == f"local[{cpus}]"
    assert builder.conf["spark.sql.shuffle.partitions"] == str(max(cpus, 8))
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    # half of physical memory, never more than 16g
    mem = builder.conf["spark.driver.memory"]
    mem_mb = int(mem[:-1]) * {"m": 1, "g": 1024}[mem[-1].lower()]
    assert mem_mb == min(16 * 1024, total_kb // 2048)
