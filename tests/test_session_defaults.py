"""session.get_spark defaults come from the machine, not constants;
$SPARK_GRAFT_CPUS and $SPARK_DRIVER_MEM still override them."""

from __future__ import annotations

import os

from etl_framework_spark import session


def test_default_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.default_cpus() == len(os.sched_getaffinity(0))


def test_default_driver_mem(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "5g")
    assert session.default_driver_mem() == "5g"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    mem = session.default_driver_mem()
    assert mem.endswith("m")
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 1024 <= int(mem[:-1]) <= max(1024, total_mb // 4)
