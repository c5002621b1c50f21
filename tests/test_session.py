"""Session defaults derived from the host when the environment sets none."""

from __future__ import annotations

import os

from energy_data_stream_processing_spark import session


def test_defaults_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2}, raising=False)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert session._host_cpus() == "3"
    assert session._host_driver_memory() == f"{15 * 2**30 // 2 // 2**20}m"  # half of RAM

    pages["SC_PHYS_PAGES"] = 64 * 2**30 // 4096
    assert session._host_driver_memory() == "16384m"  # capped at 16g


def test_explicit_environment_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "16g")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0}, raising=False)
    assert session._host_cpus() == "32"
    assert session._host_driver_memory() == "16g"
