"""The default driver heap fits the machine: 48g where the machine can back
it, at most half the usable memory below that, and ``SPARK_GRAFT_DRIVER_MEM``
verbatim when set. Pure Python: no JVM is started."""

from __future__ import annotations

import pytest

from dbt_slabbing_spark import session

PAGE = 4096
GIB = 1024**3


def _machine(monkeypatch, phys_bytes, cgroup_bytes=None):
    sizes = {"SC_PHYS_PAGES": phys_bytes // PAGE, "SC_PAGE_SIZE": PAGE}
    monkeypatch.setattr(session.os, "sysconf", lambda name: sizes[name])
    monkeypatch.setattr(session, "_cgroup_memory_limit", lambda: cgroup_bytes)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


def _mb(mem: str) -> float:
    unit = {"m": 1, "g": 1024}[mem[-1]]
    return float(mem[:-1]) * unit


def test_default_heap_is_48g_on_a_large_machine(monkeypatch):
    _machine(monkeypatch, 512 * GIB)
    assert session._default_driver_memory() == "48g"


def test_default_heap_is_at_most_half_of_a_small_machine(monkeypatch):
    _machine(monkeypatch, int(15.7 * GIB))
    assert _mb(session._default_driver_memory()) <= 15.7 * 1024 / 2


def test_default_heap_follows_a_lower_cgroup_limit(monkeypatch):
    _machine(monkeypatch, 512 * GIB, cgroup_bytes=8 * GIB)
    assert _mb(session._default_driver_memory()) <= 8 * 1024 / 2


@pytest.mark.parametrize("value", ["6g", "2048m"])
def test_env_override_is_returned_verbatim(monkeypatch, value):
    _machine(monkeypatch, 512 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    assert session._default_driver_memory() == value
