"""bench.cpu_ns reads container CPU time from cgroup v1, falls
back to cgroup v2, and reports None when neither file is readable."""

from __future__ import annotations

import importlib.util
import os

import pytest

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "bench.py",
)


@pytest.fixture()
def cpu_profile():
    spec = importlib.util.spec_from_file_location("cpu_profile", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_cgroup_v1_then_v2_then_none(cpu_profile, tmp_path, monkeypatch):
    v1 = tmp_path / "cpuacct.usage"
    v2 = tmp_path / "cpu.stat"
    monkeypatch.setattr(cpu_profile, "_CPUACCT", str(v1))
    monkeypatch.setattr(cpu_profile, "_CPU_STAT", str(v2))

    assert cpu_profile.cpu_ns() is None  # neither file exists

    v2.write_text("usage_usec 1234567\nuser_usec 1000000\nsystem_usec 234567\n")
    assert cpu_profile.cpu_ns() == 1234567 * 1000

    v1.write_text("987654321\n")
    assert cpu_profile.cpu_ns() == 987654321  # v1 wins when present

    v1.write_text("")  # unreadable v1 value: fall back to v2
    assert cpu_profile.cpu_ns() == 1234567 * 1000
