"""Session defaults are sized to the host they run on."""

from __future__ import annotations

import os
from types import SimpleNamespace

from metadata_reconciliation_tool_spark import session


def test_default_driver_mem_is_a_quarter_of_ram_at_most():
    mem = session.default_driver_mem()
    assert mem.endswith("g")
    gb = int(mem[:-1])
    assert 1 <= gb <= 48
    assert gb == 1 or gb << 30 <= session._mem_total_bytes() // 4


def test_default_local_dir_needs_room_in_shm(monkeypatch):
    total = session._mem_total_bytes()

    def shm(free_bytes):
        return lambda path: SimpleNamespace(f_bavail=free_bytes // 4096, f_frsize=4096)

    monkeypatch.setattr(os, "statvfs", shm(64 << 20))  # a container's default
    assert session.default_local_dir() == "/tmp"
    monkeypatch.setattr(os, "statvfs", shm(total))
    assert session.default_local_dir() == "/dev/shm/spark-local"

    def missing(path):
        raise FileNotFoundError(path)

    monkeypatch.setattr(os, "statvfs", missing)
    assert session.default_local_dir() == "/tmp"
