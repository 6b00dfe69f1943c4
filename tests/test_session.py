"""Session defaults fit the host they start on."""

from __future__ import annotations

import logging
import os
import re
import tempfile

from dstlr_spark import session


def _jvm_mb(size: str) -> int:
    n, unit = re.fullmatch(r"(\d+)([mg])", size).groups()
    return int(n) * (1024 if unit == "g" else 1)


def test_driver_heap_fits_the_host(tmp_path):
    """65% of a 15 GiB host, 48g on a large one or when RAM is unknown."""
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemTotal:       15728640 kB\nMemFree:        14000000 kB\n"
    )
    assert _jvm_mb(session.default_driver_mem(str(meminfo))) <= 10 * 1024
    meminfo.write_text("MemTotal:       132000000 kB\n")
    assert _jvm_mb(session.default_driver_mem(str(meminfo))) == 48 * 1024
    assert _jvm_mb(session.default_driver_mem(str(tmp_path / "absent"))) == 48 * 1024


class _Statvfs:
    def __init__(self, free_bytes):
        self.f_frsize = 4096
        self.f_bavail = free_bytes // 4096


def test_local_dir_uses_shm_only_with_room(monkeypatch, caplog):
    monkeypatch.setattr(
        os, "statvfs", lambda _: _Statvfs(session.SHM_MIN_FREE_BYTES)
    )
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.default_local_dir() == "/dev/shm/dstlr_spark_local"
    assert not caplog.records

    monkeypatch.setattr(
        os, "statvfs", lambda _: _Statvfs(session.SHM_MIN_FREE_BYTES - 4096)
    )
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.default_local_dir() == tempfile.gettempdir()
    assert [r.levelname for r in caplog.records] == ["WARNING"]
