"""Default driver-heap sizing (session.default_driver_memory); no Spark session."""

from __future__ import annotations

import os

import pytest

from efficient_llm_data_wrangling_spark import session

GIB = 1024**3
PAGE = 4096


@pytest.mark.parametrize(
    "physical, cgroup_limit, expected",
    [
        (128 * GIB, None, "12g"),  # the ceiling
        (24 * GIB, None, "12g"),  # smallest host that keeps the ceiling
        (16 * GIB, None, "8g"),  # half
        (16070 * 1024**2, None, "8035m"),  # half, in MiB when not whole GiB
        (3 * GIB // 2, None, "1g"),  # Spark's own default as the floor
        (128 * GIB, 10 * GIB, "5g"),  # a lower cgroup limit wins
        (16 * GIB, 64 * GIB, "8g"),  # a higher cgroup limit is ignored
    ],
)
def test_default_driver_memory(monkeypatch, physical, cgroup_limit, expected):
    pages = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": physical // PAGE}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    monkeypatch.setattr(session, "_cgroup_memory_limit", lambda: cgroup_limit)
    assert session.default_driver_memory() == expected


def test_startup_confs_use_the_host_sized_default():
    assert session.STARTUP_CONFS["spark.driver.memory"] == session.default_driver_memory()


@pytest.mark.parametrize("exc", [ValueError, OSError])
def test_failing_sysconf_falls_back_to_12g(monkeypatch, exc):
    def boom(name):
        raise exc(name)

    monkeypatch.setattr(os, "sysconf", boom)
    monkeypatch.setattr(session, "_cgroup_memory_limit", lambda: None)
    assert session.default_driver_memory() == "12g"


@pytest.mark.parametrize(
    "v2, v1, expected",
    [
        ("max\n", None, None),
        (f"{6 * GIB}\n", None, 6 * GIB),
        (None, "9223372036854771712\n", 9223372036854771712),
        (None, f"{4 * GIB}\n", 4 * GIB),
        (None, None, None),
    ],
)
def test_cgroup_reader(monkeypatch, tmp_path, v2, v1, expected):
    files = []
    for name, text in (("memory.max", v2), ("memory.limit_in_bytes", v1)):
        path = tmp_path / name
        if text is not None:
            path.write_text(text)
        files.append(str(path))
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMIT_FILES", tuple(files))
    assert session._cgroup_memory_limit() == expected
