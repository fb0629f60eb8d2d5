"""Session defaults: the local parallelism and the driver heap sized from
the host, and no console progress bar."""

import os

from geofeaturegeneration_spark.session import default_cpus, default_driver_memory

GIB = 2**30


def test_default_driver_memory_is_half_the_limit(tmp_path, monkeypatch):
    """The heap default is half the smallest of the physical memory and
    every numeric cgroup limit, capped at 48g; "max" and missing files
    mean no cgroup limit. Pure Python: no JVM starts."""
    page = 4096
    phys = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": 16 * GIB // page}
    monkeypatch.setattr(os, "sysconf", lambda name: phys[name])

    def limit_file(name, text):
        p = tmp_path / name
        p.write_text(text)
        return str(p)

    missing = str(tmp_path / "absent")
    v2_max = limit_file("memory.max", "max\n")
    v2_4g = limit_file("memory.max.4g", f"{4 * GIB}\n")
    v1_unlimited = limit_file("limit_in_bytes", "9223372036854771712\n")

    assert default_driver_memory(()) == "8192m"
    assert default_driver_memory((missing, v2_max, v1_unlimited)) == "8192m"
    assert default_driver_memory((v2_4g, v1_unlimited)) == "2048m"
    # a host larger than 96 GiB keeps the old 48g ceiling
    phys["SC_PHYS_PAGES"] = 256 * GIB // page
    assert default_driver_memory((v2_max,)) == f"{48 * 1024}m"


def test_default_cpus_follows_affinity_unless_overridden(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the local master gets one thread per CPU
    in this process's affinity mask; the variable overrides it. Pure
    Python: no JVM starts."""
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert default_cpus() == 7


def test_console_progress_bar_off(spark):
    assert spark.conf.get("spark.ui.showConsoleProgress") == "false"
