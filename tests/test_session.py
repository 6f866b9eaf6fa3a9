"""JVM-free tests of the SparkSession factory's settings."""

import os

from cdc2vec_spark.session import driver_memory, memory_limit_bytes

GIB = 1 << 30


def test_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(15 * GIB) == "9216m"  # 60% of a 15 GB host
    assert driver_memory(64 * GIB) == "16384m"  # capped at 16g
    mb = int(driver_memory()[:-1])  # this host
    assert 0 < mb <= 16 * 1024
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(64 * GIB) == "3g"  # the env var wins


def test_memory_limit_takes_the_smaller_cgroup_limit(tmp_path):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    files = (str(v2), str(v1))
    assert memory_limit_bytes(files) == phys  # neither file exists
    v2.write_text("max\n")
    v1.write_text(f"{phys * 4}\n")  # v1's "unlimited" is a huge number
    assert memory_limit_bytes(files) == phys
    v2.write_text(f"{2 * GIB}\n")
    assert memory_limit_bytes(files) == min(phys, 2 * GIB)
    v2.write_text("max\n")
    v1.write_text(f"{GIB}\n")
    assert memory_limit_bytes(files) == min(phys, GIB)
