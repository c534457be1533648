"""The session's machine-derived defaults, computed without starting one."""

from minhash_spark import session
from minhash_spark.session import default_driver_memory


def test_default_driver_memory_is_half_of_ram_capped(monkeypatch):
    conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (15 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert default_driver_memory() == "7680m"  # a 15 GB box
    conf["SC_PHYS_PAGES"] = (126 << 30) // 4096
    assert default_driver_memory() == "16384m"  # capped at 16g
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert default_driver_memory() == "6g"
