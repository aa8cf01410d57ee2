"""Session defaults that need no JVM."""

from scalablevectorsearch_spark.session import default_driver_memory


def test_driver_memory_is_half_memtotal_capped(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16384000 kB\nMemFree:  100 kB\n")
    assert default_driver_memory(str(meminfo)) == "8000m"
    meminfo.write_text("MemTotal:      528000000 kB\n")
    assert default_driver_memory(str(meminfo)) == "49152m"
    assert default_driver_memory(str(tmp_path / "absent")) == "48g"
