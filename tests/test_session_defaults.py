"""The driver-heap default fits the host: half of MemTotal, whole GiB,
between 1g and 32g; hosts without /proc/meminfo get the 32g ceiling."""

from ethereum_etl_airflow_spark.session import default_driver_memory


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_half_of_host_memory_in_whole_gib(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16456384)) == "7g"  # 15.7 GiB host
    assert default_driver_memory(_meminfo(tmp_path, 64 * 1024**2)) == "32g"


def test_capped_and_floored(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 512 * 1024**2)) == "32g"
    assert default_driver_memory(_meminfo(tmp_path, 1024**2)) == "1g"


def test_no_meminfo_falls_back_to_ceiling(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "32g"
