"""Session defaults (session.py)."""

from kaspi_etl_spark.session import default_driver_memory


def _meminfo(tmp_path, total_kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_a_quarter_of_the_host(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "4096m"


def test_driver_memory_is_capped_at_48g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 512 * 1024 * 1024)) == "49152m"


def test_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "48g"


def test_session_reads_nanosecond_timestamps_as_long(spark):
    # registry.read_events relies on it; a plan-cache hit never re-runs
    # the reader, so the session itself must carry it
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
