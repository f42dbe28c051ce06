"""The host-sizing rules of session.get_spark: driver heap and CPUs."""

from __future__ import annotations

from chicago_business_owners_data_engineering_spark.session import (
    cpus_for,
    driver_memory_for,
)


def _meminfo(total_kib: int) -> str:
    return (
        f"MemTotal:       {total_kib} kB\n"
        "MemFree:         1234567 kB\n"
        "MemAvailable:    2345678 kB\n"
    )


def test_heap_is_sixty_percent_of_memtotal_in_whole_gib():
    # a 15.7 GiB host: 0.6 * 15.7 = 9.4 -> 9g, not the 16g that cannot start
    assert driver_memory_for(_meminfo(16_479_424)) == "9g"
    assert driver_memory_for(_meminfo(8 * 2**20)) == "4g"


def test_heap_is_capped_at_16g_and_floored_at_1g():
    assert driver_memory_for(_meminfo(256 * 2**20)) == "16g"
    assert driver_memory_for(_meminfo(27 * 2**20)) == "16g"  # 16.2 -> cap
    assert driver_memory_for(_meminfo(1 * 2**20)) == "1g"


def test_cpus_are_the_smaller_of_affinity_and_cgroup_quota():
    # a 2.5-CPU quota on a 16-core host rounds up to 3 CPUs
    assert cpus_for(16, "250000 100000\n") == 3
    # a quota wider than the affinity mask leaves the mask
    assert cpus_for(4, "800000 100000\n") == 4
    # a quota below one CPU still gets one
    assert cpus_for(8, "20000 100000\n") == 1


def test_cpus_without_a_quota_are_the_affinity_mask():
    assert cpus_for(6, "max 100000\n") == 6
    assert cpus_for(6, None) == 6
