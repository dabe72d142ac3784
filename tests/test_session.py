"""Default driver heap: 25% of MemTotal, capped by the cgroup memory limit."""

from wp_motor_spark.session import _default_driver_mem


def _files(tmp_path, mem_total_kib: int, v2: str | None = None, v1: str | None = None):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_total_kib} kB\nMemFree:        1024 kB\n")
    limits = []
    for name, value in (("memory.max", v2), ("memory.limit_in_bytes", v1)):
        p = tmp_path / name
        if value is not None:
            p.write_text(value + "\n")
        limits.append(str(p))  # a missing file reads as "no cgroup"
    return str(meminfo), tuple(limits)


def test_cgroup_v2_limit_caps_the_default_heap(tmp_path):
    # an 8 GiB pod on a 128 GiB node: 25% of the pod, not of the node
    meminfo, limits = _files(tmp_path, 128 * 2**20, v2=str(8 * 2**30))
    assert _default_driver_mem(meminfo, limits) == "2g"


def test_cgroup_v2_max_falls_back_to_memtotal(tmp_path):
    meminfo, limits = _files(tmp_path, 64 * 2**20, v2="max")
    assert _default_driver_mem(meminfo, limits) == "16g"


def test_cgroup_v1_limit_and_its_no_limit_sentinel(tmp_path):
    meminfo, limits = _files(tmp_path, 64 * 2**20, v1=str(16 * 2**30))
    assert _default_driver_mem(meminfo, limits) == "4g"
    meminfo, limits = _files(tmp_path, 64 * 2**20, v1="9223372036854771712")
    assert _default_driver_mem(meminfo, limits) == "16g"


def test_nothing_readable_keeps_the_bench_default(tmp_path):
    missing = str(tmp_path / "absent")
    assert _default_driver_mem(missing, (missing,)) == "24g"
