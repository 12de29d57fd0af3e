"""Host-derived memory sizing of voluptuous_spark.session (no JVM)."""

import pytest

from voluptuous_spark.session import _to_mb, memory_plan

GB = 1024


@pytest.mark.parametrize("host_gb,heap,offheap,pretouch", [
    (8, "3686m", "1638m", False),
    (15, "6912m", "3072m", False),
    (64, "24576m", "13107m", False),
    (256, "24576m", "16384m", True),
])
def test_memory_plan_from_host_size(host_gb, heap, offheap, pretouch):
    assert memory_plan(host_gb * GB) == (heap, offheap, pretouch)


def test_memory_plan_overrides_win():
    # the benchmark's settings on a 15 GB host: small heap, pre-touched
    assert memory_plan(15 * GB, "1920m", "960m") == ("1920m", "960m", True)
    assert memory_plan(15 * GB, "6g", None) == ("6g", "3072m", False)
    assert memory_plan(256 * GB, None, "2g") == ("24576m", "2g", True)


def test_to_mb():
    assert [_to_mb(s) for s in ("6g", "1920m", "2048k", "1G", "1073741824")] \
        == [6144, 1920, 2, 1024, 1024]
