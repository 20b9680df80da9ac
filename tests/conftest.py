from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
# The engine's 32g driver heap is tuned for large hosts. The throughput
# collector grows the heap toward its maximum instead of collecting, so on
# a smaller host the suite's JVM ends in the kernel's OOM killer: cap it at
# half the host's memory.
_host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(32, max(1, _host_gb // 2))}g")


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import get_spark

    s = get_spark(
        app_name="ocr-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    yield s
