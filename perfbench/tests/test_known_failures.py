"""Known program failures the benchmark leaves out of its workloads.

A workload must be one on which no call fails, so a call that fails today
is left out of the workload and pinned here instead. When this test
starts failing, the program was fixed: add the call to the workload (see
README.md, "Scope cuts") and delete the test.
"""

from __future__ import annotations

import os

import pytest

import inputs
import run


@pytest.fixture(scope="module")
def spark():
    from pasgal_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


def test_scc_raises_on_the_benchmark_grid(spark, tmp_path):
    from pasgal_spark.graph import directed

    size = run.WORKLOADS["grid"]["size"]
    path = os.path.join(tmp_path, "grid.parquet")
    g = inputs.write_grid(path, size["rows"], size["cols"], seed=1)
    tables, _ = run.ingest(spark, "grid", path, g.n)
    with pytest.raises(Exception, match="frontier still live after 100 supersteps"):
        directed.scc(tables["edges"], tables["vertices"]).count()
