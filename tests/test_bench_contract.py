"""The operator-slice bench's contract with the rest of the repository,
checked without a Spark session: perfbench stamps every record with
``bench._bandwidth_probe_gbps``, and the bench times queries by their
names in ``__spark_entry__.queries()``."""

import bench
import __spark_entry__


def test_bandwidth_probe_returns_positive_gbps():
    from bench import _bandwidth_probe_gbps

    gbps = _bandwidth_probe_gbps()
    assert isinstance(gbps, float) and gbps > 0


def test_operator_queries_are_declared_queries():
    assert bench.OPERATOR_QUERIES
    assert set(bench.OPERATOR_QUERIES) <= set(__spark_entry__.queries())
