"""bench.py's leg lists name only registered queries, once each (no
Spark: the lists and the registry are plain module data)."""

import bench
from nlp_with_pyspark_spark.queries import QUERIES


def test_bench_membership():
    scale_bases = [base for base, _ in bench.SCALE_LEGS.values()]
    assert [n for n in bench.HEADLINE + scale_bases if n not in QUERIES] == []
    assert sorted(bench.LIFECYCLE - set(bench.HEADLINE)) == []
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert not set(bench.SCALE_LEGS) & set(bench.HEADLINE)
