from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


def uf_components(edges, nodes):
    """Reference connected components by union-find: {(node, component
    minimum)} for every node in ``nodes``."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {(n, min(ms)) for ms in comp.values() for n in ms}


def run_to_completion(writer, **start_kwargs):
    """Start a streaming query, process everything available, stop it
    and return it — the bounded produce-N/consume-N smoke shape."""
    query = writer.start(**start_kwargs)
    query.processAllAvailable()
    query.stop()
    return query


def pair_views(spark) -> list[str]:
    """The session's shared pair views (operators/dedup.py)."""
    return sorted(
        r.viewName for r in spark.sql("SHOW VIEWS LIKE 'sds_pairs_*'").collect()
        if r.isTemporary
    )


@pytest.fixture(scope="session")
def spark():
    from streaming_data_spark.session import get_session

    s = get_session(app_name="sds-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` → (fn's result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-of-{id(fn)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def star_cc_paths(spark):
    """``for path in star_cc_paths():`` runs the loop body once on each
    path of ``connected_components_star``: the default broadcast
    threshold sends every test-sized edge list to the driver finish,
    and -1 (the 100 TB shape) keeps the distributed loop."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)

    def paths():
        for path, value in (("driver_finish", old), ("loop", "-1")):
            spark.conf.set(key, value)
            yield path

    yield paths
    spark.conf.set(key, old)
