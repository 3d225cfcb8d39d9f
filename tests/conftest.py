import contextlib
import itertools
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("feathr_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_JOB_GROUPS = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` and returns (its result, the
    number of Spark jobs it launched)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def count_py4j():
    """``count_py4j(fn)`` runs ``fn()`` and returns (its result, the
    number of py4j round trips it made: commands its thread sent to the
    JVM gateway). Commands of other threads, such as releases of JVM
    object proxies freed there, are not counted, and Python's cyclic
    garbage collector is paused while ``fn`` runs: both release proxies
    made before ``fn``, at times that vary between runs."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    def run(fn):
        send = ClientServerConnection.send_command
        calls = [0]
        caller = threading.get_ident()

        def counted(self, command):
            if threading.get_ident() == caller:
                calls[0] += 1
            return send(self, command)

        gc.collect()
        gc.disable()
        ClientServerConnection.send_command = counted
        try:
            out = fn()
        finally:
            ClientServerConnection.send_command = send
            gc.enable()
        return out, calls[0]

    return run


@contextlib.contextmanager
def _one_node_raft(api):
    from feathr_spark.registry.raft_http import RaftRegistryServer
    server = RaftRegistryServer("n0", tick_ms=25, api=api).start()
    try:
        server.init_cluster({"n0": server.url})
        deadline = time.time() + 10
        while not server.node.is_leader():
            assert time.time() < deadline, "the node elected no leader"
            time.sleep(0.02)
        yield server.url
    finally:
        server.stop()


@pytest.fixture(scope="session")
def one_node_raft():
    """``with one_node_raft(api) as url:`` serves ``api`` from a one-node
    Raft registry cluster whose node leads — a drop-in for
    ``with RegistryHttpServer(api) as url:``."""
    return _one_node_raft
