import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the job scripts under jobs/ import as top-level modules (curate, curate_media)
sys.path.insert(0, os.path.join(REPO, "jobs"))

# One SparkSession serves the whole suite.  The py4j gateway JVM outlives
# SparkSession.stop(), so a per-module builder only ever set the SQL confs:
# JVM-level settings such as spark.driver.memory took effect only for the
# module that happened to start the JVM first.  Rebuilding the session per
# module also re-forked the Python daemon and re-imported pyspark, pyarrow
# and nreadspark in every worker (~3.4 s per module on 4 cores).  So the
# session is built once, with the library's recommended config
# (configure_session_defaults: Arrow, 256-row batches, AQE), and stopped once
# at the end.  A module that needs other SQL confs wraps the fixture, saving
# each value with spark.conf.get and setting it back afterwards --
# spark.conf.unset would fall back to Spark's built-in default, not to this
# session's value.  The driver heap is pinned here because the JVM starts
# before any builder config is read; the mega-doc soak needs headroom for
# its 50 MB documents.
os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 6g pyspark-shell")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from nreadspark.pipeline import configure_session_defaults

    s = configure_session_defaults(
        SparkSession.builder.master("local[4]")
        .appName("nreadspark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        # UI on (any free port): test_skew_soak reads task metrics from the
        # status REST API
        .config("spark.ui.port", "0")
    ).getOrCreate()
    yield s
    s.stop()
