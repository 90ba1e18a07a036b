"""Pins for stream_tws_dedup's one mechanism: the transformWithStateInPandas
state API, whose state server needs ``google.protobuf`` in the Python
workers.

``provision_protobuf_for_session`` makes it importable for either session
origin: ``get_spark`` exports the vendored runtime's directory on
$PYTHONPATH before the JVM starts, and for an externally built session the
directory is merged into ``sc.environment`` (which the worker factory folds
into the workers' PYTHONPATH). These tests pin that channel, the state-API
run under a session built without ``get_spark``, and the loud failure when
provisioning is impossible — there is no second dedup path to degrade to."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

from mini_project_big_data_analysis_spark.sources.readers import read_table
from mini_project_big_data_analysis_spark.streaming import pipeline
from mini_project_big_data_analysis_spark.vendor import (
    _VENDOR_DIR,
    provision_protobuf_for_session,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Builds its own session (no get_spark, so no $PYTHONPATH export before
#: the JVM starts), turns every warning into an error and prints the
#: event_ids stream_tws_dedup returned.
_EXTERNAL_SESSION_RUN = """
import json, sys, warnings
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .appName("tws-external-session")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.driver.memory", "1g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from mini_project_big_data_analysis_spark.queries import all_queries
warnings.simplefilter("error")
rows = all_queries()["stream_tws_dedup"].fn(spark, sys.argv[1]).collect()
print(json.dumps([r.event_id for r in rows]))
spark.stop()
"""


def test_provision_reaches_sc_environment(spark):
    """With no real protobuf installed, provisioning must put the vendor
    dir on sc.environment's PYTHONPATH — the only channel that reaches the
    TWS driver worker of an externally built session."""
    assert provision_protobuf_for_session(spark)
    import google.protobuf as pb

    if (getattr(pb, "__file__", "") or "").startswith(_VENDOR_DIR):
        env_path = spark.sparkContext.environment.get("PYTHONPATH", "")
        assert _VENDOR_DIR in env_path.split(os.pathsep)


def test_tws_state_api_under_external_session(spark, sf_dir, tmp_path):
    """A session built without get_spark, whose JVM started with no
    PYTHONPATH, runs the state API to an exactly-once result with no
    warning raised."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", _EXTERNAL_SESSION_RUN, sf_dir],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    expected = [
        r.event_id
        for r in read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("event_id")
        .collect()
    ]
    assert len(got) == len(set(got)), "a redelivered event survived"
    assert sorted(got) == sorted(expected)


def test_unprovisionable_protobuf_raises(spark, sf_dir, monkeypatch):
    """When google.protobuf cannot be provisioned the query fails loudly,
    naming the missing module, instead of running some other path."""
    monkeypatch.setattr(pipeline, "provision_protobuf_for_session", lambda s: False)
    with pytest.raises(RuntimeError, match="google.protobuf"):
        pipeline.run_tws_dedup(spark, sf_dir)
