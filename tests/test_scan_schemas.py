"""Round-17 pins for the explicit scan schemas (no per-call footer
inference). The optimization is only sound while the explicit schemas are
byte-identical to what inference returns on the fixtures — these tests make
a fixture or declared-schema drift fail loudly instead of corrupting scans."""

from __future__ import annotations

import pyarrow.parquet as pq

from mini_project_big_data_analysis_spark.sources.events import (
    _SCHEMA_CACHE,
    load_events,
)
from mini_project_big_data_analysis_spark.sources.readers import (
    TABLES,
    read_table,
)


def test_scan_schemas_match_footer_inference(spark, sf_dir):
    for name in TABLES:
        if name == "events":
            continue  # separate probe-cache contract below
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        got = read_table(spark, sf_dir, name).schema
        assert got == inferred, f"{name}: explicit scan schema drifted from footer"


def test_events_probe_cache_is_schema_stable(spark, sf_dir, tmp_path):
    # the fixture, and an events file whose footer departs from the
    # declared EVENTS schema outside ``ts`` (its columns reversed): a
    # cached read must reproduce the probed read whatever the footer holds
    t = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(t.select(t.column_names[::-1]), tmp_path / "events.parquet")
    for d in (sf_dir, str(tmp_path)):
        first = load_events(spark, d)
        assert _SCHEMA_CACHE, "probe cache not populated"
        second = load_events(spark, d)  # cached-schema path
        assert first.schema == second.schema, d
        # values identical through both paths: the cached-schema read must
        # see the same rows the inference read did
        assert first.count() > 0
        assert first.exceptAll(second).count() == 0
        assert second.exceptAll(first).count() == 0
