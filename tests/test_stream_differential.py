"""Every registered ``stream_*`` id against its DuckDB oracle at sf0.001.

The streaming runners share one run harness (streaming/pipeline.py), so a
fault in it surfaces in every stream id at once; this differential covers
each id through the same compare the catalog gate uses. An id registered
without an oracle gets the rows-only check (a non-empty result)."""

from __future__ import annotations

import pytest

from mini_project_big_data_analysis_spark.queries import all_queries

from tests.oracle import compare, duck_connection

STREAM_IDS = sorted(q for q in all_queries() if q.startswith("stream_"))


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("qid", STREAM_IDS)
def test_stream_id_matches_its_oracle(spark, sf_dir, duck, qid):
    q = all_queries()[qid]
    got = q.fn(spark, sf_dir)
    if q.oracle is None:
        assert got.count() > 0, f"{qid}: empty result"
        return
    ok, msg = compare(got, duck, q.oracle)
    assert ok, f"{qid}: {msg}"
