"""The benchmark's workloads: which catalog ids run, in which fixed order.

Each workload is a closed loop with one client. A pass runs every id once,
in the order listed here; the seed changes only the generated inputs, so an
id's predecessor is the same in every pass of every run. After the cold
first pass a run makes ``warm`` untimed passes, then ``timed`` timed ones
(more if the timed window has not yet lasted ``--seconds``), so every run
times the same passes of a fresh JVM.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    ids: tuple[str, ...]
    warm: int
    timed: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "dashboard",
            (
                "flagship_region_hourly_stats",
                "agg_pivot",
                "agg_time_window",
                "fn_dim_lookup",
                "join_broadcast_dim",
                "window_latest_per_key",
            ),
            warm=2,
            timed=4,
        ),
        Workload(
            "curation_ingest",
            (
                "ext_dedup_simhash",
                "stream_tumbling_agg",
                "stream_foreachbatch_upsert",
            ),
            warm=0,
            timed=2,
        ),
    )
}
