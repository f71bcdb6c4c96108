"""The benchmark's workloads: which registered queries a pass runs, and the
scale of the generated inputs. Why each mix and the scale were chosen is in
perfbench/README.md."""

from __future__ import annotations

from dataclasses import dataclass

# tools/gen_sf.py scale factor of every workload's generated inputs
SCALE = 0.01


# Each list has an odd length: the nearest-rank median of a run's latencies
# then falls inside the middle query's samples instead of flipping between
# two queries of different cost.
@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        # the orders job end to end: land, transform, merge, stream, publish
        Workload(
            "orders_etl",
            ("q_agg_basic", "q_star_join", "q_json_ingest", "q_occ_merge", "q_stream_sink"),
        ),
        Workload(
            "curation_mix",
            ("q_dedup_exact", "q_sim_topk", "q_text_tfidf", "q_pandas_udf", "q_multimodal_decode"),
        ),
    )
}
