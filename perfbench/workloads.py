"""The benchmark's workloads: which pipelines run.

Every workload reads the sf0.01 test tables in ``perfbench/data``. Each
pipeline is a ``__spark_entry__.queries()`` entry; its output goes to a
parquet sink and is checked against its reference (``oracle.py``).
``stages`` are the ``__spark_entry__`` input-staging helpers the pipelines
read from (a GeoTIFF file, the events stream directory); they run in set-up.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    pipelines: tuple[str, ...]
    stages: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        # The paper's surface on small inputs: fixed per-pipeline cost (plan
        # construction, eager control jobs, Python workers for kriging's
        # mapInPandas, micro-batch planning and state stores) dominates. The
        # streaming interval aggregation also runs the temporal operators.
        Workload(
            "sensor_pipelines",
            (
                "sensors_kriging",
                "sensors_buffer_sweep",
                "events_stream_interval",
            ),
            stages=("_stage_events",),
        ),
        # Shuffle, iterative driver loops and cache/checkpoint state: text
        # statistics, exact dedup, IVF approximate nearest neighbours over
        # the embeddings and Adamic-Adar link prediction over the user
        # co-occurrence graph.
        Workload(
            "llm_curation",
            (
                "docs_text_stats",
                "docs_dedup_exact",
                "emb_ann_ivf",
                "events_adamic_adar",
            ),
        ),
    )
}
