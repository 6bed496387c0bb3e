"""Per-family EXT workload modules. Import names from the defining
family module (e.g. ``workloads.w11_warehouse_ops``); monkeypatch
there too.

IMPORT ORDER IS THE REGISTRY ORDER — the ``@query`` decorator appends
to ``workload.QUERIES``/``ORACLES`` at import time, and the driver
rotation breaks last-checked ties by registration position. Keep new
modules at the END.
"""

from . import (  # noqa: F401
    w01_windows_text,
    w02_dedup,
    w03_similarity_multimodal,
    w04_relational,
    w05_clusters_ann,
    w06_joins_chunking,
    w07_cluster_maintenance,
    w08_ann_composites,
    w09_curation_lifecycle,
    w10_dataset_build,
    w11_warehouse_ops,
    w12_retrieval_sketches,
    w13_index_lifecycle,
    w14_graph,
    w15_linkage_dsir,
    w16_behavioral_stats,
    w17_quality_calendar,
    w18_dataset_increment,
    w19_incremental_dims,
    w20_sequential_monitors,
)
