"""Query corpus: every SURVEY.md §2 operator wired to the synthetic
star schema, each with a DuckDB oracle when SQL-expressible.

Importing this package registers all specs (see ..registry).
"""

# Import order is the registry order: registry.all_specs() returns the
# specs in the order these modules register them, so a harness that
# walks a prefix of the registry sees the modules listed first.
from . import (  # noqa: F401
    similarity_q,
    streaming_q,
    text_q,
    tpch,
    mm_cluster_q,
    packing_q,
    streaming_extra_q,
    dedup_extra_q,
    reshape_q,
    analytics_q,
    core_agg,
    core_join,
    core_window,
    dedup_q,
    domain_q,
    forecast_q,
    scalar,
    curation_q,
    temporal_q,
    quality_q,
    maintenance_q,
    text_features_q,
    editsim_q,
    graph_q,
    analytics_extra_q,
    cohort_q,
    curation_pipeline_q,
    basket_q,
    sketch_q,
    geo_pipeline_q,
    ir_q,
    lm_q,
    corpus_export_q,
    sampling_design_q,
)
