"""Queries that write intermediate tables own one scratch dir per
(kind, dataset) and reuse it: calling one again leaves no new
`bdnds_*` name in the temp dir."""

from __future__ import annotations

import os
import tempfile

import pytest

from bigdatanycdiseasesurveillance_spark.registry import all_specs


def _bdnds_names() -> set[str]:
    return {d for d in os.listdir(tempfile.gettempdir()) if d.startswith("bdnds_")}


@pytest.mark.parametrize(
    "name",
    [
        "maint_compact_small_files",
        "maint_erasure_propagation",
        "maint_vacuum_gold",
        "src_schema_evolution_merge",
        "stream_foreachbatch_upsert",
    ],
)
def test_second_call_adds_no_scratch_dir(spark, sf_dir, name):
    fn = all_specs()[name].fn
    fn(spark, sf_dir).collect()
    once = _bdnds_names()
    fn(spark, sf_dir).collect()
    assert _bdnds_names() - once == set()
