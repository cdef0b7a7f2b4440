"""The registry contract: unique names, registration order, no file reads."""

from __future__ import annotations

import builtins
import glob

import pytest

from bigdatanycdiseasesurveillance_spark import queries  # noqa: F401
from bigdatanycdiseasesurveillance_spark.registry import _REGISTRY, all_specs, register


def test_register_rejects_duplicate_name():
    name = "__test_registry_duplicate__"
    try:
        register(name, "SELECT 1")(lambda spark, sf_dir: None)
        with pytest.raises(ValueError, match="duplicate query name"):
            register(name, "SELECT 1")(lambda spark, sf_dir: None)
    finally:
        _REGISTRY.pop(name, None)


def test_all_specs_is_registration_order():
    assert list(all_specs()) == list(_REGISTRY)


def test_all_specs_reads_no_file(monkeypatch):
    def refuse(*args, **kwargs):
        raise AssertionError(f"all_specs() touched the file system: {args!r}")

    monkeypatch.setattr(builtins, "open", refuse)
    monkeypatch.setattr(glob, "glob", refuse)
    specs = all_specs()
    assert len(specs) == len(_REGISTRY) > 0
