"""Run a graph-operator check on both sides of the driver-local ceiling.

Every test graph is far below ``operators.graph._CC_LOCAL_MAX_EDGES``,
so without forcing the ceiling to 0 the distributed shuffle loop of
``k_core`` would never run under test."""

from __future__ import annotations

import contextlib

import pytest

from climate_anomaly_bigdata_pipeline_spark.operators import graph as G

GRAPH_PATHS = ("local", "distributed")


@contextlib.contextmanager
def graph_path(path: str):
    """Inside the block graph fixpoints take ``path``: ``"local"`` keeps
    the configured ceiling, ``"distributed"`` sets it to 0."""
    with pytest.MonkeyPatch.context() as mp:
        if path == "distributed":
            mp.setattr(G, "_CC_LOCAL_MAX_EDGES", 0)
        yield
