"""Smoke the example workloads (SURVEY.md §5 item 4) — the reference's
six canonical scripts plus this repo's beyond-reference pipelines — on
the shared test session."""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "examples"))

import array_ops  # noqa: E402
import asof_alignment  # noqa: E402
import coordination_channel  # noqa: E402
import curation_pipeline  # noqa: E402
import dedup_pipeline  # noqa: E402
import fan_in  # noqa: E402
import gemm  # noqa: E402
import lakehouse_pipeline  # noqa: E402
import linear_dag  # noqa: E402
import multimodal_pipeline  # noqa: E402
import single_node  # noqa: E402
import svd1  # noqa: E402
import svd2  # noqa: E402
import svc_inference  # noqa: E402
import tree_reduction  # noqa: E402
import warehouse_analytics  # noqa: E402

ALL = {
    "array_ops": array_ops.run,
    "asof_alignment": asof_alignment.run,
    "coordination_channel": coordination_channel.run,
    "curation_pipeline": curation_pipeline.run,
    "dedup_pipeline": dedup_pipeline.run,
    "single_node": single_node.run,
    "lakehouse_pipeline": lakehouse_pipeline.run,
    "linear_dag": linear_dag.run,
    "multimodal_pipeline": multimodal_pipeline.run,
    "fan_in": fan_in.run,
    "tree_reduction": tree_reduction.run,
    "svd1": svd1.run,
    "gemm": gemm.run,
    "svc_inference": svc_inference.run,
    "svd2": svd2.run,
    "warehouse_analytics": warehouse_analytics.run,
}


@pytest.mark.parametrize("name", sorted(ALL))
def test_example(spark, name):
    assert ALL[name](spark)
