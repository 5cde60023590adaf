"""End-to-end training-data pipeline (examples/training_pipeline.py):
funnel invariants + determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from examples.training_pipeline import run_pipeline

pytestmark = pytest.mark.slow  # two end-to-end funnel runs, ~156 s


def test_pipeline_funnel_invariants(spark, sf_dir):
    stages = run_pipeline(spark, sf_dir)
    n = {name: df.count() for name, df in stages.items()}
    # monotone funnel: every stage only removes docs
    assert (n["input"] >= n["cleaned"] >= n["decontaminated"]
            >= n["banded"] >= n["canonical"] >= n["semantic"]
            >= n["sampled"])
    # decontamination removed the held-out split at minimum
    assert n["decontaminated"] < n["cleaned"]
    assert n["packed"] == n["sampled"]  # packing reassigns, never drops
    assert n["sampled"] > 0
    # canonical docs are a subset of cleaned survivors
    extra = (stages["canonical"].select("doc_id")
             .join(stages["cleaned"].select("doc_id"), "doc_id", "anti"))
    assert extra.count() == 0
    # pack offsets respect the budget window
    packed = stages["packed"]
    bad = packed.where(
        (F.col("start_offset") < F.col("pack_id") * 2048)
        | (F.col("start_offset") >= (F.col("pack_id") + 1) * 2048))
    assert bad.count() == 0
    # pii stage covers every input doc
    assert stages["pii"].count() == n["input"]
    # chunk stage: >= one chunk per sampled doc, every chunk within the
    # 32-token budget, and chunk_ids start at 0 per doc
    chunks = stages["chunks"]
    assert n["chunks"] >= n["sampled"]
    assert chunks.where((F.col("n_tokens") < 1)
                        | (F.col("n_tokens") > 32)).count() == 0
    first = chunks.groupBy("doc_id").agg(F.min("chunk_id").alias("m"))
    assert first.where(F.col("m") != 0).count() == 0
    # exact-join residual audit: both endpoints of any residual pair
    # must be canonical docs, and the recall-1.0 pass never finds MORE
    # near-dup mass than existed pre-canonicalization
    residual = stages["residual_pairs"]
    canon_ids = stages["canonical"].select("doc_id")
    for side in ("doc_a", "doc_b"):
        orphans = (residual.select(F.col(side).alias("doc_id"))
                   .join(canon_ids, "doc_id", "anti"))
        assert orphans.count() == 0


def test_pipeline_deterministic(spark, sf_dir):
    a = run_pipeline(spark, sf_dir)["sampled"].select("doc_id")
    b = run_pipeline(spark, sf_dir)["sampled"].select("doc_id")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
