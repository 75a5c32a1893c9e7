"""Engine-wide physical-plan invariants, enforced over EVERY query in
the registry: the properties that make the suite viable at 100 TB.

- no CartesianProduct anywhere (broadcast NLJ against a tiny side is
  fine; an unconstrained cartesian is always a bug)
- no row-at-a-time Python UDFs (BatchEvalPython); Python only via
  Arrow (mapInPandas / ArrowEvalPython) where explicitly justified
- every parquet scan prunes columns (no scan reads a schema wider
  than 12 columns when the table has more)

The registry is loaded defensively at collection time: a broken
build_registry() must fail test_registry_importable loudly, NOT abort
collection of the whole suite (round 3 lost 258 tests to a NameError
that a single parametrize call propagated).
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

try:
    from rustic_witcher_spark.queries import build_registry

    REGISTRY = build_registry()
    REGISTRY_ERROR: Exception | None = None
except Exception as exc:  # noqa: BLE001 — any registry bug lands here
    REGISTRY = {}
    REGISTRY_ERROR = exc

# queries whose operators legitimately use Arrow-batched Python
ARROW_OK = {
    "embedding_near_dups",
    "multimodal_features",
    "frame_sample",
    # r8: hard_negatives registers the vectorized numpy block kernel
    # (mapInPandas matmul — the measured 2x over the Catalyst-HOF twin)
    "hard_negatives",
    # r8: perceptual-hash decode kernel (mapInPandas bincount)
    "media_near_dups",
    # r8-late: PQ ADC scoring kernel (mapInPandas LUT fancy-indexing —
    # the codes-only scan that makes ANN memory-resident at 100 TB)
    "pq_ann_topk",
    # r8-late: exclusion-aware hard-negative block kernel (mapInPandas
    # matmul; HOF twin pinned output-identical)
    "contrastive_triplets",
    # r9: composed IVF-PQ probe path (same ADC block kernel as
    # pq_ann_topk, plus the coarse probe mask)
    "ivfpq_ann_topk",
    # r9: feature-hash bincount kernel (mapInPandas; replaces FH_DIM
    # interpreted aggregate folds per doc — hashing stays Catalyst-side,
    # HOF twin pinned output-identical)
    "feature_hash_embed",
    # r10: steady-state persisted-index ANN query (same ADC block
    # kernel as pq_ann_topk, over cid-partition-pruned codes)
    "pq_index_query",
    # r10: streaming-appender query face (base ∪ delta through the
    # same ADC block kernel)
    "ann_incremental",
    # r10: batch-vs-index media flags (same perceptual-hash kernel as
    # media_near_dups)
    "media_incremental",
    # r10: ADC block kernel with the residual centroid terms, over the
    # persisted residual index (pq._adc_topk, pq_adc_topk_block's body)
    "pq_residual_query",
    # r10: shortlist stage of the two-stage query is pq_index_query's
    # ADC kernel; the exact re-rank itself is pure Catalyst
    "pq_rerank_query",
}


def test_registry_importable():
    """A broken registry fails HERE, visibly, instead of killing collection."""
    assert REGISTRY_ERROR is None, f"build_registry() raised: {REGISTRY_ERROR!r}"
    assert len(REGISTRY) >= 63, f"registry shrank to {len(REGISTRY)} entries"


@pytest.mark.parametrize("name", sorted(REGISTRY) or ["__registry_broken__"])
def test_plan_invariants(spark, name):
    if REGISTRY_ERROR is not None:
        pytest.fail(f"build_registry() raised: {REGISTRY_ERROR!r}")
    fn, _ = REGISTRY[name]
    plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    if name not in ARROW_OK:
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, (
            f"{name}: unexpected Python stage"
        )
