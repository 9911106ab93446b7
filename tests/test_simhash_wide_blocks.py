"""Engine-level equivalence of the two corpus-scaled SimHash blocking
schemes (round 8). Both the 6-block/C(6,3) and the 8-block/C(8,5)
Manku schemes are complete for Hamming <= 3 (property-tested bitwise
in test_lsh_properties), so after the exact Hamming verify the pair
set must be IDENTICAL whichever blocking generated the candidates —
this is what lets SIMHASH_WIDE_N switch schemes by corpus size
without touching the (blocking-agnostic 4x16 pigeonhole) oracle.
This test runs both schemes through the real builder on the test
corpus and compares the verified pair sets end-to-end.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from cosmoz_data_pipeline_spark.functions import text as tx
from cosmoz_data_pipeline_spark.plans import release_persists
from cosmoz_data_pipeline_spark.plans.catalog_ext import (
    SIMHASH_WIDE_N,
    _docs_aug,
    _docs_aug_count,
    _simhash_combo_cands,
)
from cosmoz_data_pipeline_spark.plans.registry import scoped_persist


def _verified_pairs(cand, sigs):
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{k}").alias(f"sa{k}") for k in range(4)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{k}").alias(f"sb{k}") for k in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"sa{k}").bitwiseXOR(F.col(f"sb{k}"))) for k in range(4)
    )
    rows = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(hamming <= 3)
        .select("doc_a", "doc_b")
        .collect()
    )
    return {(r.doc_a, r.doc_b) for r in rows}


def test_wide_and_narrow_blockings_verify_to_identical_pairs(spark, sf_dir):
    try:
        sigs = scoped_persist(tx.simhash64_bands(_docs_aug(spark, sf_dir)))
        n = _docs_aug_count(spark, sf_dir)
        assert n < SIMHASH_WIDE_N  # test corpus picks the narrow scheme
        narrow = _verified_pairs(_simhash_combo_cands(sigs, n, wide=False), sigs)
        wide = _verified_pairs(_simhash_combo_cands(sigs, n, wide=True), sigs)
    finally:
        release_persists()
    assert narrow, "no verified pairs on the test corpus — fixture drift?"
    assert narrow == wide, (
        f"blocking schemes verify to different pair sets: "
        f"narrow-only={sorted(narrow - wide)[:5]} wide-only={sorted(wide - narrow)[:5]}"
    )


def test_shj_hint_pair_identity_and_plan(spark, sf_dir):
    """Round 15 (SIMHASH_SHJ_AB): the SHUFFLE_HASH hint on the band
    self-join is physical-strategy only — identical candidate pairs —
    and the auto gate engages it by docs count (below
    SIMHASH_SHJ_MIN_N the planner's broadcast must stay)."""
    from cosmoz_data_pipeline_spark.plans import catalog_ext as CE

    prev = CE.SIMHASH_BAND_SHJ
    try:
        sigs = scoped_persist(tx.simhash64_bands(_docs_aug(spark, sf_dir)))
        n = _docs_aug_count(spark, sf_dir)
        assert n < CE.SIMHASH_SHJ_MIN_N  # test corpus keeps broadcast
        CE.SIMHASH_BAND_SHJ = False
        base = _verified_pairs(_simhash_combo_cands(sigs, n), sigs)
        CE.SIMHASH_BAND_SHJ = True
        hinted_cand = _simhash_combo_cands(sigs, n)
        assert "ShuffledHashJoin" in hinted_cand._sc._jvm.PythonSQLUtils.explainString(
            hinted_cand._jdf.queryExecution(), "formatted"
        )
        hinted = _verified_pairs(hinted_cand, sigs)
    finally:
        CE.SIMHASH_BAND_SHJ = prev
        release_persists()
    assert base and base == hinted
