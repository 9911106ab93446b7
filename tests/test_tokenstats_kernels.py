"""SIMHASH_SIG_KERNEL / DECON_GRAM_KERNEL (catalog_ext): the per-doc
Python kernels replacing the exploded-token shuffles in
tx.simhash64_bands and _decon_sides must be bit-identical to the
explode paths. Risk surfaces pinned here: duplicate tokens voting
repeatedly, empty-string tokens voting (split of "" yields [""]),
the vote sign at exactly zero (c > 0 strict), decon's NO-fallback
rule for < 3-token docs (they vanish, unlike MinHash's whole-text
shingle), distinct-set semantics, and null text emitting nothing.
End-to-end query identity on the corpus closes both.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401

from cosmoz_data_pipeline_spark.functions import text as tx
from cosmoz_data_pipeline_spark.plans import REGISTRY, catalog_ext as CE
from cosmoz_data_pipeline_spark.plans.registry import release_persists

EDGE_DOCS = [
    (0, "src0", "the quick brown fox jumps over the lazy dog"),
    (1, "src1", "two tokens"),
    (2, "src1", "single"),
    (3, "src2", ""),
    (4, "src2", " \t "),
    (5, "src0", "a\tb\nc d"),
    (6, "src1", "dup dup dup dup dup"),
    (7, "src1", None),
    (8, "src2", "  leading and trailing spaces  "),
    (9, "src0", "MiXeD Case TEXT lower-cases First"),
    (10, "src1", "x y z x y z x y z"),
]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, source string, text string")


def test_simhash_kernel_matches_explode_path(spark, edge_docs):
    fold = {r["doc_id"]: r for r in tx.simhash64_bands(edge_docs).collect()}
    kern = {r["doc_id"]: r for r in CE._simhash_sigs_kernel(edge_docs).collect()}
    assert set(fold) == set(kern)
    assert 7 not in fold  # null text emits nothing on either path
    for did, fr in fold.items():
        kr = kern[did]
        for k in range(4):
            assert fr[f"s{k}"] == kr[f"s{k}"], (did, k)


def test_decon_kernel_matches_explode_path(spark, edge_docs):
    toked = edge_docs.select(
        "doc_id", "source", tx.tokens(F.col("text")).alias("toks")
    ).select("doc_id", "source", F.posexplode("toks").alias("pos", "tok"))
    from pyspark.sql import Window

    seqw = Window.partitionBy("doc_id").orderBy("pos")
    t1, t2 = F.lead("tok", 1).over(seqw), F.lead("tok", 2).over(seqw)
    g = F.when(t2.isNotNull(), F.concat_ws(" ", "tok", t1, t2))
    h = F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint")
    fold = {
        r["doc_id"]: r
        for r in toked.select("doc_id", "source", h.alias("h"))
        .where(F.col("h").isNotNull())
        .groupBy("doc_id", "source")
        .agg(F.collect_set("h").alias("hs"))
        .collect()
    }
    kern = {r["doc_id"]: r for r in CE._decon_gram_sets_kernel(edge_docs).collect()}
    # < 3-token docs (1, 2, 3, 4) and null text (7) vanish on BOTH paths
    assert set(fold) == set(kern)
    for did in (1, 2, 3, 7):
        assert did not in kern
    for did, fr in fold.items():
        assert fr["source"] == kern[did]["source"]
        assert set(fr["hs"]) == set(kern[did]["hs"]), did


@pytest.fixture()
def kernel_flags():
    s1, s2 = CE.SIMHASH_SIG_KERNEL, CE.DECON_GRAM_KERNEL

    def _set(simhash=None, decon=None):
        if simhash is not None:
            CE.SIMHASH_SIG_KERNEL = simhash
        if decon is not None:
            CE.DECON_GRAM_KERNEL = decon

    yield _set
    CE.SIMHASH_SIG_KERNEL, CE.DECON_GRAM_KERNEL = s1, s2


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


@pytest.mark.parametrize(
    "name,flag", [("x_dedup_simhash_pairs", "simhash"), ("x_decontaminate", "decon")]
)
def test_query_output_identical_with_kernel(spark, sf_dir, kernel_flags, name, flag):
    def run():
        rows = _rows(REGISTRY[name].run(spark, sf_dir))
        release_persists()
        return rows

    kernel_flags(**{flag: False})
    base = run()
    assert base, "corpus must produce rows for this test to bite"
    kernel_flags(**{flag: True})
    assert run() == base
