"""MINHASH_SIG_KERNEL (catalog_ext) swaps the explode → lead-window →
min-aggregate MinHash signature build for a scan-local per-doc Python
kernel. Flipping it must leave both consumers' outputs identical:
x_dedup_minhash_lsh (signatures → banding → est_jaccard) and
x_dedup_ngram_jaccard (signatures + exact shingle-set verify). The
risk surfaces are the tokenize/shingle edge semantics the kernel
re-implements in Python — Spark trim() strips spaces only (not
Python strip()'s full whitespace), Java \\s is ASCII-only (not
Python's Unicode \\s), the <3-token whole-text fallback, empty
strings kept by concat_ws, null text emitting nothing — pinned here
variant-vs-variant on adversarial docs and end-to-end on the corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cosmoz_data_pipeline_spark.plans import REGISTRY, catalog_ext as CE
from cosmoz_data_pipeline_spark.plans.registry import release_persists


@pytest.fixture()
def sig_kernel():
    shipped = CE.MINHASH_SIG_KERNEL

    def _set(on: bool | None):
        CE.MINHASH_SIG_KERNEL = on

    yield _set
    CE.MINHASH_SIG_KERNEL = shipped


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


EDGE_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "two tokens"),
    (2, "single"),
    (3, ""),
    (4, " \t "),               # trim strips spaces only; \t survives
    (5, "a\tb\nc d"),          # internal Java-\s separators
    (6, "dup dup dup dup dup"),  # duplicate shingles collapse in the set
    (7, None),                  # null text -> no signature row
    (8, "  leading and trailing spaces  "),
    (9, "MiXeD Case TEXT lower-cases First"),
    (10, "x y z x y z x y z"),
]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


def _fold_per_doc(docs, with_set):
    sh = CE._shingle_rows(docs)
    aggs = [*CE._minhash_aggs()]
    if with_set:
        aggs.insert(0, F.collect_set("shingle").alias("sh_set"))
    out = (
        sh.select("doc_id", "shingle", CE._shingle_h().alias("h"))
        .groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            *( ["sh_set"] if with_set else [] ),
            F.array(*[f"m{i}" for i in range(CE.MINHASH_K)]).alias("sig"),
        )
    )
    return out


@pytest.mark.parametrize("with_set", [False, True])
def test_kernel_matches_fold_on_edge_docs(spark, edge_docs, with_set):
    fold = _fold_per_doc(edge_docs, with_set).collect()
    kern = CE._minhash_sigs_kernel(edge_docs, with_set=with_set).collect()
    fold_m = {r["doc_id"]: r for r in fold}
    kern_m = {r["doc_id"]: r for r in kern}
    assert set(fold_m) == set(kern_m)  # null text absent from BOTH
    assert 7 not in fold_m
    for did, fr in fold_m.items():
        kr = kern_m[did]
        assert list(fr["sig"]) == list(kr["sig"]), did
        if with_set:
            # collect_set order is nondeterministic; compare as sets
            assert set(fr["sh_set"]) == set(kr["sh_set"]), did


@pytest.mark.parametrize(
    "name", ["x_dedup_minhash_lsh", "x_dedup_ngram_jaccard"]
)
def test_query_output_identical_with_kernel(spark, sf_dir, sig_kernel, name):
    def run():
        rows = _rows(REGISTRY[name].run(spark, sf_dir))
        release_persists()
        return rows

    sig_kernel(False)
    base = run()
    assert base, "corpus must produce rows for this test to bite"
    sig_kernel(True)
    assert run() == base
