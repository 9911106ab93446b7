"""LLM-training-data pipeline extension operators (BASELINE.json north
star): deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard),
similarity search (brute-force + LSH-bucketed ANN), text analysis
(language-ID / quality / tokens / fingerprint), multimodal column
plumbing.

Because the shipped corpus contains no duplicates, dedup queries run
on a deterministic *augmented* corpus: originals + exact copies
(doc_id%11==0 → +OFF) + near copies with 2 extra tokens
(doc_id%5==0 → +2·OFF) — built identically in Spark and the oracle.
OFF is the next power of ten above max(doc_id), derived FROM THE DATA
in both engines: a fixed offset (the round-≤4 design used +100000)
silently collides with the originals once the corpus outgrows it —
the x100 scale corpus (500k docs) merged original and copy rows into
corrupted SimHash signatures and destroyed most exact-copy pairs
(ADVICE r4, confirmed empirically: non-monotonic pair counts).
"""

from __future__ import annotations

import time as _time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import similarity as sim
from ..functions import text as tx
from ..operators.bucketed_window import bucketed_auto
from ..sources.tables import load_table
from .registry import REGISTRY, register, release_persists, scoped_persist

MINHASH_K = 12
LSH_BANDS = 4
LSH_ROWS = 3
EMBED_DIM = 64  # embeddings-table vector width (TESTDATA.md)
# Below this frontier size the components fix-point probes convergence
# only every 2nd superstep (see q_dedup_components): the probe's
# driver round-trip outweighs the risk of one extra cheap superstep.
COMPONENTS_PROBE_LAZY_BELOW = 4096
# tool hook (tools/components_stages.py): when a list, the components
# loop appends one dict per superstep — wall seconds split into the
# checkpoint-materialization and probe actions, plus the probed
# changed-count (None on skip-probe rounds). Timing only; labels are
# bit-identical with the hook on or off.
COMPONENTS_TRACE: list | None = None


def _iter_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize + truncate lineage for an iterative-loop superstep.

    Default is ``localCheckpoint`` (blocks on executors — right for
    local/test runs). When ``spark.cosmoz.checkpoint.dir`` is set, use
    a RELIABLE ``checkpoint`` into that directory instead: on a real
    cluster a multi-superstep job must survive executor loss, and
    localCheckpoint blocks die with their executor (GraphFrames'
    connected-components loop checkpoints durably for the same
    reason). The switch is a session conf so the 100 TB deployment is
    a config line, not a code fork.

    ``eager=False`` defers materialization to the first downstream
    action (which still truncates lineage at that point). Right for
    loops with a FIXED iteration count and no driver-side convergence
    probe (the IVF Lloyd loop): eager checkpoints there cost one
    sequential job launch per superstep — pure fixed latency at small
    scale — whereas the fused lazy chain runs as one job. Loops that
    probe convergence per round (connected components) keep the eager
    default; their per-round action forces materialization anyway.

    For cleanup of per-superstep snapshots on long-lived sessions,
    enable ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
    (reliable checkpoint files are otherwise kept until the app dies —
    one snapshot per superstep per query accumulates in the dir)."""
    spark = df.sparkSession
    ckdir = spark.conf.get("spark.cosmoz.checkpoint.dir", "")
    if ckdir:
        sc = spark.sparkContext
        # re-point when unset OR when the conf changed mid-session —
        # getCheckpointDir returns the dir with a per-app UUID suffix,
        # so match on the configured prefix, not equality. The probe
        # reaches through the private _jsc gateway (no public PySpark
        # getter); on a Spark upgrade that removes it, fall back to
        # unconditionally (idempotently) setting the dir.
        try:
            current = sc._jsc.sc().getCheckpointDir()
            needs_set = current.isEmpty() or not current.get().startswith(
                ckdir.rstrip("/")
            )
        except Exception:
            needs_set = True
        if needs_set:
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)

# ---------------------------------------------------------------- corpus

# Copy-id offset = next power of ten above max(doc_id): collision-free
# at ANY corpus scale (10^digits(max) > max, so originals [0,max],
# exact copies [off, off+max] and near copies [2·off, 2·off+max] are
# disjoint). Both engines derive it from the same scan.
_DOCS_AUG_SQL = """
d_off AS (SELECT CAST(power(10, length(CAST(max(doc_id) AS VARCHAR))) AS BIGINT) AS o
          FROM documents),
docs_aug AS (
    SELECT doc_id, text, lang, source FROM documents
    UNION ALL
    SELECT doc_id + (SELECT o FROM d_off), text, lang, source
    FROM documents WHERE doc_id % 11 = 0
    UNION ALL
    SELECT doc_id + 2 * (SELECT o FROM d_off), 'qqstart ' || text || ' qqend', lang, source
    FROM documents WHERE doc_id % 5 = 0
)"""


# Offset memo, keyed by (table, corpus dir): corpus metadata like
# _EMB_AUG_COUNT — one scalar max() per corpus (answered from parquet
# column stats), then free for every later query in the session.
_AUG_OFF: dict[tuple[str, str], int] = {}


def _aug_offset(spark: SparkSession, sf_dir: str, table: str, id_col: str) -> int:
    """Next power of ten above max(id) — the Spark mirror of the
    d_off/e_off oracle CTEs (10^digits(max) in both engines)."""
    key = (table, sf_dir.rstrip("/"))
    off = _AUG_OFF.get(key)
    if off is None:
        max_id = load_table(spark, sf_dir, table).agg(F.max(id_col)).collect()[0][0]
        off = 10 ** len(str(int(max_id)))
        _AUG_OFF[key] = off
    return off

_TOKS_SQL = r"""
tk AS (
    SELECT *, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM docs_aug
)"""

_SHINGLES_SQL = """
sh AS (
    SELECT *, CASE WHEN len(toks) >= 3
        THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                          i -> array_to_string(toks[i:i+2], ' ')))
        ELSE [array_to_string(toks, ' ')] END AS shingles
    FROM tk
)"""


def _docs_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    off = _aug_offset(spark, sf_dir, "documents", "doc_id")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    exact = d.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + off).alias("doc_id"), "text", "lang", "source"
    )
    near = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2 * off).alias("doc_id"),
        F.concat(F.lit("qqstart "), F.col("text"), F.lit(" qqend")).alias("text"),
        "lang",
        "source",
    )
    return d.unionByName(exact).unionByName(near)


# Augmented documents cardinality, memoized per corpus dir — the
# SimHash blocking picks its block scheme from the corpus size (the
# same sizing-needs-only-the-count rationale as _EMB_AUG_COUNT): one
# id-pruned count, not a materialization of the augmented projection.
# The base (unaugmented) count rides the same scan — x_decontaminate
# runs on the RAW documents table, and its kernel auto-gate must not
# pay a second count job.
_DOCS_AUG_COUNT: dict[str, int] = {}
_DOCS_COUNT: dict[str, int] = {}


def clear_counts() -> None:
    """Invalidate every corpus-cardinality memo as one unit (round 12,
    ADVICE r11): the aug/base dicts are filled by the same scan, so
    tools that clear only one of a pair leave the other to serve a
    stale (or, with the recompute keyed on both, merely redundant)
    value. Tools should call this instead of clearing dicts piecemeal."""
    _DOCS_AUG_COUNT.clear()
    _DOCS_COUNT.clear()
    _EMB_AUG_COUNT.clear()
    _EMB_COUNT.clear()


def _docs_aug_count(spark: SparkSession, sf_dir: str) -> int:
    key = sf_dir.rstrip("/")
    # recompute when EITHER memo of the pair is missing (ADVICE r11):
    # a tool that cleared only the base dict must not be answered from
    # the aug memo without the base being refilled
    n = _DOCS_AUG_COUNT.get(key) if key in _DOCS_COUNT else None
    if n is None:
        r = (
            load_table(spark, sf_dir, "documents")
            .select(
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("doc_id") % 11 == 0).alias("n11"),
                F.count_if(F.col("doc_id") % 5 == 0).alias("n5"),
            )
            .collect()[0]
        )
        n = r["n"] + r["n11"] + r["n5"]
        _DOCS_AUG_COUNT[key] = n
        _DOCS_COUNT[key] = r["n"]
    return n


def _docs_count(spark: SparkSession, sf_dir: str) -> int:
    key = sf_dir.rstrip("/")
    if key not in _DOCS_COUNT:
        _docs_aug_count(spark, sf_dir)
    return _DOCS_COUNT[key]


# ---------------------------------------------------------------- dedup

def _shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) word-3-gram rows via the codegen explode+lead
    path (shared by MinHash and Jaccard — one definition so the scale
    sweep's shingle count audits both): posexplode tokens →
    lead()-window 3-grams; <3-token docs emit one whole-text shingle
    at pos 0. The token array is materialized in its own projection
    BEFORE the posexplode — a Generate over a non-attribute child
    re-evaluates the regex split per OUTPUT row (measured 2.3×)."""
    toked = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    seqw = Window.partitionBy("doc_id").orderBy("pos")
    t1, t2 = F.lead("tok", 1).over(seqw), F.lead("tok", 2).over(seqw)
    shingle = (
        F.when(t2.isNotNull(), F.concat_ws(" ", "tok", t1, t2))
        .when(F.col("pos") == 0, F.concat_ws(" ", "tok", t1))
    )
    return toked.select("doc_id", shingle.alias("shingle")).where(
        F.col("shingle").isNotNull()
    )


def _shingle_h() -> F.Column:
    """int64 shingle hash (md5 prefix — identical in both engines).
    Built lazily: classic PySpark cannot construct Columns before a
    SparkContext exists, so this must not run at import time."""
    return F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint")


def _minhash_aggs() -> list:
    """The 12 MinHash aggregate expressions over a column ``h`` of
    shingle hashes (lazy for the same import-time reason)."""
    return [
        F.min(
            (
                F.lit(tx.MINHASH_A0 + tx.MINHASH_A_STEP * i) * F.col("h")
                + F.lit(tx.MINHASH_B0 + tx.MINHASH_B_STEP * i)
            )
            % F.lit(tx.MINHASH_P)
        ).alias(f"m{i}")
        for i in range(MINHASH_K)
    ]


# --- per-doc MinHash signature kernel (round 11) --------------------
# MINHASH_STAGES.json localized ~70 s of x_dedup_minhash_lsh's 84.9 s
# x1000 wall to the signature build: tokenize → posexplode (344 M
# token rows) → doc-keyed lead()-window 3-grams (a 344 M-row shuffle +
# per-doc sort) → md5 → 12 min-aggregates; x_dedup_ngram_jaccard
# re-derives the same shingles for its exact verify. The kernel
# computes (sig[, sh_set]) per document in ONE scan-local mapInPandas
# pass — no explode, no window shuffle, no aggregate: tokenization,
# 3-gram assembly and md5 in Python (C-accelerated hashlib), the 12
# affine mins as one numpy broadcast (a_i*h+b_i fits int64: max a ≈
# 2.09e6 × h < 2^32 ≈ 9.0e15 < 2^63 — the same arithmetic the JVM
# and DuckDB evaluate). Semantics mirrored exactly:
# - tokens: split on JAVA \s ([ \t\n\x0b\f\r]+ — ASCII-only, unlike
#   Python's Unicode-aware \s) of lower(trim(text)); trim strips
#   SPACES only (Spark trim), not Python strip()'s full whitespace
# - n >= 3 tokens → n-2 word-3-grams; fewer → ONE whole-text shingle
#   (the lead-window's pos==0 fallback; concat_ws keeps empty
#   strings); null text → no rows (posexplode of null emits nothing)
# - shingle hash: first 8 md5 hex digits of the UTF-8 bytes, as int
# - sh_set: distinct shingles (collect_set contents; order never
#   reaches an output — set-intersection Jaccard is order-blind)
# Identity pinned variant-vs-variant by tests/test_minhash_kernel.py.
# ADOPTED round 11, unconditionally (MINHASH_KERNEL_AB.json,
# tools/minhash_kernel_ab.py — interleaved, 2 repeats per scale,
# output cell-hash identical every run): the kernel won EVERY
# measured scale on BOTH consumers — x_dedup_minhash_lsh 1.27x at
# sf0.1 (2.55 s -> 2.00 s), 2.03x at x100, 2.14x at x1000 (106.8 s ->
# 49.9 s); x_dedup_ngram_jaccard 1.13x / 1.18x / 1.54x (120.0 s ->
# 77.8 s at x1000). False forces the explode+window fold (A/B hook);
# None = auto (kernel at >= MINHASH_KERNEL_MIN_N augmented docs —
# corpus-count basis kept for a deployment that prefers gating).
MINHASH_SIG_KERNEL: bool | None = True
MINHASH_KERNEL_MIN_N = 100_000

# The minhash and decon kernels hash with hashlib.md5 inside the Arrow
# loop; a JVM-side md5 variant lost (JVMHASH_AB.json).

_JAVA_WS = r"[ \t\n\x0b\f\r]+"


def _minhash_sigs_kernel(docs: DataFrame, with_set: bool = False) -> DataFrame:
    """(doc_id, sig[, sh_set]) via the per-doc kernel — see
    MINHASH_SIG_KERNEL. ``docs`` must expose (doc_id, text)."""
    import numpy as np

    a = np.array(
        [tx.MINHASH_A0 + tx.MINHASH_A_STEP * i for i in range(MINHASH_K)],
        dtype=np.int64,
    )[:, None]
    b = np.array(
        [tx.MINHASH_B0 + tx.MINHASH_B_STEP * i for i in range(MINHASH_K)],
        dtype=np.int64,
    )[:, None]
    p = tx.MINHASH_P
    schema = "doc_id bigint, sig array<bigint>" + (
        ", sh_set array<string>" if with_set else ""
    )

    def gen(batches):
        import hashlib
        import re

        import pandas as pd

        split = re.compile(_JAVA_WS).split
        md5 = hashlib.md5
        for pdf in batches:
            ids, sigs, sets = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = split(text.strip(" ").lower())
                n = len(toks)
                if n >= 3:
                    sh = [
                        toks[i] + " " + toks[i + 1] + " " + toks[i + 2]
                        for i in range(n - 2)
                    ]
                else:
                    sh = [" ".join(toks)]
                ids.append(doc_id)
                hs = np.array(
                    [int(md5(s.encode()).hexdigest()[:8], 16) for s in sh],
                    dtype=np.int64,
                )
                sigs.append(((a * hs[None, :] + b) % p).min(axis=1).tolist())
                if with_set:
                    sets.append(list(dict.fromkeys(sh)))
            if not ids:  # a batch of only-null texts: an empty pandas
                continue  # frame defaults to float64 cols Arrow rejects
            d = {"doc_id": ids, "sig": sigs}
            if with_set:
                d["sh_set"] = sets
            yield pd.DataFrame(d)

    return docs.select("doc_id", "text").mapInPandas(gen, schema)


def _minhash_kernel_on(spark: SparkSession, sf_dir: str) -> bool:
    if MINHASH_SIG_KERNEL is not None:
        return MINHASH_SIG_KERNEL
    return _docs_aug_count(spark, sf_dir) >= MINHASH_KERNEL_MIN_N


# SimHash sibling of MINHASH_SIG_KERNEL: tx.simhash64_bands shuffles
# every exploded token row (344 M at x1000) into a doc-keyed 64-sum
# aggregate; the kernel computes the identical per-doc bit votes and
# band packing in one scan-local pass — engine-exact. Duplicate
# tokens vote repeatedly and empty-string tokens vote too, exactly
# like the explode path; null text emits no row. Identity pinned by
# tests/test_tokenstats_kernels.py.
#
# HISTORY. Round 11 (TOKENSTATS_KERNEL_AB.json): the PER-DOC-LOOP
# kernel won small corpora (1.86x at sf0.1) but LOST x1000 (0.94x) —
# its per-token Python md5 + per-doc numpy allocations couldn't beat
# the explode path's map-side-combined shuffle — so the gate was
# INVERTED (kernel only below SIMHASH_KERNEL_MAX_N = 1M docs).
# Round 13: SIMHASH_PAIRS_STAGES.json showed the signature build is
# ~73 of the query's ~85 s at x1000 (the explode path's real cost is
# not the shuffle but evaluating 64 conditional sums per token row —
# a 2-column micro-agg that let Catalyst prune 62 of them ran 18.7 s
# where the full build ran 73 s), so the kernel was REWRITTEN
# batch-vectorized: md5 once per DISTINCT token per Arrow batch, the
# 64 vote sums as np.bincount segment sums across the batch.
# RE-ADJUDICATED round 13 (SIMHASH_SIGKERNEL_AB.json, interleaved,
# 3 repeats, identical output cell-hashes): kernel 1.96x at sf0.1
# (4.35 -> 2.21 s), 1.04x at x100 (12.07 -> 11.56 s), 1.71x at x1000
# (73.6 -> 43.1 s best; every interleaved pass kernel-faster, worst
# 134 vs 303 s through a slow-I/O window). The gate is now ALWAYS
# KERNEL on auto; the explode path stays reachable (=False) as the
# measured-out variant.
SIMHASH_SIG_KERNEL: bool | None = None

# Decontamination sibling: _decon_sides derives each document's
# DISTINCT word-3-gram hash set through the same explode + lead-window
# shuffle; the kernel builds the set per doc in-row (docs with < 3
# tokens emit NO row — the window path's g is null-gated with no
# whole-text fallback here, unlike MinHash shingles).
# ADOPTED round 11, CORPUS-GATED (None = auto: kernel at >=
# MINHASH_KERNEL_MIN_N raw documents, fold below).
# TOKENSTATS_KERNEL_AB.json (identical output hashes every run):
# kernel 2.76x at x100, 2.93x at x1000 (174.9 s -> 59.7 s) — the
# lead-window shuffle of every token row dies the same way MinHash's
# did. At sf0.1 the evidence CONFLICTS: the tokenstats A/B read a
# small kernel win (2.16 s -> 1.56 s) but the full-round
# BENCH_AB_r11 (3 passes x 2 repeats, bench cold policy) read the
# kernel 1.28x SLOWER (1.27 s -> 1.63 s) — sub-2-second cold numbers
# at the noise floor, so the gate keeps the fold where the win is
# unproven and the kernel where it is decisive.
DECON_GRAM_KERNEL: bool | None = None


def _simhash_sigs_kernel(docs: DataFrame) -> DataFrame:
    """(doc_id, s0..s3) 64-bit SimHash as 4 × 16-bit bands via the
    BATCH-VECTORIZED kernel — bit-identical to tx.simhash64_bands
    (see SIMHASH_SIG_KERNEL; identity pinned by
    tests/test_tokenstats_kernels.py).

    Round 13 rewrite of the r11 per-doc-loop kernel, motivated by
    SIMHASH_PAIRS_STAGES.json (the signature build is ~73 of the
    query's ~85 s at x1000): (a) md5 runs once per DISTINCT token per
    Arrow batch (a dict memo — token instances outnumber the batch
    vocabulary ~10:1 on Zipf-ish text), (b) the 64 per-bit ±1 vote
    sums run as 64 ``np.bincount`` segment sums over the whole batch
    instead of 64-element numpy ops per doc (the per-doc loop was
    allocation-bound at ~50 tokens/doc). Tokenize semantics are
    unchanged and engine-exact: strip(" ").lower(), Java-\\s+ split,
    duplicate and empty-string tokens vote, null text emits no row,
    vote sign strictly c > 0."""
    import numpy as np

    def gen(batches):
        import hashlib
        import re

        import pandas as pd

        split = re.compile(_JAVA_WS).split
        md5 = hashlib.md5
        pack = (np.int64(1) << np.arange(16, dtype=np.int64))
        u1 = np.uint64(1)
        for pdf in batches:
            ids, tok_lists = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                ids.append(doc_id)
                tok_lists.append(split(text.strip(" ").lower()))
            if not ids:
                continue
            n_docs = len(ids)
            lens = np.fromiter((len(t) for t in tok_lists), np.int64, n_docs)
            memo: dict[str, int] = {}
            codes = np.empty(int(lens.sum()), np.int64)
            pos = 0
            for toks in tok_lists:
                for t in toks:
                    c = memo.get(t)
                    if c is None:
                        c = len(memo)
                        memo[t] = c
                    codes[pos] = c
                    pos += 1
            hi = np.empty(len(memo), np.uint64)
            lo = np.empty(len(memo), np.uint64)
            for t, c in memo.items():
                x = md5(t.encode()).hexdigest()
                hi[c] = int(x[:8], 16)
                lo[c] = int(x[8:16], 16)
            # per-instance 64-bit halves; votes: bit j<32 from h_lo,
            # j>=32 from h_hi (the explode path's bit_vote layout)
            ihi = hi[codes]
            ilo = lo[codes]
            dix = np.repeat(np.arange(n_docs), lens)
            s1 = np.empty((n_docs, 64), np.int64)
            for j in range(32):
                uj = np.uint64(j)
                s1[:, j] = np.bincount(
                    dix[((ilo >> uj) & u1).astype(bool)], minlength=n_docs
                )
                s1[:, 32 + j] = np.bincount(
                    dix[((ihi >> uj) & u1).astype(bool)], minlength=n_docs
                )
            # ±1 votes: c_j = 2 * (set-bit count) - n_tokens
            c = 2 * s1 - lens[:, None]
            s = ((c.reshape(n_docs, 4, 16) > 0) * pack).sum(axis=2).astype(
                np.int32
            )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "s0": s[:, 0],
                    "s1": s[:, 1],
                    "s2": s[:, 2],
                    "s3": s[:, 3],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        gen, "doc_id bigint, s0 int, s1 int, s2 int, s3 int"
    )


def _decon_gram_sets_kernel(docs: DataFrame) -> DataFrame:
    """(doc_id, source, hs) distinct word-3-gram hash sets via the
    per-doc kernel — identical contents to _decon_sides' explode +
    window + collect_set path (see DECON_GRAM_KERNEL). Docs with < 3
    tokens emit no row."""

    def gen(batches):
        import hashlib
        import re

        import pandas as pd

        split = re.compile(_JAVA_WS).split
        md5 = hashlib.md5
        for pdf in batches:
            ids, srcs, sets = [], [], []
            for doc_id, source, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                if text is None:
                    continue
                toks = split(text.strip(" ").lower())
                n = len(toks)
                if n < 3:
                    continue
                hs = {
                    int(
                        md5(
                            (toks[i] + " " + toks[i + 1] + " " + toks[i + 2]).encode()
                        ).hexdigest()[:8],
                        16,
                    )
                    for i in range(n - 2)
                }
                ids.append(doc_id)
                srcs.append(source)
                sets.append(list(hs))
            if not ids:
                continue
            yield pd.DataFrame({"doc_id": ids, "source": srcs, "hs": sets})

    return docs.select("doc_id", "source", "text").mapInPandas(
        gen, "doc_id bigint, source string, hs array<bigint>"
    )


def _minhash_band_cands(sigs: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) candidate pairs from the 4×3 LSH
    banding of a (doc_id, sig) table — the one candidate generator
    behind BOTH x_dedup_minhash_lsh and x_dedup_ngram_jaccard (same
    signatures, same banding ⇒ identical candidate sets)."""
    bands = sigs.select(
        "doc_id", tx.lsh_band_keys(F.col("sig"), LSH_BANDS, LSH_ROWS).alias("bk")
    ).select("doc_id", F.explode("bk").alias("band_key"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "x_dedup_exact",
    f"""WITH {_DOCS_AUG_SQL.lstrip()}
SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_id
FROM docs_aug GROUP BY 1 HAVING COUNT(*) > 1""",
    doc="Exact dedup: hash-groupBy over document text, canonical = min id. "
    "Map-side partial agg; at 100 TB this is one shuffle of 16-byte hashes.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs_aug(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical_id"))
        .where(F.col("n_copies") > 1)
    )


@register(
    "x_dedup_minhash_lsh",
    f"""WITH {_DOCS_AUG_SQL.lstrip()}, {_TOKS_SQL.lstrip()}, {_SHINGLES_SQL.lstrip()},
hs AS (
    SELECT doc_id,
           list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS shash
    FROM sh),
sg AS (
    SELECT doc_id, list_transform(generate_series(0, {MINHASH_K - 1}),
        i -> list_min(list_transform(shash,
                 h -> (({tx.MINHASH_A0} + {tx.MINHASH_A_STEP} * i) * h
                       + ({tx.MINHASH_B0} + {tx.MINHASH_B_STEP} * i)) % {tx.MINHASH_P})))
        AS sig
    FROM hs),
bands AS (
    SELECT doc_id, unnest(list_transform(generate_series(0, {LSH_BANDS - 1}),
        b -> md5(CAST(b AS VARCHAR) || '|' ||
                 array_to_string(sig[b*{LSH_ROWS}+1 : b*{LSH_ROWS}+{LSH_ROWS}], '|'))))
        AS band_key
    FROM sg),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b,
       list_sum(list_transform(generate_series(1, {MINHASH_K}),
           i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / {MINHASH_K}e0
           AS est_jaccard
FROM cand c
JOIN sg sa ON sa.doc_id = c.doc_a
JOIN sg sb ON sb.doc_id = c.doc_b""",
    doc="MinHash+LSH near-dedup: shingle → 12-hash MinHash signature → 4×3 "
    "banding → equi-join on band keys → candidate pairs + estimated Jaccard. "
    "The only shuffle is on band keys (tiny); no all-pairs comparison.",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_aug(spark, sf_dir)
    # Signatures fully inside whole-stage codegen: _shingle_rows
    # (posexplode + lead-window 3-grams — an array-lambda transform()
    # runs INTERPRETED, measured ~4 s vs <1 s at sf0.1) → builtin
    # md5/arithmetic → groupBy-min. The lead window partitions by
    # doc_id, which the min-agg groupBy reuses — one shuffle total.
    # MinHash's min is insensitive to duplicate shingles, so the
    # oracle's list_distinct needs no mirror here. persist: the
    # signature table feeds three plan branches (banding + both
    # candidate-join sides).
    if _minhash_kernel_on(spark, sf_dir):
        # scale shape (MINHASH_SIG_KERNEL): per-doc signatures in one
        # scan-local pass — no token explode, no window shuffle
        sigs = scoped_persist(_minhash_sigs_kernel(docs))
    else:
        sh = _shingle_rows(docs)
        mins = (
            sh.select("doc_id", _shingle_h().alias("h"))
            .groupBy("doc_id")
            .agg(*_minhash_aggs())
        )
        sigs = scoped_persist(mins.select(
            "doc_id", F.array(*[f"m{i}" for i in range(MINHASH_K)]).alias("sig")
        ))
    cand = _minhash_band_cands(sigs)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            tx.signature_agreement(F.col("sig_a"), F.col("sig_b"), MINHASH_K).alias(
                "est_jaccard"
            ),
        )
    )


def _simhash64_oracle_ctes() -> str:
    """DuckDB mirror of functions.text.simhash64_bands: unnest tokens,
    64 conditional sums, 4 × 16-bit band columns. Generated (64 sum
    expressions) but pure integer SQL — engine-exact."""
    sums = ",\n           ".join(
        f"sum(CASE WHEN (h_{'lo' if j < 32 else 'hi'} >> {j % 32}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS c{j}"
        for j in range(64)
    )
    bands = ",\n           ".join(
        "CAST("
        + " + ".join(f"CASE WHEN c{16 * k + j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))
        + f" AS INT) AS s{k}"
        for k in range(4)
    )
    return f"""th AS (
    SELECT doc_id,
           ('0x' || substr(md5(t), 1, 8))::BIGINT AS h_hi,
           ('0x' || substr(md5(t), 9, 8))::BIGINT AS h_lo
    FROM (SELECT doc_id, unnest(toks) AS t FROM tk)),
cs AS (
    SELECT doc_id, {sums}
    FROM th GROUP BY doc_id),
sg64 AS (
    SELECT doc_id, {bands}
    FROM cs)"""


# Above this many (augmented) documents, the SimHash blocking widens
# from the 6-block to the 8-block Manku scheme. Why: the narrowest
# 6-block combo keys are 24 bits (three 8-bit blocks), so the random-
# collision term in the candidate count is ~4 * N^2 / 2^25 — invisible
# below ~1M docs, ~20% of all candidates at 5M (measured: SCALE_r08
# stage_counts grew 21.6x over the x100->x1000 decade against 9.4x
# output growth), and DOMINANT ~N^2 by ~1e9. The 8-block scheme's
# narrowest key is 40 bits (5 x 8-bit blocks): its random term stays
# negligible past 1e9 docs, at the price of 56-vs-20 band rows per
# document.
#
# The threshold is the MEASURED cost crossover, not the point where
# collisions first appear. Band rows feed BOTH sides of the
# sort-merge self-join, so widening costs ~(56-20)*2 = 72 extra
# sorted-and-shuffled row-units per doc, while a surviving narrow-key
# collision costs ~1 (join output + distinct + exact verify). At
# N=5e6 the trade was measured both ways on the same corpus
# (SCALE_r08 x1000 decade): narrow = 65.7 s / 14.5M candidates /
# zero spill; wide = 333.0 s / 1.05M candidates / 2x shuffle bytes +
# 39 GB spill — the 36N extra band rows (180M) dwarf the 13.5M saved
# candidates ~27:1. The crossover is where the random term passes the
# extra band-row cost: 4*N^2/2^25 > 72*N, i.e. N > 18*2^25 ~= 2^29.
# Same corpus-scaled-keyspace principle as srp_planes_for (the r5
# 16-bit saturation, one level up); the wide scheme's completeness
# and pair-set parity stay pinned by tests/test_simhash_wide_blocks.py
# regardless of which side of the threshold the corpus falls on.
SIMHASH_WIDE_N = 1 << 29


def _simhash_blocks(wide: bool) -> tuple[list, int]:
    """(blocks, blocks_per_combo) for the Manku multi-block scheme.
    Blocks are (column, bit-width) over the four 16-bit signature
    words, built with plain integer arithmetic (no 64-bit reassembly —
    that would overflow signed bigint for s3 >= 2^15). Hamming <= 3
    corrupts at most 3 blocks, so with b blocks every true pair
    matches exactly on some combo of b-3 blocks: 6 blocks -> C(6,3)=20
    keys of 24-40 bits; 8 blocks -> C(8,5)=56 keys of 40 bits."""
    if not wide:
        return [
            (F.col("s0"), 16),
            (F.col("s1"), 16),
            (F.col("s2").bitwiseAND(F.lit(255)), 8),
            (F.shiftright("s2", 8), 8),
            (F.col("s3").bitwiseAND(F.lit(255)), 8),
            (F.shiftright("s3", 8), 8),
        ], 3
    blocks = []
    for w in ("s0", "s1", "s2", "s3"):
        blocks.append((F.col(w).bitwiseAND(F.lit(255)), 8))
        blocks.append((F.shiftright(w, 8), 8))
    return blocks, 5


def _simhash_band_rows(
    sigs: DataFrame, n_docs: int, wide: bool | None = None
) -> DataFrame:
    """(doc_id, band_idx, band_val) rows from the Manku multi-block
    scheme — one posexplode of the C(b, b-m) combo keys per signature
    row."""
    from itertools import combinations

    if wide is None:
        wide = n_docs >= SIMHASH_WIDE_N
    blocks, m = _simhash_blocks(wide)
    keys = []
    for combo in combinations(range(len(blocks)), m):
        k = None
        for idx in combo:
            col, width = blocks[idx]
            c = col.cast("bigint")
            k = c if k is None else k * F.lit(1 << width) + c
        keys.append(k)
    return sigs.select(
        "doc_id", F.posexplode(F.array(*keys)).alias("band_idx", "band_val")
    )


# Two other shapes for the band self-join lost their A/Bs: grouped
# pair expansion (SIMHASH_PREAGG_AB.json) and a band-carry fused
# verify (SIMHASH_FUSED_AB.json).
#
# Round-15 lever (VERDICT r14 task 6): force a SHUFFLED HASH join
# for the band equi-join instead of the planner's sort-merge
# (guide §3.1 — both sides are the same exchanged band-row set; SHJ
# builds a per-partition hash table on the build side and skips BOTH
# sorts, at the cost of build-side memory per partition; the Manku
# key widths keep per-key groups small, the corpus-sized partition
# count bounds per-partition build volume, and AQE skew-split applies
# to SHJ as to SMJ). A physical-strategy hint only: the pair set is
# identical by construction.
#
# ADOPTED round 15 (SIMHASH_SHJ_AB.json, interleaved, identity pinned
# at 94,645 / 893,092 pairs): SHJ wins every pair at both decades —
# x100 best 11.34→9.65 s (1.18×, 3/3), x1000 best 51.98→41.97 s
# (1.24×, 3/3) in a flagged-HEALTHY io window — with IDENTICAL
# shuffle bytes (4.85 GiB) and zero spill: the win is exactly the two
# retired sorts. CORPUS-GATED because the hint outranks size-based
# broadcast: at the small SFs the planner broadcasts the band table
# (plans/r14/x_dedup_simhash_pairs_joined_shipped.txt — zero band
# exchanges), which a blanket hint would strictly worsen; above
# SIMHASH_SHJ_MIN_N docs the broadcast estimate is long blown and the
# planner's alternative is the SMJ the A/B beat. None = auto
# (n_docs >= SIMHASH_SHJ_MIN_N); True/False force for A/B.
SIMHASH_BAND_SHJ: bool | None = None
SIMHASH_SHJ_MIN_N = 100_000


def _simhash_combo_cands(
    sigs: DataFrame, n_docs: int, wide: bool | None = None
) -> DataFrame:
    """Distinct (doc_a, doc_b) candidates from the Manku WWW'07
    multi-block blocking over a (doc_id, s0..s3) SimHash table, one
    equi-join on (band_idx, band_val). The block scheme is
    CORPUS-SCALED via ``n_docs`` (see SIMHASH_WIDE_N); both schemes
    are complete for Hamming <= 3 and the verify filter is exact, so
    the final pair set is identical whichever is active (pinned by
    tests/test_lsh_properties.py + tests/test_simhash_wide_blocks.py).
    ``wide`` overrides the threshold for tests."""
    bands = _simhash_band_rows(sigs, n_docs, wide)
    a, b = bands.alias("a"), bands.alias("b")
    shj = (
        SIMHASH_BAND_SHJ
        if SIMHASH_BAND_SHJ is not None
        else n_docs >= SIMHASH_SHJ_MIN_N
    )
    if shj:
        # physical strategy only (see SIMHASH_BAND_SHJ): same pairs
        b = b.hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "x_dedup_simhash_pairs",
    f"""WITH {_DOCS_AUG_SQL.lstrip()}, {_TOKS_SQL.lstrip()}, {_simhash64_oracle_ctes()},
bandrows AS (
    SELECT doc_id, 0 AS band_idx, s0 AS band_val FROM sg64
    UNION ALL SELECT doc_id, 1, s1 FROM sg64
    UNION ALL SELECT doc_id, 2, s2 FROM sg64
    UNION ALL SELECT doc_id, 3, s3 FROM sg64),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bandrows a JOIN bandrows b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.s0, sb.s0)) + bit_count(xor(sa.s1, sb.s1))
          + bit_count(xor(sa.s2, sb.s2)) + bit_count(xor(sa.s3, sb.s3))
            AS BIGINT) AS hamming,
       printf('%04x%04x%04x%04x', sa.s3, sa.s2, sa.s1, sa.s0) AS hex_a,
       printf('%04x%04x%04x%04x', sb.s3, sb.s2, sb.s1, sb.s0) AS hex_b
FROM cand c
JOIN sg64 sa ON sa.doc_id = c.doc_a
JOIN sg64 sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.s0, sb.s0)) + bit_count(xor(sa.s1, sb.s1))
    + bit_count(xor(sa.s2, sb.s2)) + bit_count(xor(sa.s3, sb.s3)) <= 3""",
    doc="SimHash signatures + near-dup pairs with MULTI-BLOCK pigeonhole "
    "blocking (subsumes the former x_dedup_simhash — the 64-bit "
    "signature computation is verified through the hex_a/hex_b "
    "columns). Round 6: the r5 blocking keyed candidates on single "
    "16-bit bands, which is complete for Hamming<=3 but saturates at "
    "N >> 2^16 — bucket COUNT is fixed, so in-bucket pairs grow ~N^2 "
    "on ANY corpus once millions of docs share 65k bucket values "
    "(measured: the x1000 sweep's 5M-doc corpus generated ~5G "
    "candidate rows and filled the disk with shuffle spill). Now the "
    "Manku near-duplicate-detection table scheme (Manku, Jain & Das "
    "Sarma, WWW'07): the 64 bits split into 6 blocks "
    "(16,16,8,8,8,8); <=3 bit errors touch <=3 blocks, so every true "
    "pair matches exactly on at least one of the C(6,3)=20 "
    "3-block-combination keys (24-40 bits each — key WIDTH grows the "
    "bucket space to 2^24+, which is what restores ~linear candidate "
    "growth). Round 8: the scheme is CORPUS-SCALED — above "
    "SIMHASH_WIDE_N (2^29) augmented docs the blocking widens to 8 "
    "blocks of 8 bits with C(8,5)=56 five-block keys of 40 bits, "
    "because the 6-block scheme's narrowest 24-bit keys accumulate a "
    "~N^2/2^25-per-combo random-collision term that SCALE_r08's "
    "stage_counts caught bending the candidate curve at 5M docs. The "
    "threshold is the measured cost crossover, not first-collision "
    "onset: at 5M docs both schemes were swept on the same corpus and "
    "the 56-vs-20 band-row replication (both sides of the self-join) "
    "cost 5x more wall time than the 13.5M collision candidates it "
    "saved — see the SIMHASH_WIDE_N derivation. "
    "Both schemes are complete for Hamming<=3 (pigeonhole, property-"
    "tested), so the verified pair set is identical either way. "
    "Candidate generation is still one EQUI-join on (band_idx, "
    "band_val); the exact Hamming verify is unchanged, so the final "
    "pair set is bit-identical to any complete blocking — the DuckDB "
    "oracle keeps the simpler 4x16 pigeonhole rule and must agree.",
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_aug(spark, sf_dir)
    # auto = always the batch-vectorized kernel since round 13
    # (SIMHASH_SIGKERNEL_AB.json: kernel-faster at every scale) —
    # see the SIMHASH_SIG_KERNEL history block
    use_kernel = SIMHASH_SIG_KERNEL is not False
    sigs = scoped_persist(
        _simhash_sigs_kernel(docs) if use_kernel else tx.simhash64_bands(docs)
    )
    cand = _simhash_combo_cands(sigs, _docs_aug_count(spark, sf_dir))
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
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            hamming.cast("long").alias("hamming"),
            F.format_string("%04x%04x%04x%04x", "sa3", "sa2", "sa1", "sa0").alias("hex_a"),
            F.format_string("%04x%04x%04x%04x", "sb3", "sb2", "sb1", "sb0").alias("hex_b"),
        )
        .where(F.col("hamming") <= 3)
    )


# Two pre-verify shapes for the exact-Jaccard join lost their A/Bs: a
# set-size-ratio screen (NGRAM_SCREEN_AB.json) and an audited int64
# hash-set verify (NGRAM_HASH_AB.json).


@register(
    "x_dedup_ngram_jaccard",
    f"""WITH {_DOCS_AUG_SQL.lstrip()}, {_TOKS_SQL.lstrip()}, {_SHINGLES_SQL.lstrip()},
hs AS (
    SELECT doc_id,
           list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS shash
    FROM sh),
sg AS (
    SELECT doc_id, list_transform(generate_series(0, {MINHASH_K - 1}),
        i -> list_min(list_transform(shash,
                 h -> (({tx.MINHASH_A0} + {tx.MINHASH_A_STEP} * i) * h
                       + ({tx.MINHASH_B0} + {tx.MINHASH_B_STEP} * i)) % {tx.MINHASH_P})))
        AS sig
    FROM hs),
bands AS (
    SELECT doc_id, unnest(list_transform(generate_series(0, {LSH_BANDS - 1}),
        b -> md5(CAST(b AS VARCHAR) || '|' ||
                 array_to_string(sig[b*{LSH_ROWS}+1 : b*{LSH_ROWS}+{LSH_ROWS}], '|'))))
        AS band_key
    FROM sg),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b,
       len(list_intersect(a.shingles, b.shingles))
         / CAST(len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS jaccard
FROM cand c
JOIN sh a ON a.doc_id = c.doc_a
JOIN sh b ON b.doc_id = c.doc_b
WHERE len(list_intersect(a.shingles, b.shingles))
        / CAST(len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) >= 6e-1""",
    doc="Exact n-gram Jaccard near-dup pairs, candidate-then-verify "
    "(round-3 rebuild of the quadratic source-blocked join): candidates "
    "come from the proven 4×3 MinHash banding (equi-join on band keys; "
    "miss probability (1-J³)⁴ ≈ 0.5% at J=0.9), then ONLY candidates "
    "get the exact word-3-gram set Jaccard, kept at >= 0.6. One "
    "doc-keyed shuffle computes signature AND shingle set together; no "
    "unblocked self-join anywhere.",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_aug(spark, sf_dir)
    if _minhash_kernel_on(spark, sf_dir):
        # scale shape (MINHASH_SIG_KERNEL): signature AND exact-verify
        # shingle set from one scan-local per-doc pass
        per_doc = _minhash_sigs_kernel(docs, with_set=True)
    else:
        # shingle rows via the shared codegen explode+lead path; ONE
        # groupBy(doc_id) produces both the MinHash signature and the
        # exact-verify shingle set
        sh = _shingle_rows(docs)
        per_doc = (
            sh.select("doc_id", "shingle", _shingle_h().alias("h"))
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("sh_set"), *_minhash_aggs())
            .select(
                "doc_id", "sh_set", F.array(*[f"m{i}" for i in range(MINHASH_K)]).alias("sig")
            )
        )
    per_doc = scoped_persist(per_doc)
    cand = _minhash_band_cands(per_doc)
    sa = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a")
    )
    sb = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b")
    )
    # Deliberately not hinted shuffle_hash: the string-verify build
    # side carries sh_set — variable-size shingle ARRAYS, ~KBs/doc and
    # corpus-dependent — and Spark's shuffled-hash build cannot spill,
    # so a hot partition of fat documents is an executor OOM at scale.
    # Sort-merge spills gracefully (SCALE_r08: 7.9 GiB disk spill at
    # x1000, alpha still 0.94). The same hint was also measured to
    # LOSE on the fixed-width quantized-vector verify join
    # (NEARDUP_SHJ_AB.json), so neither verify path hints.
    jac = tx.jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.6)
    )


# Decontamination eval split: one source plays the held-out benchmark
# suite; every other source is training corpus. In a real pipeline the
# benchmark side is the (tiny) union of eval sets — which is why the
# eval inverted index is broadcast.
DECON_EVAL_SOURCE = "src0"
DECON_FRAC = 5e-2


def _decon_sides(spark: SparkSession, sf_dir: str):
    """(train inverted rows, eval inverted rows) for x_decontaminate —
    split out so the scale sweep can count both sides and the pre-agg
    match rows as stage metrics through the exact query code path."""
    docs = load_table(spark, sf_dir, "documents")
    use_kernel = (
        DECON_GRAM_KERNEL
        if DECON_GRAM_KERNEL is not None
        else _docs_count(spark, sf_dir) >= MINHASH_KERNEL_MIN_N
    )
    if use_kernel:
        # scale shape (DECON_GRAM_KERNEL): distinct 3-gram hash sets
        # per doc in one scan-local pass — no explode, no window
        per_doc = _decon_gram_sets_kernel(docs)
    else:
        toked = docs.select(
            "doc_id", "source", tx.tokens(F.col("text")).alias("toks")
        ).select("doc_id", "source", F.posexplode("toks").alias("pos", "tok"))
        seqw = Window.partitionBy("doc_id").orderBy("pos")
        t1, t2 = F.lead("tok", 1).over(seqw), F.lead("tok", 2).over(seqw)
        g = F.when(t2.isNotNull(), F.concat_ws(" ", "tok", t1, t2))
        h = F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint")
        per_doc = (
            toked.select("doc_id", "source", h.alias("h"))
            .where(F.col("h").isNotNull())
            .groupBy("doc_id", "source")
            .agg(F.collect_set("h").alias("hs"))
        )
    tr = per_doc.where(F.col("source") != DECON_EVAL_SOURCE).select(
        F.col("doc_id").alias("train_doc"),
        F.size("hs").cast("long").alias("n_train_shingles"),
        F.explode("hs").alias("h"),
    )
    ev = per_doc.where(F.col("source") == DECON_EVAL_SOURCE).select(
        F.col("doc_id").alias("eval_doc"), F.explode("hs").alias("h")
    )
    return tr, ev


@register(
    "x_decontaminate",
    f"""WITH d AS (SELECT doc_id, source,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
           FROM documents),
shl AS (SELECT doc_id, source,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' ||
                                            toks[i+2]), 1, 8))::BIGINT)) AS hs
        FROM d),
tr AS (SELECT doc_id AS train_doc, len(hs) AS n_train_shingles, unnest(hs) AS h
       FROM shl WHERE source <> '{DECON_EVAL_SOURCE}'),
ev AS (SELECT doc_id AS eval_doc, unnest(hs) AS h
       FROM shl WHERE source = '{DECON_EVAL_SOURCE}')
SELECT train_doc, eval_doc, n_train_shingles, count(*) AS n_shared,
       round(count(*) / CAST(n_train_shingles AS DOUBLE), 6) AS overlap_frac,
       round(count(*) / CAST(n_train_shingles AS DOUBLE), 6) >= {DECON_FRAC}
           AS contaminated
FROM tr JOIN ev USING (h)
GROUP BY 1, 2, 3""",
    doc="Benchmark decontamination: word-3-gram overlap between every "
    "training document and a held-out eval source, the dedup-adjacent "
    "op every LLM data pipeline runs before training. Shingles hash to "
    "int64 (md5 prefix — identical in both engines, so even hash "
    "collisions agree), per-doc DISTINCT sets ride the same doc-keyed "
    "shuffle that built them, and the eval inverted index (tiny: the "
    "benchmark suite, not the corpus) BROADCASTS against the training "
    "side — the 100 TB plan is one broadcast hash join + partial agg, "
    "no shuffle of the corpus by n-gram. Emits per (train,eval) pair "
    "the shared-shingle count, train-side overlap fraction, and a "
    "contamination flag at {:.0%}.".format(DECON_FRAC),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr, ev = _decon_sides(spark, sf_dir)
    frac = F.round(F.col("n_shared") / F.col("n_train_shingles").cast("double"), 6)
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("train_doc", "eval_doc", "n_train_shingles")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "train_doc",
            "eval_doc",
            "n_train_shingles",
            "n_shared",
            frac.alias("overlap_frac"),
            (frac >= DECON_FRAC).alias("contaminated"),
        )
    )


_SIMHASH_PAIRS_CTES = f"""bandrows AS (
    SELECT doc_id, 0 AS band_idx, s0 AS band_val FROM sg64
    UNION ALL SELECT doc_id, 1, s1 FROM sg64
    UNION ALL SELECT doc_id, 2, s2 FROM sg64
    UNION ALL SELECT doc_id, 3, s3 FROM sg64),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bandrows a JOIN bandrows b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id),
pairs AS MATERIALIZED (
    SELECT c.doc_a, c.doc_b
    FROM cand c
    JOIN sg64 sa ON sa.doc_id = c.doc_a
    JOIN sg64 sb ON sb.doc_id = c.doc_b
    WHERE bit_count(xor(sa.s0, sb.s0)) + bit_count(xor(sa.s1, sb.s1))
        + bit_count(xor(sa.s2, sb.s2)) + bit_count(xor(sa.s3, sb.s3)) <= 3)"""

# Connected-components oracle: RECURSIVE transitive closure instead of
# a fixed unroll. Round 4's sf0.1 sweep proved any fixed bound is a
# trap: the sf0.1 pair graph needs >8 propagation rounds, so an
# 8-round unroll under-converged (component 20 where the true min is
# 17) while the Spark fix-point loop was right — and at the ORIGINAL
# CC_ITERS=3 BOTH sides under-converged in silent agreement. With the
# recursive closure (reach = every node reachable from doc_id; label =
# min(reach)) the oracle terminates at the true fix-point at any
# diameter, exactly like the Spark loop. Closure size is
# sum(cluster_size^2) — fine at oracle SFs, and the oracle never runs
# at corpus scale.
_CC_CLOSURE_CTES = """ed AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs),
reach AS (
    SELECT src AS doc_id, src AS lbl FROM ed
    UNION
    SELECT e.src AS doc_id, r.lbl
    FROM ed e JOIN reach r ON r.doc_id = e.dst),
lab AS (SELECT doc_id, min(lbl) AS lbl FROM reach GROUP BY 1)"""


@register(
    "x_dedup_components",
    f"""WITH RECURSIVE {_DOCS_AUG_SQL.lstrip()}, {_TOKS_SQL.lstrip()}, {_simhash64_oracle_ctes()},
{_SIMHASH_PAIRS_CTES},
{_CC_CLOSURE_CTES}
SELECT doc_id, lbl AS component,
       COUNT(*) OVER (PARTITION BY lbl) AS component_size
FROM lab""",
    doc="Dedup pipeline completion: near-dup PAIRS → CLUSTERS with a "
    "canonical id (min doc_id) per component, via min-label "
    "propagation over the SimHash Hamming<=3 pair graph — each round "
    "is one broadcast/hash equi-join + partial-agg min, the "
    "distributed connected-components shape. The Spark loop runs to "
    "the FIX-POINT (changed-label count from the checkpoint "
    "materialization) and the oracle is a recursive-CTE transitive "
    "closure, so BOTH engines converge exactly at any graph diameter "
    "— no bounded-diameter assumption anywhere (the r3 fixed unroll "
    "under-converged on the sf0.1 graph).",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Iterative-graph loop, the GraphFrames/Pregel shape: each superstep
    # must BOTH materialize (labels_{t+1} reads labels_t twice —
    # neighbor-min + carry — so a lazy loop doubles the plan per
    # iteration; measured 1433 exchanges in the unrolled tree) AND cut
    # lineage.  persist() alone only cuts execution: Catalyst still
    # re-analyzes the full nested logical tree every iteration (~960
    # FileScan nodes by step 3, seconds of pure driver time).
    # localCheckpoint truncates the plan itself; on a cluster this is
    # df.checkpoint() to reliable storage (GraphFrames checkpoints its
    # connected-components loop the same way).
    # raw persist (not scoped_persist) ON PURPOSE: pairs is consumed
    # twice by the very next statement and then dead — releasing it
    # immediately beats holding the blocks until the query-end
    # release_persists(); try/finally so an error inside the
    # checkpoint cannot leak the blocks past the query
    pairs = (
        q_dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b").persist()
    )
    try:
        ed = _iter_checkpoint(  # eager: materializes pairs -> ed now
            pairs.selectExpr("doc_a AS src", "doc_b AS dst")
            .unionByName(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        )
    finally:
        pairs.unpersist()
    labels = _iter_checkpoint(
        ed.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
    )
    # True fix-point loop (round 4: was a fixed 3 rounds): min-label
    # propagation strictly decreases some label every non-converged
    # round and labels are bounded below by the component min, so
    # termination is guaranteed in <= diameter rounds. The checkpoint
    # materialization doubles as the fix-point probe: count labels that
    # strictly improved this round; 0 means converged. The oracle's
    # recursive closure converges at the same fix-point at any
    # diameter — guarded by the union-find property test and the
    # diameter-7 chain fixture in tests/test_components.py.
    #
    # Frontier propagation (Pregel's delta form): only labels that
    # CHANGED last round can improve a neighbor this round — an
    # unchanged neighbor's label was already folded into lbl(v) the
    # round it last changed, and labels are monotone. So the neighbor-
    # min join reads the frontier, not the full label table; at scale
    # the tail rounds of a long-diameter graph touch only the still-
    # moving component fringes instead of re-shuffling every label.
    # Probe cadence (round 6, VERDICT r5 task 7): the convergence
    # probe is its own driver round-trip per superstep. While the
    # frontier is LARGE the probe is worth it (stopping one round
    # early saves a big shuffle); once the last probe reports a small
    # frontier the tail supersteps are cheap (delta-join against a
    # tiny frontier), so probe only every 2nd superstep — at worst one
    # extra cheap superstep runs after the true fix-point (its empty
    # frontier makes it a no-op join), and sequential job launches on
    # deep, long-tailed graphs drop toward half. Labels are untouched
    # by the probe, so results are bit-identical either way (pinned by
    # tests/test_components.py's diameter-7 fixture).
    frontier = labels
    skip_probe = False
    while True:
        t0 = _time.time()
        nbr = (
            ed.join(
                frontier.select(F.col("doc_id").alias("dst"), F.col("lbl").alias("nlbl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nlbl").alias("mn"))
            .withColumnRenamed("src", "doc_id")
        )
        new_labels = _iter_checkpoint(
            labels.join(nbr, "doc_id", "left").select(
                "doc_id",
                F.least(F.col("lbl"), F.coalesce("mn", "lbl")).alias("lbl"),
                (F.coalesce("mn", "lbl") < F.col("lbl")).alias("chg"),
            ),
            # skip-probe rounds (small frontier) checkpoint lazily, so
            # the superstep fuses into the next probed round's job: one
            # job launch and one label-table write saved per skip round
            # (COMPONENTS_TAIL_AB.json). Labels are identical either way.
            eager=not skip_probe,
        )
        t_ckpt = _time.time() - t0
        labels = new_labels.select("doc_id", "lbl")
        frontier = new_labels.where("chg").select("doc_id", "lbl")
        if skip_probe:
            skip_probe = False  # the checkpoint job still ran
            if COMPONENTS_TRACE is not None:
                COMPONENTS_TRACE.append(
                    {"ckpt_sec": round(t_ckpt, 3), "probe_sec": 0.0,
                     "changed": None}
                )
            continue
        t1 = _time.time()
        changed = new_labels.agg(
            F.coalesce(F.sum(F.col("chg").cast("long")), F.lit(0))
        ).first()[0]
        if COMPONENTS_TRACE is not None:
            COMPONENTS_TRACE.append(
                {"ckpt_sec": round(t_ckpt, 3),
                 "probe_sec": round(_time.time() - t1, 3),
                 "changed": changed}
            )
        skip_probe = 0 < changed < COMPONENTS_PROBE_LAZY_BELOW
        if changed == 0:
            break
    return labels.select(
        "doc_id",
        F.col("lbl").alias("component"),
        F.count(F.lit(1)).over(Window.partitionBy("lbl")).alias("component_size"),
    )


# ------------------------------------------------------------ similarity

def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id", "label", v.alias("v"), sim.norm(v).alias("nrm")
    )


@register(
    "x_ann_cosine_topk",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v,
             sqrt(list_aggregate(list_transform(generate_series(1, len(v)),
                                                i -> v[i] * v[i]), 'sum')) AS nrm
      FROM e),
q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
scored AS (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           round(list_aggregate(list_transform(generate_series(1, len(q.v)),
                                               i -> q.v[i] * n.v[i]), 'sum')
                 / (q.nrm * n.nrm), 6) AS cosine
    FROM q JOIN n ON q.vec_id <> n.vec_id)
SELECT query_id, neighbor_id, cosine, rk FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rk
    FROM scored) t
WHERE rk <= 5""",
    doc="Brute-force cosine top-k ANN baseline: broadcast the query set, "
    "score every vector (JVM-side fold, no UDF), rank per query. At scale: "
    "queries broadcast once, corpus scanned once, TakeOrdered per query.",
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors(spark, sf_dir)
    q = F.broadcast(
        vecs.where(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
        )
    )
    scored = (
        vecs.join(q, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                sim.cosine(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.select(
            "query_id", "neighbor_id", "cosine", F.row_number().over(w).cast("long").alias("rk")
        )
        .where(F.col("rk") <= 5)
    )


@register(
    "x_ann_lsh_buckets",
    f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{sim.srp_sql_ctes('e', 1, 8)}
SELECT vec_id, bucket, COUNT(*) OVER (PARTITION BY bucket) AS bucket_size
FROM bk""",
    doc="Sign-random-projection LSH bucketing (the ANN scale path): 8 "
    "md5-derived integer hyperplanes → 256 buckets; search only probes "
    "matching buckets. Projections run on floor(v*1e6)-quantized "
    "integers so the sign is engine-exact in any summation order. "
    "(Round-3 fix: the earlier LCG weights made all planes near-copies "
    "of one hyperplane — buckets collapsed; md5 weights spread them.)",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    b = sim.srp_band_buckets(
        vecs, spark, 1, 8, EMBED_DIM, n=_emb_count(spark, sf_dir)
    ).select("vec_id", "bucket")
    return b.select(
        "vec_id", "bucket", F.count(F.lit(1)).over(Window.partitionBy("bucket")).alias("bucket_size")
    )


# Near-dup corpus: the shipped embeddings are mutually near-orthogonal
# (measured same-label avg cosine 0.002), so — exactly like _docs_aug —
# near-duplicate queries run on an augmented corpus: originals + exact
# copies (vec_id%11==0 → +OFF) + deterministically perturbed copies
# (vec_id%5==0 → +2·OFF, component i += ((vec_id*31+i)%7-3)/100,
# cosine ≈ 0.987 to the original). Built identically in both engines.
# OFF is data-derived exactly like the documents offset (the fixed
# +100000 collided with originals from the x100 scale corpus on —
# 200k vectors — corrupting the published x100 near-dup timings).
_EMB_AUG_SQL = """
e_off AS (SELECT CAST(power(10, length(CAST(max(vec_id) AS VARCHAR))) AS BIGINT) AS o
          FROM e),
emb_aug AS (
    SELECT vec_id, v FROM e
    UNION ALL SELECT vec_id + (SELECT o FROM e_off), v FROM e WHERE vec_id % 11 = 0
    UNION ALL
    SELECT vec_id + 2 * (SELECT o FROM e_off),
           list_transform(generate_series(1, 64),
                          i -> v[i] + ((vec_id * 31 + i) % 7 - 3) * 1e-2)
    FROM e WHERE vec_id % 5 = 0
)"""


# Augmented-corpus cardinality, memoized per corpus dir: sizing the
# banding needs ONLY the row count, so derive it from a vec_id-pruned
# scan (count + two modulo count_ifs) instead of materializing the
# full 3-branch augmented projection — corpus size is index metadata,
# same train-once rationale as _IVF_CENTROIDS. The base (unaugmented)
# count rides the same scan — x_ann_lsh_buckets' SRP-kernel gate
# (round 11) needs it and must never pay a second count job.
_EMB_AUG_COUNT: dict[str, int] = {}
_EMB_COUNT: dict[str, int] = {}


def _emb_aug_count(spark: SparkSession, sf_dir: str) -> int:
    key = sf_dir.rstrip("/")
    # recompute when EITHER memo of the pair is missing — see
    # _docs_aug_count (ADVICE r11)
    n = _EMB_AUG_COUNT.get(key) if key in _EMB_COUNT else None
    if n is None:
        r = (
            load_table(spark, sf_dir, "embeddings")
            .select(
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("vec_id") % 11 == 0).alias("n11"),
                F.count_if(F.col("vec_id") % 5 == 0).alias("n5"),
            )
            .collect()[0]
        )
        n = r["n"] + r["n11"] + r["n5"]
        _EMB_AUG_COUNT[key] = n
        _EMB_COUNT[key] = r["n"]
    return n


def _emb_count(spark: SparkSession, sf_dir: str) -> int:
    key = sf_dir.rstrip("/")
    if key not in _EMB_COUNT:
        _emb_aug_count(spark, sf_dir)
    return _EMB_COUNT[key]


def _emb_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    off = _aug_offset(spark, sf_dir, "embeddings", "vec_id")
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    exact = base.where(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + off).alias("vec_id"), "v"
    )
    # perturb in its own select: listing it beside the +2·off alias
    # would let Spark's lateral-column-alias resolution bind the
    # lambda's vec_id to the ALIASED id (shifting every component by a
    # constant)
    near = (
        base.where(F.col("vec_id") % 5 == 0)
        .select(
            "vec_id",
            F.transform(
                "v",
                lambda x, i: x
                + ((F.col("vec_id") * 31 + (i + 1)) % 7 - 3).cast("double") * F.lit(1e-2),
            ).alias("v"),
        )
        .select((F.col("vec_id") + 2 * off).alias("vec_id"), "v")
    )
    return base.unionByName(exact).unionByName(near)


# 8 bands; planes per band scale with the corpus (srp_planes_for:
# expected bucket occupancy ~8 at any N — at the test SFs this
# resolves to the 8-plane/256-bucket layout, at 100 TB to ~40-bucket-
# occupancy 2^r buckets). Capture of cos≈0.99 near-dups stays ≥0.99
# for r ≤ 16 with 8 bands.
NEARDUP_BANDS = 8

# MEASURED OUT (round 8, NEARDUP_SHJ_AB.json): hinting SHUFFLE_HASH
# on the vector side of the verify joins — the "never sort the 139M-
# row candidate stream" shape that SCALE_r08's 26.6 GiB x1000 disk
# spill suggested — LOST the interleaved A/B at both active decades
# (best-of-2: x100 22.9 s SMJ vs 52.7 s SHJ; x1000 226 s vs 282 s).
# The sort spill is sequential-write/read and overlaps the join,
# while the hash build pays its memory pressure in the probe hot
# loop; and a hint outranks size-based broadcast in JoinSelection, so
# gating it was mandatory complexity. The default planner shape
# (broadcast when the vector table fits, else sort-merge with
# graceful spill) stays.

# Coarse pre-verify screen (ADOPTED round 9 on an interleaved A/B win,
# NEARDUP_PRESCREEN_AB.json / tools/neardup_prescreen_ab.py): before
# the exact int32-vector verify join, candidates join a SLIM
# per-vector row (first-16 quantized components + tail norm + full
# norm) and only pairs whose Cauchy-Schwarz upper bound
# (head_dot + tail_norm_a*tail_norm_b) / (nrm_a*nrm_b) can still
# reach the 0.9 threshold proceed to the full-vector join. The bound
# is EXACT over the quantized integers (head dot exact in int64; the
# tail bound is Cauchy-Schwarz, never an estimate), so the screened
# pair set is a provable superset of the output pair set — a physical
# optimization; the oracle SQL is untouched and pair-set identity is
# pinned by tests/test_neardup_prescreen.py. Why it wins: at x1000,
# 139 M candidates verify down to 618 k pairs (99.6 % discarded)
# while the verify join ships the full 64-int vector per side; the
# slim row is ~3x narrower and the bound eliminates most candidates
# before they touch the wide join. Measured best-of-2, same session,
# variants interleaved, identical 617 874 output rows: x1000 262.5 s
# (off) / 242.9 s (head8) / 191.4 s (head16, 1.37x); x100 20.2 s /
# 20.8 s / 18.9 s. 0 disables, an int forces that head width
# (measurement hooks for re-taking the A/B); head8 kept as a variant
# in the tool only.
#
# CORPUS-GATED round 10 (None = auto: head16 when the corpus has
# >= NEARDUP_PRESCREEN_MIN_N augmented vectors, off below):
# BENCH_AB_r10.json (3 repeats x 3 passes) showed the slim-row join
# costs a consistent ~9 % at sf0.1 (25.8k vectors) where the verify
# join is already sub-second, while NEARDUP_PRESCREEN_AB.json shows
# head16 winning at BOTH x100 (258k vectors, 1.07x) and x1000
# (2.58M, 1.37x). The gate basis is the memoized _emb_aug_count —
# NOT the session shuffle-partition proxy the bucketed windows use:
# the x1000 embeddings corpus alone sizes to ~125 partitions (just
# under the 128 threshold), so a session that loads only embeddings
# would flip the screen OFF at exactly the scale it wins
# (NEARDUP_STAGES.json: full query 255.5 s with the screen
# gate-missed vs ~156 s in the sweep session where earlier domain
# loads had raised the ceiling — session-order-dependent, caught by
# the round-10 stage probe). A row count is deterministic per
# corpus regardless of what else the session loaded.
NEARDUP_PRESCREEN_HEAD: int | None = None
NEARDUP_PRESCREEN_MIN_N = 100_000
# keep every pair the exact verify could keep: round(c,6) >= 0.9 means
# c >= 0.8999995; the bound's own floating error is ~1e-15 relative,
# so a 5e-7 slack is orders of magnitude more than safe
_PRESCREEN_KEEP = 0.899999

# How the screen's per-candidate head dot is evaluated (round 11 —
# with the SRP kernel shipped, the screen join is the query's
# dominant stage: 51.4 s of 82.3 s at x1000, NEARDUP_STAGES.json,
# and sim.idot pays a Cast + Coalesce interpreter node per element
# per candidate over 139 M rows):
#   "fold"     — sim.idot over the int32 heads (the round-9 shape)
#   "raw"      — heads stored bigint + null-coalesced ONCE per vector
#                at slim-build time; per-candidate dot is the pure
#                multiply-add fold (sim.idot_raw)
#   "unrolled" — same bigint heads; per-candidate dot is an explicit
#                h-term codegen expression (sim.idot_unrolled) — the
#                round-5 fold-vs-unrolled trade re-measured at head
#                width (16 terms compiles where 64 did not)
# All three compute the identical integer sum (coalescing elements to
# 0 once ≡ coalescing each product per candidate), so the kept pair
# set is unchanged — pinned by tests/test_neardup_prescreen.py.
# ADOPTED "unrolled" round 11 (SCREEN_DOT_AB.json,
# tools/screen_dot_ab.py — interleaved, output cell-hash identical in
# every run): unrolled won EVERY interleaved pass at both decades —
# x100 10.3 s vs raw 12.1 s vs fold 40.0 s; x1000 over a 3-repeat
# session 164.6/83.9/59.6 s vs raw 240.7/145.6/80.4 s vs fold
# 210.8/247.0/130.3 s. Cross-session absolute drift is large there
# (fold best 80.9 s in one session, 130.3 s in the next), so per-pass
# ORDERING is the decision basis, and it never flipped. The 16-term
# expression stays inside whole-stage codegen at every measured scale
# (the round-5 64-term cliff is 4x away).
NEARDUP_SCREEN_DOT = "unrolled"


def _neardup_prescreen(vecs: DataFrame, cand: DataFrame, h: int) -> DataFrame:
    """Candidate pairs that survive the head/tail-norm upper bound —
    see NEARDUP_PRESCREEN_HEAD / NEARDUP_SCREEN_DOT. ``vecs`` is the
    persisted (vec_id, qv, nrm) table; only the slim projection of it
    is shuffled here."""
    head = F.slice("qv", 1, h)
    if NEARDUP_SCREEN_DOT == "fold":
        qh = head
        self_dot = sim.idot(head, head)
        pair_dot = lambda a, b: sim.idot(a, b)  # noqa: E731
    else:
        # widen + null-coalesce ONCE per vector: the per-candidate dot
        # then needs no per-element Cast/Coalesce nodes. Element-level
        # coalesce ≡ idot's product-level coalesce (0 * x == 0). A
        # vector SHORTER than h is zero-padded to width h here (round
        # 12, ADVICE r11): slicing a ragged qv yields a short array
        # whose missing getItem/zip terms would otherwise propagate
        # NULL through idot_raw/idot_unrolled and silently DROP the
        # pair, where the retired idot fold coalesced each product to
        # 0 and kept it — padding once per vector restores exactly
        # that semantics (0 * x == 0). A whole-NULL qv stays NULL
        # under concat, matching the fold (aggregate over a NULL
        # zip_with is NULL in both shapes).
        qh = F.transform(
            head, lambda x: F.coalesce(x.cast("bigint"), F.lit(0).cast("bigint"))
        )
        qh = F.concat(
            qh,
            F.array_repeat(
                F.lit(0).cast("bigint"),
                F.greatest(F.lit(0), F.lit(h) - F.size(qh)),
            ),
        )
        self_dot = sim.idot_raw(qh, qh)
        if NEARDUP_SCREEN_DOT == "unrolled":
            pair_dot = lambda a, b: sim.idot_unrolled(a, b, h)  # noqa: E731
        else:
            pair_dot = lambda a, b: sim.idot_raw(a, b)  # noqa: E731
    slim = vecs.select(
        "vec_id",
        qh.alias("qh"),
        "nrm",
        F.sqrt(
            F.greatest(
                F.col("nrm") * F.col("nrm") - self_dot.cast("double"),
                F.lit(0.0),
            )
        ).alias("tn"),
    )
    sa = slim.select(
        F.col("vec_id").alias("vec_a"),
        F.col("qh").alias("ha"),
        F.col("nrm").alias("sna"),
        F.col("tn").alias("ta"),
    )
    sb = slim.select(
        F.col("vec_id").alias("vec_b"),
        F.col("qh").alias("hb"),
        F.col("nrm").alias("snb"),
        F.col("tn").alias("tb"),
    )
    ub = (
        pair_dot(F.col("ha"), F.col("hb")).cast("double")
        + F.col("ta") * F.col("tb")
    ) / (F.col("sna") * F.col("snb"))
    return (
        cand.join(sa, "vec_a")
        .join(sb, "vec_b")
        .where(ub >= F.lit(_PRESCREEN_KEEP))
        .select("vec_a", "vec_b")
    )


@register(
    "x_embed_cosine_neardup",
    f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_EMB_AUG_SQL.lstrip()},
{sim.srp_sql_cfg('emb_aug')},
{sim.srp_sql_ctes_dynamic('emb_aug', NEARDUP_BANDS)},
nq AS (SELECT vec_id,
              list_transform(generate_series(1, len(v)),
                             i -> CAST(floor(v[i] * {sim.SRP_QUANT}) AS BIGINT)) AS qv
       FROM emb_aug),
n AS (SELECT vec_id, qv,
             sqrt(CAST(list_aggregate(list_transform(generate_series(1, len(qv)),
                                                     i -> qv[i] * qv[i]), 'sum')
                       AS DOUBLE)) AS nrm
      FROM nq),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bk a JOIN bk b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT c.vec_a, c.vec_b,
       round(CAST(list_aggregate(list_transform(generate_series(1, len(a.qv)),
                                                i -> a.qv[i] * b.qv[i]), 'sum')
                  AS DOUBLE)
             / (a.nrm * b.nrm), 6) AS cosine
FROM cand c JOIN n a ON a.vec_id = c.vec_a JOIN n b ON b.vec_id = c.vec_b
WHERE round(CAST(list_aggregate(list_transform(generate_series(1, len(a.qv)),
                                               i -> a.qv[i] * b.qv[i]), 'sum')
                 AS DOUBLE)
            / (a.nrm * b.nrm), 6) >= 9e-1""",
    doc="Embedding-cosine near-duplicate pairs, candidate-then-verify "
    "(round-3 rebuild of the quadratic label-blocked join): 8-band SRP "
    "banding with CORPUS-SCALED planes per band (srp_planes_for: "
    "2^r buckets sized so expected occupancy stays ~8 at any N — a "
    "fixed plane count would make buckets grow linearly with the "
    "corpus) generates candidates via an equi-join on (band, bucket) — "
    "measured 27× under all-pairs with 146/146 recall of the injected "
    "near-dups at sf0.01 — then ONLY candidates get the exact cosine, "
    "kept at >= 0.9. Round 7 (VERDICT r6 task 1): the verify join "
    "ships the floor(v*1e6)-QUANTIZED int32 vectors (the same grid the "
    "SRP projection already uses — computed once, persisted once) and "
    "the cosine is an exact-integer fold (sim.idot) over them: "
    "identical pair set (quantization error ~1e-6 on a 0.9 threshold "
    "with nothing within 0.08 of it), half the shuffled vector bytes "
    "in the one join that dominated the x1000 decade, and "
    "order-independent arithmetic in both engines. No unblocked "
    "self-join anywhere; candidate shuffles carry (id, band, bucket) "
    "ints.",
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs, cand = _neardup_cands(spark, sf_dir)
    prescreen_head = (
        (16 if _emb_aug_count(spark, sf_dir) >= NEARDUP_PRESCREEN_MIN_N else 0)
        if NEARDUP_PRESCREEN_HEAD is None
        else NEARDUP_PRESCREEN_HEAD
    )
    if prescreen_head:  # forced by the A/B hook, else corpus-gated
        cand = _neardup_prescreen(vecs, cand, prescreen_head)
    # No join-strategy hint here, deliberately: see the MEASURED OUT
    # note above NEARDUP_BANDS — the shuffle-hash verify shape lost
    # the round-8 A/B at x100 and x1000 despite avoiding the sort
    # spill, so the planner's broadcast/SMJ default stands.
    va = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa"), F.col("nrm").alias("na")
    )
    vb = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb"), F.col("nrm").alias("nb")
    )
    cos = F.round(
        sim.idot(F.col("qa"), F.col("qb")).cast("double")
        / (F.col("na") * F.col("nb")),
        6,
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .where(F.col("cosine") >= 0.9)
    )


def _neardup_cands(spark: SparkSession, sf_dir: str):
    """(quantized-vector table, candidate-pair table) for
    x_embed_cosine_neardup — split out so the scale sweep can count
    candidates as a stage metric (VERDICT r6 task 2) through the
    exact code path the query runs."""
    vecs = scoped_persist(_emb_aug(spark, sf_dir).select(
        "vec_id",
        sim.quantize(F.col("v")).alias("qv"),
    ).select("vec_id", "qv", sim.qnorm(F.col("qv")).alias("nrm")))
    # sizing needs only the corpus cardinality — a vec_id-pruned scan
    # (memoized), NOT a count over the full augmented projection; the
    # persist above materializes lazily inside the final job instead
    # of behind a sequential driver wall
    n_aug = _emb_aug_count(spark, sf_dir)
    planes = sim.srp_planes_for(n_aug)
    # persist: both sides of the candidate self-join read the band
    # table — uncached, each side would re-run the per-(vector, band)
    # projection (round 6 replaced the dim-exploded agg with the
    # in-row fold; round 11 swapped the fold for the numpy matmul
    # kernel at >= SRP_KERNEL_MIN_N vectors — the persist still buys
    # computing it once)
    bands = scoped_persist(sim.srp_band_buckets(
        vecs, spark, NEARDUP_BANDS, planes, EMBED_DIM,
        vec_col="qv", quantized=True, n=n_aug,
    ))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    return vecs, cand


# ---------------------------------------------------------- text analysis

_LANG_A = ["the", "a", "join", "row"]
_LANG_B = ["data", "table", "query"]
_LANG_C = ["spark", "stream", "batch"]


@register(
    "x_text_langid_quality",
    f"""
WITH tk AS (SELECT doc_id, lang, text, n_chars,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
            FROM documents)
SELECT doc_id, lang,
       len(list_filter(toks, t -> list_contains({_LANG_A!r}, t))) AS score_a,
       len(list_filter(toks, t -> list_contains({_LANG_B!r}, t))) AS score_b,
       len(list_filter(toks, t -> list_contains({_LANG_C!r}, t))) AS score_c,
       CASE WHEN len(list_filter(toks, t -> list_contains({_LANG_A!r}, t)))
                 >= len(list_filter(toks, t -> list_contains({_LANG_B!r}, t)))
             AND len(list_filter(toks, t -> list_contains({_LANG_A!r}, t)))
                 >= len(list_filter(toks, t -> list_contains({_LANG_C!r}, t))) THEN 'en'
            WHEN len(list_filter(toks, t -> list_contains({_LANG_B!r}, t)))
                 >= len(list_filter(toks, t -> list_contains({_LANG_C!r}, t))) THEN 'es'
            ELSE 'zh' END AS lang_guess,
       len(toks) AS n_tokens,
       len(list_filter(toks, t -> list_contains(['the','a','of','to'], t))) AS stop_hits,
       round(len(list_filter(toks, t -> list_contains(['the','a','of','to'], t)))
             / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
       length(text) - length(regexp_replace(text, '[!?.,;:]', '', 'g')) AS punct_count,
       round(5e-1 * (len(list_filter(toks, t -> list_contains(['the','a','of','to'], t)))
                     / CAST(len(toks) AS DOUBLE))
             + 5e-1 * least(len(toks) / 1e2, 1e0), 6) AS quality_score,
       length(text) AS n_chars_measured,
       length(text) = n_chars AS n_chars_ok,
       round(length(regexp_replace(text, '\\s', '', 'g'))
             / CAST(len(toks) AS DOUBLE), 6) AS avg_token_len,
       len(regexp_extract_all(lower(text), '[a-z]{{1,4}}')) AS bpe_ish_pieces
FROM tk""",
    doc="Language-ID heuristic + document quality scoring + token "
    "counting in one scan-local pass (langid+quality merged in round 3 "
    "for the driver's 50-row budget; the former x_text_tokens columns "
    "folded in too — all share one tokenize): wordlist-hit scores per "
    "candidate language with deterministic argmax; token count, "
    "stopword ratio, punctuation density, composite quality score; "
    "char counts validated against the corpus n_chars, average token "
    "length, BPE-ish ≤4-char piece count via regex — the LangID + "
    "quality-filter + token-accounting stages of a training-data "
    "pipeline, all pure array expressions over one documents scan, no "
    "shuffle.",
)
def q_text_langid_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    sa = tx.token_set_score(toks, _LANG_A)
    sb = tx.token_set_score(toks, _LANG_B)
    sc = tx.token_set_score(toks, _LANG_C)
    guess = (
        F.when((sa >= sb) & (sa >= sc), "en").when(sb >= sc, "es").otherwise("zh")
    )
    stop_hits = tx.token_set_score(toks, ["the", "a", "of", "to"])
    n_tokens = F.size(toks)
    stop_ratio = stop_hits / n_tokens.cast("double")
    punct = F.length("text") - F.length(F.regexp_replace("text", "[!?.,;:]", ""))
    quality = F.round(
        F.lit(0.5) * stop_ratio + F.lit(0.5) * F.least(n_tokens / F.lit(100.0), F.lit(1.0)), 6
    )
    return docs.select(
        "doc_id", "lang",
        sa.cast("long").alias("score_a"),
        sb.cast("long").alias("score_b"),
        sc.cast("long").alias("score_c"),
        guess.alias("lang_guess"),
        n_tokens.cast("long").alias("n_tokens"),
        stop_hits.cast("long").alias("stop_hits"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        punct.cast("long").alias("punct_count"),
        quality.alias("quality_score"),
        F.length("text").cast("long").alias("n_chars_measured"),
        (F.length("text") == F.col("n_chars")).alias("n_chars_ok"),
        F.round(
            F.length(F.regexp_replace("text", r"\s", "")) / n_tokens.cast("double"), 6
        ).alias("avg_token_len"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]{1,4}"), 0))
        .cast("long")
        .alias("bpe_ish_pieces"),
    )


@register(
    "x_text_fingerprint",
    f"""WITH {_DOCS_AUG_SQL.lstrip()}, {_TOKS_SQL.lstrip()},
fp AS (
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
           list_reduce(list_transform(toks,
                                      t -> ('0x' || substr(md5(t), 1, 8))::BIGINT),
                       (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_hash
    FROM tk)
SELECT doc_id, fingerprint,
       COUNT(*) OVER (PARTITION BY fingerprint) AS n_same_fingerprint,
       rolling_hash,
       COUNT(*) OVER (PARTITION BY rolling_hash) AS n_same_hash
FROM fp""",
    doc="Document fingerprinting, both modes in one scan (merged round "
    "3): the order/dup-INSENSITIVE sorted-token-set md5 (catches "
    "reordered/duplicated text) and the order-SENSITIVE Rabin-Karp "
    "rolling hash over per-token 32-bit md5 prefixes (exact copies "
    "collide, reordered text does not), each with its per-value group "
    "size. Integer-exact fold; one narrow scan + two window shuffles.",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_aug(spark, sf_dir)
    fp = docs.select(
        "doc_id",
        tx.fingerprint(F.col("text")).alias("fingerprint"),
        tx.rolling_hash(tx.tokens(F.col("text"))).alias("rolling_hash"),
    )
    return fp.select(
        "doc_id",
        "fingerprint",
        F.count(F.lit(1)).over(Window.partitionBy("fingerprint")).alias("n_same_fingerprint"),
        "rolling_hash",
        F.count(F.lit(1)).over(Window.partitionBy("rolling_hash")).alias("n_same_hash"),
    )


# ------------------------------------------------------------ multimodal



# ------- IVF with a TRAINED coarse quantizer (round-3 rebuild of the
# K=4 fixed-centroid toy). Integer Lloyd k-means: components quantized
# to floor(v*1000), centroid updates floor(mean) — every distance and
# every update is exact int64 arithmetic, so a fixed iteration count +
# deterministic seeding (the K smallest vec_ids) + lowest-j tie-breaks
# make training bit-identical in Spark and the DuckDB oracle. K scales
# with the corpus (⌊√N⌋ — 22 at sf0.01, 44 at sf0.1); search probes
# the nprobe=2 nearest clusters. At 100 TB: training is the standard
# driver-orchestrated loop over (scan + broadcast-join + partial agg)
# rounds — the same job shape MLlib KMeans runs — and the index scan
# is partition-pruned by cluster id.
IVF_ITERS = 3
IVF_NPROBE = 2
IVF_QUANT = 1000
# Two-level (coarse-group) assignment: the K trained centroids are
# grouped under G=⌊√K⌋ representative centroids (the reps are the
# centroids j < G), and each vector computes exact distances only to
# the members of its IVF_GROUP_PROBES nearest rep groups instead of
# all K. This is the faiss coarse-quantizer-assignment pattern and it
# is what keeps the index build sub-N^1.5: flat assignment is N×K =
# N^1.5 distance evaluations at K=⌊√N⌋ (measured α=1.12 at the
# x100→x1000 decade of SCALE r5 before this landed); two-level is
# N×(G + R·K/G) ≈ 3N√K = N^1.25 generated rows, and every stage is
# a broadcast equi-join — no N×K pass anywhere. Assignment is still
# exact *within the probed groups* and fully deterministic (integer
# d2, ties to the lowest id), and the DuckDB oracle mirrors the same
# two-level rule, so both engines stay bit-identical.
IVF_GROUP_PROBES = 2
# Below this K the flat N×K assignment wins: the distance work is
# trivial in absolute terms while two-level's extra broadcast stages
# are pure fixed latency (measured ~8 s vs ~2.5 s cold build at
# sf0.1's K=44 — all overhead, no compute). The same K-threshold is a
# CASE in the oracle's gg CTE, so both engines flip plans at the same
# point and stay bit-identical on either side of it. faiss makes the
# same call: a coarse-assignment structure only pays once K is large.
# The driver gates (sf0.01/sf0.1, K≤44) exercise the flat branch;
# tests/test_ivf_twolevel_parity.py runs a K=80 corpus through the
# full query-vs-oracle compare to pin the two-level branch.
IVF_TWOLEVEL_MIN_K = 64
# k-means trains on a bounded deterministic sample (vec_id % m == 0,
# m = ceil(N / (256·K))) — standard IVF practice (e.g. faiss trains on
# ~256 points per centroid): training cost is O(256·K²·dim·iters)
# however big the corpus, every centroid still sees ~256 points as K
# grows with √N, and only the single final-assignment pass touches
# every vector. At the test SFs 256·K ≥ N, so m = 1 and the sample is
# the whole corpus.
IVF_TRAIN_PER_CENTROID = 256
# Round-10 kernel lever (IVF_TRAIN_STAGES.json localized 127 of the
# 138.5 s x1000 train to the distance folds: add_assign 68.6 s, the
# three Lloyd sample assignments 58.6 s): compute every candidate
# distance as d2(a,b) = a·a - 2·a·b + b·b with the self-dots
# precomputed ONCE per row (qq on the persisted quantized vectors, ww
# on the K-row centroid table, rr inside the broadcast reps array)
# instead of a zip_with+aggregate fold per PAIR. The per-pair work
# drops from two array passes (zip_with materializes a 64-element
# intermediate, then the sum folds it) to one idot fold; every value
# is the same exact int64 (|q|<=~4.3e5, 64 dims: each term < 2^39,
# sums < 2^45 — no overflow anywhere near int64), so Lloyd
# trajectories, assignments, probes and the DuckDB oracle are
# bit-identical by arithmetic identity, not by re-verification.
# The dot itself is the lean null-PROPAGATING idot_raw — the
# cast+coalesce idot measured SLOWER than the pairwise fold on the
# isolated kernel (tools/ivf_fold_micro.py on 100M 64-dim evals:
# l2sq fold 37.4 s, expand+idot 39.0 s, expand+idot_raw 32.6 s; a
# single-HOF get()-indexed l2sq lost outright at 58.9 s). ADOPTED
# round 10 on the interleaved A/B (IVF_KERNEL_AB.json, 2 repeats,
# cold train+add, cross-variant centroid cell-hash identical every
# run): x1000 best 157.4 s -> 134.9 s (1.167x), x100 25.9 s ->
# 21.8 s (1.185x); won every interleaved repeat at both decades.
# Identity pinned on both assignment branches by
# tests/test_ivf_d2_expand.py.
IVF_D2_EXPAND: bool = True

# Round-10 assignment-kernel lever: even after IVF_D2_EXPAND the
# train+add assignments are fold-BOUND — ~2M vectors x ~113 exact
# int64 distance folds each at x1000, every fold an interpreted HOF
# reduction (tools/ivf_fold_micro.py: ~0.33 us/element is the
# per-element interpreter floor; whole-stage codegen does not reach
# inside aggregate()). The kernel variant computes the IDENTICAL
# two-level assignment in one Arrow-batched mapInPandas pass:
# D2 = qq[:,None] + ww[None,:] - 2 * Q @ W.T as float64 matmuls.
# EXACT, not approximate: quantized components are bounded
# (|q| <= ~4.3e5 on this corpus; the kernel RAISES past 2^22), so
# every product (<2^44), partial sum (<2^50) and d2 (<2^52) is an
# integer float64 represents exactly — summation order is
# irrelevant when every intermediate is exact, so BLAS blocking
# cannot perturb a single bit. Tie-breaks replicate the HOF path by
# construction: np.argsort(kind='stable') on d2 == array_sort on
# struct(d2, gid) (equal d2 keeps gid order); np.argmin's
# first-occurrence == min(struct(d2, j)) (lowest j on ties); rep
# centroids pin into their own group exactly as _ivf_candidates
# does. The K-row centroid table is collect()ed to build the
# broadcast weight matrix — the ONE exception to the
# centroids-never-leave-the-executors rule, justified because K=⌊√N⌋
# rows are index METADATA (16 MB at N=10^9, the same table
# write_ivf_index materializes), collected once per assignment pass,
# not per row; the round-4 rule targeted per-iteration driver DICT
# round-trips in the Lloyd loop, not an O(√N) broadcast feed.
# ADOPTED round 10, unconditionally (IVF_ASSIGN_AB.json,
# tools/ivf_assign_ab.py — interleaved, 2 repeats per scale,
# centroid cell-hash identical across variants every run): the
# kernel won EVERY measured scale — sf0.01 1.08x, sf0.1 1.37x, x100
# 2.17x, x1000 3.23x (cold train+add 107.0 s -> 33.1 s). The
# anticipated small-corpus penalty (a collect per Lloyd superstep
# un-fuses the lazily-chained train job) did not materialize even at
# sf0.01, so no corpus gate. False re-takes the measurement; None =
# the shared frame-input-bytes gate (bucketed_window.bucketed_auto,
# >= 512 MiB of the measured frame's own inputs — here the
# embeddings-derived qv frame, NOT total corpus bytes loaded), kept
# as a measurement hook.
IVF_ASSIGN_NUMPY: bool | None = True

# float64 stays exact while every |q| <= 2^22 (products < 2^44,
# 64-term sums < 2^50, d2 < 2^52 < 2^53); the kernel raises past it
IVF_KERNEL_MAX_ABS = 1 << 22


def _ivf_assign_numpy_on(df: DataFrame) -> bool:
    return bucketed_auto(df) if IVF_ASSIGN_NUMPY is None else IVF_ASSIGN_NUMPY


def _d2_pair(qa: Column, wa: Column, qq: Column, ww: Column) -> Column:
    """Exact int64 squared L2 via the expanded form (see
    IVF_D2_EXPAND); falls back to the pairwise fold when the lever is
    off so the A/B tool can force either shape."""
    if IVF_D2_EXPAND:
        return qq - 2 * sim.idot_raw(qa, wa) + ww
    return sim.l2sq(qa, wa)


def _ivf_twolevel_sql(s: str, cent: str, vecs: str) -> list[str]:
    """CTE block for one two-level candidate-distance pass (mirrors
    _ivf_candidates): reps are the centroids j < G (G=⌊√K⌋); each
    centroid joins its nearest rep (cgrp{s} — rep centroids j < G are
    CASE-pinned into their own group j, mirroring _ivf_candidates'
    non-empty-group guarantee), each vector ranks the reps (vtop{s})
    and exact distances dist{s} are computed only against members of
    the vector's IVF_GROUP_PROBES nearest groups.
    With G=1 (tiny K) every centroid lands in group 0 and the
    candidate set degenerates to all of {cent} — identical to flat
    assignment, matching the Spark side's g<=1 fallback."""
    return [
        f"""reps{s} AS (SELECT c.j AS gid, c.i, c.w FROM {cent} c, gg WHERE c.j < gg.g)""",
        f"""cgd{s} AS MATERIALIZED (
    SELECT c.j, r.gid, sum((c.w - r.w) * (c.w - r.w)) AS d2
    FROM {cent} c JOIN reps{s} r ON c.i = r.i GROUP BY 1, 2)""",
        f"""cgrp{s} AS MATERIALIZED (
    SELECT d.j,
           CASE WHEN d.j < gg.g THEN d.j ELSE min(d.gid) END AS gid
    FROM cgd{s} d
    JOIN (SELECT j, min(d2) AS md FROM cgd{s} GROUP BY 1) m
      ON d.j = m.j AND d.d2 = m.md
    CROSS JOIN gg GROUP BY d.j, gg.g)""",
        f"""vgd{s} AS MATERIALIZED (
    SELECT v.vec_id, r.gid, sum((v.q - r.w) * (v.q - r.w)) AS d2
    FROM {vecs} v JOIN reps{s} r ON v.i = r.i GROUP BY 1, 2)""",
        f"""vtop{s} AS (
    SELECT vec_id, gid FROM (
        SELECT vec_id, gid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, gid) AS rk
        FROM vgd{s}) t WHERE rk <= {IVF_GROUP_PROBES})""",
        f"""dist{s} AS MATERIALIZED (
    SELECT v.vec_id, c.j, sum((v.q - c.w) * (v.q - c.w)) AS d2
    FROM {vecs} v JOIN {cent} c ON v.i = c.i
    JOIN cgrp{s} ON cgrp{s}.j = c.j
    JOIN vtop{s} ON vtop{s}.vec_id = v.vec_id AND vtop{s}.gid = cgrp{s}.gid
    GROUP BY 1, 2)""",
    ]


def _ivf_sql_ctes() -> str:
    """Unrolled training iterations as DuckDB CTE text. Mirrors
    _ivf_train exactly: seeds cent0, then IVF_ITERS rounds of
    two-level assign→update (empty clusters keep their old centroid),
    final two-level distances distF feed both the assignment and the
    nprobe ranking."""
    parts = [
        f"""ex AS (
    SELECT vec_id, i, CAST(floor(CAST(embedding[i] AS DOUBLE) * {IVF_QUANT}) AS BIGINT) AS q
    FROM embeddings, generate_series(1, 64) s(i))""",
        """kk AS (SELECT CAST(floor(sqrt(COUNT(*))) AS BIGINT) AS k FROM embeddings)""",
        f"""gg AS (SELECT CAST(CASE WHEN k < {IVF_TWOLEVEL_MIN_K} THEN 1
        ELSE floor(sqrt(k)) END AS BIGINT) AS g FROM kk)""",
        f"""mm AS (SELECT (COUNT(*) + {IVF_TRAIN_PER_CENTROID} * kk.k - 1)
        // ({IVF_TRAIN_PER_CENTROID} * kk.k) AS m
    FROM embeddings, kk GROUP BY kk.k)""",
        """exs AS (SELECT ex.* FROM ex, mm WHERE ex.vec_id % mm.m = 0)""",
        """seed AS (
    SELECT rn - 1 AS j, vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
        FROM embeddings, mm WHERE vec_id % mm.m = 0) t, kk WHERE rn <= kk.k)""",
        """cent0 AS (
    SELECT s.j, e.i, e.q AS w FROM seed s JOIN ex e ON e.vec_id = s.vec_id)""",
    ]
    # dist{t}/cent{t+1} each reference cent{t}/dist{t} more than once;
    # MATERIALIZED stops DuckDB re-expanding the training chain 2^t
    # times (the oracle-side analogue of the Spark loop's
    # localCheckpoint).
    for t in range(IVF_ITERS):
        parts += _ivf_twolevel_sql(str(t), f"cent{t}", "exs")
        parts += [
            f"""mind{t} AS (SELECT vec_id, min(d2) AS md FROM dist{t} GROUP BY 1)""",
            f"""asg{t} AS (
    SELECT d.vec_id, min(d.j) AS cluster FROM dist{t} d
    JOIN mind{t} m ON d.vec_id = m.vec_id AND d.d2 = m.md GROUP BY 1)""",
            f"""upd{t} AS (
    SELECT a.cluster AS j, e.i,
           CAST(floor(sum(e.q) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS w
    FROM asg{t} a JOIN exs e ON e.vec_id = a.vec_id GROUP BY 1, 2)""",
            f"""cent{t + 1} AS MATERIALIZED (
    SELECT c.j, c.i, coalesce(u.w, c.w) AS w FROM cent{t} c
    LEFT JOIN upd{t} u ON u.j = c.j AND u.i = c.i)""",
        ]
    T = IVF_ITERS
    parts += _ivf_twolevel_sql("F", f"cent{T}", "ex")
    parts += [
        """mindF AS (SELECT vec_id, min(d2) AS md FROM distF GROUP BY 1)""",
        """asgF AS (
    SELECT d.vec_id, min(d.j) AS cluster FROM distF d
    JOIN mindF m ON d.vec_id = m.vec_id AND d.d2 = m.md GROUP BY 1)""",
        f"""probes AS (
    SELECT vec_id AS query_id, j AS cluster FROM (
        SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rk
        FROM distF WHERE vec_id % 100 = 0) t
    WHERE rk <= {IVF_NPROBE})""",
    ]
    return ",\n".join(parts)


def _ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qa: array<bigint>): the quantized vector as ONE array
    column. Round 5 rewrite — this was a posexplode into N×64
    (vec_id, i, q) rows, which forced every distance computation
    through a dimension-keyed join (N×K×64 join rows) and an
    N×K-group partial-agg shuffle: O(N^1.5) shuffle bytes at K=⌊√N⌋,
    the plan that would have drowned a 100 TB corpus. Keeping the 64
    dims in-row lets the distance be a single unrolled codegen
    expression and the assignment shuffle carry N rows, not N×K."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    qa = F.array(
        *[F.floor(v.getItem(i) * IVF_QUANT).cast("bigint") for i in range(EMBED_DIM)]
    )
    out = e.select("vec_id", qa.alias("qa"))
    if IVF_D2_EXPAND:
        # self-dot once per row at persist time: one fold per vector
        # buys one fewer array pass per CANDIDATE (≈100 per vector)
        out = out.withColumn("qq", sim.idot_raw(F.col("qa"), F.col("qa")))
    return out


def _ivf_distances(qv: DataFrame, cent_df: DataFrame) -> DataFrame:
    """(vec_id, j, d2): exact integer squared distance to EVERY
    centroid — the flat path, kept only as _ivf_candidates' G<=1
    fallback (tiny K, where two-level degenerates to flat anyway).
    crossJoin against the BROADCAST K-row centroid table (K=⌊√N⌋ ≈
    31.6k rows × 64 int64 at N=10⁹ — a few MB) and evaluate the
    fold-kernel distance (sim.l2sq). The N×K
    output rows are *generated*, never shuffled: the argmin that
    always follows folds them map-side (each stream row's K centroid
    partners are produced consecutively in the same task)."""
    if IVF_D2_EXPAND:
        cent_df = cent_df.withColumn("ww", sim.idot_raw(F.col("wa"), F.col("wa")))
        return qv.crossJoin(F.broadcast(cent_df)).select(
            "vec_id",
            "j",
            _d2_pair(F.col("qa"), F.col("wa"), F.col("qq"), F.col("ww")).alias("d2"),
        )
    return qv.crossJoin(F.broadcast(cent_df)).select(
        "vec_id",
        "j",
        sim.l2sq(F.col("qa"), F.col("wa")).alias("d2"),
    )


def _argmin_cluster(dist: DataFrame) -> DataFrame:
    # exact integer distances; ties break to the lowest cluster id
    return (
        dist.groupBy("vec_id")
        .agg(F.min(F.struct(F.col("d2").alias("d"), F.col("j").alias("j"))).alias("m"))
        .select("vec_id", F.col("m.j").alias("cluster"))
    )


def _ivf_reps_row(cent_df: DataFrame, g: int) -> DataFrame:
    """ONE row holding all G rep centroids (the centroids j < G —
    already-trained, spatially spread points, the zero-extra-training
    choice of coarse quantizer) as an array<struct<gid, ra>>. G = ⌊√K⌋
    = N^(1/4) — ~178 entries at N=10⁹ — so the row broadcasts in KBs
    and nearest-group selection becomes a per-row expression on
    whichever side crossJoins it: no shuffle, no window, no extra
    stage beyond the one broadcast."""
    rep_struct = (
        F.struct(
            F.col("j").alias("gid"),
            F.col("wa").alias("ra"),
            sim.idot_raw(F.col("wa"), F.col("wa")).alias("rr"),
        )
        if IVF_D2_EXPAND
        else F.struct(F.col("j").alias("gid"), F.col("wa").alias("ra"))
    )
    return cent_df.where(F.col("j") < g).agg(
        F.collect_list(rep_struct).alias("reps")
    )


def _top_gids(vec: Column, r: int, self_dot: Column | None = None) -> Column:
    """Expression: the r nearest rep gids for ``vec`` against the
    in-row ``reps`` array (fold distance + array_sort on (d2, gid)
    structs, ascending = deterministic ties to the lowest gid).
    ``self_dot`` (IVF_D2_EXPAND) is the row's precomputed vec·vec; the
    rep's is carried in the struct, so each rep distance is one idot
    fold instead of a zip+fold pair."""
    if IVF_D2_EXPAND and self_dot is not None:
        dist = lambda rep: _d2_pair(vec, rep["ra"], self_dot, rep["rr"])  # noqa: E731
    else:
        dist = lambda rep: sim.l2sq(vec, rep["ra"])  # noqa: E731
    return F.slice(
        F.array_sort(
            F.transform(
                F.col("reps"),
                lambda rep: F.struct(
                    dist(rep).alias("d2"),
                    rep["gid"].alias("gid"),
                ),
            )
        ),
        1,
        r,
    ).getField("gid")


def _ivf_candidates(qv: DataFrame, cent_df: DataFrame, k: int) -> DataFrame:
    """(vec_id, j, d2): exact distances over the two-level candidate
    set — members of each vector's IVF_GROUP_PROBES nearest rep groups
    only. Both sides derive their group membership from the same
    broadcast single-row reps array as a per-row expression (centroids
    take their top-1 group, vectors their top-R), so the only
    non-broadcast operation is the final gid equi-join: exactly
    N·R·(K/G) candidate rows are *generated* (vs the flat N×K
    crossJoin) and the argmin that follows still folds them map-side.
    Falls back to the flat path when G<=1 (tiny K), where the SQL
    mirror degenerates to the same all-centroids candidate set.

    A rep centroid (j < G) is pinned into its OWN group j
    unconditionally rather than ranked like the others: on a
    duplicate-heavy corpus two reps can share identical quantized
    coordinates, and the min-gid tie-break would then empty group j —
    a vector whose IVF_GROUP_PROBES nearest groups were all empty got
    ZERO candidate rows and silently vanished from the index (round-5
    advisor finding). Pinning makes every group non-empty by
    construction, so every vector always draws >= R candidates; in
    the no-tie case rep j's nearest rep is itself (d2 = 0, strictly
    minimal), so results are unchanged. The oracle's cgrp CTE applies
    the identical CASE, keeping the engines bit-identical."""
    from math import isqrt

    g = isqrt(k) if k >= IVF_TWOLEVEL_MIN_K else 1
    if g <= 1:
        return _ivf_distances(qv, cent_df)
    reps_row = F.broadcast(_ivf_reps_row(cent_df, g))
    if IVF_D2_EXPAND:
        cent_ww = cent_df.withColumn("ww", sim.idot_raw(F.col("wa"), F.col("wa")))
        cg = F.broadcast(
            cent_ww.crossJoin(reps_row).select(
                "j",
                "wa",
                "ww",
                F.when(F.col("j") < g, F.col("j"))
                .otherwise(
                    F.element_at(_top_gids(F.col("wa"), 1, F.col("ww")), 1)
                )
                .alias("gid"),
            )
        )
        probe = qv.crossJoin(reps_row).select(
            "vec_id",
            "qa",
            "qq",
            F.explode(
                _top_gids(F.col("qa"), IVF_GROUP_PROBES, F.col("qq"))
            ).alias("gid"),
        )
        return probe.join(cg, "gid").select(
            "vec_id",
            "j",
            _d2_pair(F.col("qa"), F.col("wa"), F.col("qq"), F.col("ww")).alias("d2"),
        )
    cg = F.broadcast(
        cent_df.crossJoin(reps_row).select(
            "j",
            "wa",
            F.when(F.col("j") < g, F.col("j"))
            .otherwise(F.element_at(_top_gids(F.col("wa"), 1), 1))
            .alias("gid"),
        )
    )
    probe = qv.crossJoin(reps_row).select(
        "vec_id", "qa", F.explode(_top_gids(F.col("qa"), IVF_GROUP_PROBES)).alias("gid")
    )
    return probe.join(cg, "gid").select(
        "vec_id",
        "j",
        sim.l2sq(F.col("qa"), F.col("wa")).alias("d2"),
    )


def _ivf_assign_kernel(
    qv: DataFrame, cent_df: DataFrame, k: int, bc_sink: list | None = None
) -> DataFrame:
    """(vec_id, cluster): the SAME two-level nearest-centroid
    assignment ``_argmin_cluster(_ivf_candidates(...))`` produces,
    computed by the Arrow/numpy kernel (see IVF_ASSIGN_NUMPY — exact
    float64 integer arithmetic, tie-breaks replicated, K-row
    centroid collect justified there). One mapInPandas pass over the
    vectors; the centroid matrix and the per-centroid group ids ride
    a Spark broadcast. The B x K distance block is chunked to ~64 MiB
    so a 10k-row Arrow batch against K=31.6k centroids (N=10^9)
    stays inside executor memory."""
    import numpy as np

    from math import isqrt

    g = isqrt(k) if k >= IVF_TWOLEVEL_MIN_K else 1
    r = IVF_GROUP_PROBES
    rows = cent_df.select("j", "wa").collect()
    w = np.zeros((k, EMBED_DIM), dtype=np.int64)
    for row in rows:
        w[row["j"]] = row["wa"]
    if int(np.abs(w).max(initial=0)) > IVF_KERNEL_MAX_ABS:
        raise RuntimeError(
            "IVF kernel exactness guard: |centroid component| exceeds "
            f"{IVF_KERNEL_MAX_ABS}; float64 matmul would round"
        )
    wf = w.astype(np.float64)
    ww = (wf * wf).sum(axis=1)
    if g > 1:
        # per-centroid group: nearest rep by (d2, gid) — np.argmin's
        # first-occurrence = lowest gid on ties — with reps (j < g)
        # pinned into their own group, exactly as _ivf_candidates
        dc = ww[:, None] + ww[None, :g] - 2.0 * (wf @ wf[:g].T)
        gid = dc.argmin(axis=1)
        gid[:g] = np.arange(g)
    else:
        gid = np.zeros(k, dtype=np.int64)
    bc = qv.sparkSession.sparkContext.broadcast((w, gid.astype(np.int64)))
    # each assignment pass broadcasts a fresh K-row weight matrix
    # (~16 MB at K≈31.6k), IVF_ITERS+1 per cold train — without
    # cleanup a long-lived multi-corpus session accumulates them
    # (ADVICE r10). The caller collects them here and destroys the lot
    # once the train's EAGER checkpoints have materialized (lineage
    # truncated — nothing can re-reference the broadcast after that).
    if bc_sink is not None:
        bc_sink.append(bc)
    vid_type = qv.schema["vec_id"].dataType.simpleString()

    def assign(batches):
        import pandas as pd

        w, gid = bc.value
        wf = w.astype(np.float64)
        ww = (wf * wf).sum(axis=1)
        kk = wf.shape[0]
        # chunk so the B x K float64 block stays ~64 MiB
        blk = max(1, (64 << 20) // (kk * 8))
        for pdf in batches:
            q = np.stack(pdf["qa"].to_numpy()).astype(np.float64)
            if np.abs(q).max(initial=0) > IVF_KERNEL_MAX_ABS:
                raise RuntimeError(
                    "IVF kernel exactness guard: |vector component| "
                    f"exceeds {IVF_KERNEL_MAX_ABS}; float64 would round"
                )
            out = np.empty(len(q), dtype=np.int32)
            for s in range(0, len(q), blk):
                qb = q[s : s + blk]
                qq = (qb * qb).sum(axis=1)
                d2 = qq[:, None] + ww[None, :] - 2.0 * (qb @ wf.T)
                if g > 1:
                    # top-R rep groups by (d2, gid): stable argsort on
                    # d2 keeps gid order on ties == array_sort on
                    # struct(d2, gid); then mask non-candidate
                    # clusters and take argmin (first min = lowest j)
                    topr = np.argsort(
                        d2[:, :g], axis=1, kind="stable"
                    )[:, :r]
                    allowed = (gid[None, :, None] == topr[:, None, :]).any(
                        axis=2
                    )
                    d2 = np.where(allowed, d2, np.inf)
                out[s : s + blk] = d2.argmin(axis=1).astype(np.int32)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cluster": out})

    return qv.select("vec_id", "qa").mapInPandas(
        assign, f"vec_id {vid_type}, cluster int"
    )


# Trained-centroid memo, keyed by (applicationId, corpus dir). An IVF
# index is built once and amortized over every subsequent search (the
# faiss train/add/search split); re-deriving the coarse quantizer per
# query would be like rebuilding a B-tree per lookup. Training is fully
# deterministic (seeded init, fixed iterations, integer arithmetic),
# so the memo changes cost, never results — the oracle unrolls the
# identical iterations and still matches on a cold OR warm call. The
# memoized value is a checkpointed (j, warr) DataFrame — K rows living
# in executor blocks (or reliable storage when
# spark.cosmoz.checkpoint.dir is set — on a real cluster set it, so a
# warm memo survives executor loss), never collected to the driver.
# applicationId (not id(spark)): CPython reuses object ids after GC,
# so a dead session's memo could leak into a new one. The value is
# (cent_df, k, asg_df): the full index — centroids AND the
# inverted-list assignment (faiss train+add). Memoizing only the
# centroids (rounds ≤4) silently re-ran the whole-corpus assignment
# inside every "warm" search; the assignment is index state, built
# once and stored (at deployment scale: written out cluster-
# partitioned, the layout tests/test_scale_evidence.py prunes on).
_IVF_CENTROIDS: dict[tuple[str, str], tuple[DataFrame, int, DataFrame]] = {}


def _ivf_train(spark: SparkSession, sf_dir: str):
    """Integer Lloyd iterations with the centroid table carried as a
    DataFrame end-to-end (round-4 rebuild of the driver-dict loop: at
    N=10⁹, K=⌊√N⌋ ≈ 31.6k centroids — too big to funnel through
    driver Python each iteration, trivial as executor-side blocks).
    Round 5 carries centroids as (j, wa: array<bigint>) rows — K rows,
    not K×64 — so each iteration is: two-level candidate argmin
    assignment (_ivf_candidates — the sample probes only its
    IVF_GROUP_PROBES nearest rep groups, so per-iteration distance
    work is 256·K·3√K ≈ N^0.75, not 256·K² = N; shuffle = sample
    size, map-side folded), 64 unrolled
    per-dimension sum aggregates for the new means, and a LEFT join
    onto the previous centroids so empty clusters keep their old value
    — then checkpoint to cut the iterative lineage (reliable when
    spark.cosmoz.checkpoint.dir is set). The only driver-side values
    are n and k; no centroid row ever leaves the executors. After the
    Lloyd loop the whole corpus is assigned once (two-level candidates)
    and checkpointed: train+add, the complete index. Returns
    (qv, cent_df, k, asg_df); qv is scope-persisted, so its blocks are
    freed by the caller's next release_persists()."""
    from math import isqrt

    qv = scoped_persist(_ivf_quantized(spark, sf_dir))
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    memo = _IVF_CENTROIDS.get(key)
    if memo is not None:
        return qv, memo[0], memo[1], memo[2]
    n = load_table(spark, sf_dir, "embeddings").count()
    k = isqrt(n)
    target = IVF_TRAIN_PER_CENTROID * k
    m = (n + target - 1) // target
    qv_train = qv.where(F.col("vec_id") % m == 0) if m > 1 else qv
    # Seeds: the k smallest sampled vec_ids ranked 0..k-1. The global
    # row_number window is the one narrow stage, and it is K-sized
    # (post-LIMIT), never N-sized.
    seed = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % m == 0)
        .select("vec_id").orderBy("vec_id").limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int").alias("j"),
            "vec_id",
        )
    )
    # Lazy checkpoints (eager=False) for the INTERMEDIATE supersteps:
    # the Lloyd loop has a FIXED iteration count and no per-round
    # driver probe, so the seed -> iterate chain fuses into one job
    # instead of one sequential job launch per superstep (measured:
    # 7.5 s -> ~5 s cold build at sf0.1; pure fixed latency,
    # invisible at scale). The FINAL iteration's checkpoint stays
    # EAGER (round-6 advisor fix): with eager=False and Spark's
    # default checkpointAllMarkedAncestors=false, the eager add job
    # below materializes only asg_df's own RDD — the memoized cent_df
    # would stay marked-but-unmaterialized, recomputing the whole
    # Lloyd chain on its first direct use (and on executor loss under
    # the reliable-checkpoint conf). Eager-final costs one extra job
    # launch over the identical work and makes the handed-out
    # centroid table genuinely truncated/durable.
    cent_df = _iter_checkpoint(
        seed.join(qv, "vec_id").select("j", F.col("qa").alias("wa")), eager=False
    )
    # one gate decision per train (the kernel collects the K-row
    # centroid table each pass — see IVF_ASSIGN_NUMPY)
    use_kernel = _ivf_assign_numpy_on(qv)
    kernel_bcs: list = []

    def _assign_once(vecs: DataFrame, cents: DataFrame) -> DataFrame:
        if use_kernel:
            return _ivf_assign_kernel(vecs, cents, k, bc_sink=kernel_bcs)
        return _argmin_cluster(_ivf_candidates(vecs, cents, k))

    for it in range(IVF_ITERS):
        assign = _assign_once(qv_train, cent_df)
        # new mean per cluster: 64 unrolled integer sum aggregates in
        # one codegen'd hash-agg (same floor(sum/count) arithmetic the
        # oracle unrolls), reassembled into the centroid array
        upd = (
            assign.join(qv_train, "vec_id")
            .groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                *[
                    F.sum(F.col("qa").getItem(i)).alias(f"s{i}")
                    for i in range(EMBED_DIM)
                ],
            )
            .select(
                "cluster",
                F.array(
                    *[
                        F.floor(F.col(f"s{i}") / F.col("cnt"))
                        for i in range(EMBED_DIM)
                    ]
                ).alias("uw"),
            )
        )
        # empty clusters keep their previous centroid
        cent_df = _iter_checkpoint(
            cent_df.join(upd, cent_df["j"] == upd["cluster"], "left")
            .select(cent_df["j"], F.coalesce("uw", "wa").alias("wa")),
            eager=(it == IVF_ITERS - 1),
        )
    # The "add" phase: assign every vector once, checkpoint the
    # inverted-list table alongside the centroids. This is index
    # state — without it every warm search re-paid the full-corpus
    # assignment (N·R·K/G distances), the single largest cost in the
    # x1000 profile (394 s of 589 s measured pre-split).
    asg_df = _iter_checkpoint(_assign_once(qv, cent_df))
    # the eager add checkpoint (and the eager-final centroid one) has
    # materialized: every per-pass kernel broadcast is now
    # unreferenced — free driver AND executor copies (ADVICE r10)
    for b in kernel_bcs:
        b.destroy()
    _IVF_CENTROIDS[key] = (cent_df, k, asg_df)
    return qv, cent_df, k, asg_df


def write_ivf_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Durable train/add → search-many (round 10, VERDICT r9 task 4):
    persist the complete IVF index as Parquet tables a DIFFERENT
    session can open. The session memo (_IVF_CENTROIDS) amortizes the
    build within one application; a 100 TB deployment trains once and
    searches from many sessions, which needs the index on reliable
    storage:

    - ``<path>/centroids.parquet`` — the K-row coarse quantizer
      (j, wa);
    - ``<path>/invlists.parquet`` — the inverted-list assignment,
      PARTITIONED BY cluster: the layout a probed search prunes on
      (tests/test_scale_evidence.py asserts the FileScan reads only
      probed clusters; with the broadcast probe join, dynamic
      partition pruning does the same for loaded indexes). One
      directory per cluster is the per-cluster-file faiss on-disk
      layout; at K=⌊√N⌋≈31.6k dirs for N=10⁹ that is large-but-flat —
      a deployment that needs fewer objects shards by
      cluster % n_shards and prunes on the shard, same mechanics.
    - ``<path>/meta.parquet`` — one row: (k, n_clusters_nonempty),
      the scalars load needs without scanning.

    Training is deterministic, so writing from a warm memo or a fresh
    train produces the identical index."""
    qv, cent_df, k, asg_df = _ivf_train(spark, sf_dir)
    cent_df.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    asg_df.write.mode("overwrite").partitionBy("cluster").parquet(
        f"{path}/invlists.parquet"
    )
    # n_clusters_nonempty: a one-column distinct over the checkpointed
    # assignment — write-time index metadata (ADVICE r10: the column
    # was documented but not written), one cheap job on a one-time
    # deployment op
    nne = asg_df.select("cluster").distinct().count()
    spark.createDataFrame(
        [(k, nne)], "k int, n_clusters_nonempty long"
    ).write.mode("overwrite").parquet(f"{path}/meta.parquet")


def load_ivf_index(spark: SparkSession, sf_dir: str, path: str):
    """Open a written index and seed the session memo, so
    ``x_ann_ivf_topk_search`` (and anything else that calls
    _ivf_train) runs WARM against the loaded tables — no Lloyd loop,
    no add pass, no checkpoint dependency on the writing session.
    Returns (cent_df, k, asg_df). The partition column comes back as
    the partition-directory key; it is cast back to the trained
    schema's int so downstream joins/oracle compares see identical
    types."""
    k = spark.read.parquet(f"{path}/meta.parquet").collect()[0]["k"]
    cent_df = spark.read.parquet(f"{path}/centroids.parquet")
    asg_df = spark.read.parquet(f"{path}/invlists.parquet").select(
        "vec_id", F.col("cluster").cast("int").alias("cluster")
    )
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    _IVF_CENTROIDS[key] = (cent_df, int(k), asg_df)
    return cent_df, int(k), asg_df


@register(
    "x_ann_ivf_topk",
    f"""WITH {_ivf_sql_ctes()},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v,
             sqrt(list_aggregate(list_transform(generate_series(1, len(v)),
                                                i -> v[i] * v[i]), 'sum')) AS nrm
      FROM e),
nc AS (SELECT n.vec_id, n.v, n.nrm, a.cluster
       FROM n JOIN asgF a ON a.vec_id = n.vec_id),
q AS (SELECT p.query_id, p.cluster, nq.v, nq.nrm
      FROM probes p JOIN n nq ON nq.vec_id = p.query_id),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id, c.cluster,
           round(list_aggregate(list_transform(generate_series(1, len(q.v)),
                                               i -> q.v[i] * c.v[i]), 'sum')
                 / (q.nrm * c.nrm), 6) AS cosine
    FROM q JOIN nc c ON q.cluster = c.cluster AND q.query_id <> c.vec_id)
SELECT query_id, neighbor_id, cluster, cosine, rk FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rk
    FROM scored) t
WHERE rk <= 3""",
    doc="IVF ANN search with a TRAINED coarse quantizer, end-to-end "
    "(subsumes the former x_ann_ivf_assign): integer Lloyd k-means "
    "(K=⌊√N⌋, 3 seeded iterations, exact int arithmetic → engine-"
    "identical training), then each query probes its nprobe=2 nearest "
    "clusters — candidate scoring shrinks ~K/nprobe× (11× here) vs "
    "brute force. Measured recall@3 vs x_ann_cosine_topk at sf0.01: "
    "0.60 — and identical at nprobe=4, because this corpus is uniform "
    "random (near-orthogonal) vectors, the known worst case where "
    "centroid distance carries almost no signal about true neighbors. "
    "On a clustered corpus (44 tight clusters = K, "
    "tests/test_ivf_recall.py) the SAME query path measures recall@3 "
    "= 1.000 — the 0.60 reflects the corpus, not the operator. "
    "Broadcast query set, equi-join on cluster id, fold-kernel "
    "cosine, rank within query. Training runs on a deterministic "
    "sample of ~256 vectors per centroid (vec_id %% ceil(N/(256K)) == "
    "0 — the whole corpus at test SFs), and every assignment (the "
    "Lloyd iterations, the final corpus add, the query probes) goes "
    "through the two-level coarse-group candidate set "
    "(IVF_GROUP_PROBES) instead of all K centroids, so no stage "
    "anywhere is N×K; only the final add pass scans every vector. At "
    "100 TB the "
    "corpus is pre-partitioned by cluster so each probe is a "
    "partition-pruned scan. Trained centroids are memoized per corpus "
    "(the faiss train-once/search-many split): the first call pays the "
    "index build, steady-state searches reuse it — deterministic "
    "training means identical results either way.",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _ivf_scored(spark, sf_dir, IVF_NPROBE)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.select(
        "query_id", "neighbor_id",
        F.col("cluster").cast("long").alias("cluster"),  # oracle's j is BIGINT
        "cosine",
        F.row_number().over(w).cast("long").alias("rk"),
    ).where(F.col("rk") <= 3)


def _ivf_scored(spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE) -> DataFrame:
    """Exact cosine over every candidate the probe admits — the scored
    set BEFORE top-k ranking, parameterized by nprobe so the recall/
    cost operating curve (tests/test_ivf_recall.py) exercises the
    production path, not a test-only fork."""
    # The index (centroids + checkpointed inverted-list assignment)
    # comes from _ivf_train; a warm search touches only the query
    # subset: probe ranking over the queries' two-level candidates
    # (Q = N/100 rows) and exact scoring inside the probed clusters.
    qv, cent_df, k, assign = _ivf_train(spark, sf_dir)
    probe_w = Window.partitionBy("vec_id").orderBy("d2", "j")
    probes = (
        _ivf_candidates(qv.where(F.col("vec_id") % 100 == 0), cent_df, k)
        .select("vec_id", "j", F.row_number().over(probe_w).alias("rk"))
        .where(F.col("rk") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), F.col("j").alias("cluster"))
    )
    vecs = _vectors(spark, sf_dir).drop("label")
    vc = vecs.join(assign, "vec_id")
    q = F.broadcast(
        probes.join(
            vecs.select(
                F.col("vec_id").alias("query_id"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qn"),
            ),
            "query_id",
        )
    )
    return vc.join(q, "cluster").where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cluster",
        F.round(
            sim.cosine(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")),
            6,
        ).alias("cosine"),
    )


@register(
    "x_ann_ivf_topk_train",
    f"""WITH {_ivf_sql_ctes()}
SELECT j, i, w FROM cent{IVF_ITERS}""",
    doc="The TRAIN+ADD half of the IVF train-once/search-many split, as "
    "its own checkable artifact: the Lloyd-trained coarse-quantizer "
    "centroid table (cluster j, dimension i, quantized weight w), "
    "verified cell-by-cell against the oracle's unrolled iterations. "
    "Running it also builds and checkpoints the inverted-list "
    "assignment (the faiss add phase) — the complete index. In "
    "bench.py this query is timed COLD (memo cleared) — the one-time "
    "index-build cost a deployment pays — while x_ann_ivf_topk_search "
    "is timed WARM against the memoized index, so the steady-state "
    "search cost is visible instead of buried in the rebuild.",
)
def q_ann_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, cent_df, _k, _asg = _ivf_train(spark, sf_dir)
    return cent_df.select(
        F.col("j").cast("long").alias("j"), F.posexplode("wa").alias("i0", "w")
    ).select("j", (F.col("i0") + 1).cast("long").alias("i"), F.col("w"))


@register(
    "x_ann_ivf_topk_search",
    REGISTRY["x_ann_ivf_topk"].oracle,
    doc="The SEARCH half of the IVF split: identical results to "
    "x_ann_ivf_topk (training is deterministic, so warm-vs-cold can "
    "only change cost, never output — the oracle is the same SQL), "
    "but bench.py times it with the index memo WARM (centroids AND "
    "the checkpointed inverted-list assignment): probe ranking + "
    "cluster-pruned candidate scoring only, the per-query cost a "
    "steady-state deployment pays after the index is built.",
)
def q_ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_ann_ivf_topk(spark, sf_dir)


@register(
    "x_multimodal_decode_frames",
    """
WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
hdr AS (
    SELECT doc_id, h,
           (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS b0
    FROM b)
SELECT hdr.doc_id,
       CAST(16 AS BIGINT) AS n_bytes,
       hdr.b0 AS header_byte,
       CASE WHEN hdr.b0 < 128 THEN 'RGB' ELSE 'L' END AS mode,
       16 + (hdr.b0 % 8) * 16 AS width,
       t.frame_idx,
       (strpos('0123456789abcdef', substr(hdr.h, 2 * t.frame_idx + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hdr.h, 2 * t.frame_idx + 2, 1)) - 1)
         AS frame_byte
FROM hdr
JOIN LATERAL (SELECT unnest(generate_series(1, hdr.b0 % 4 + 1)) AS frame_idx) t ON true""",
    doc="Multimodal column plumbing, decode + 1→N frame sampling in one "
    "Arrow-batched mapInPandas (merged round 3: subsumes the former "
    "decode-stub and frame-sample queries): an opaque binary 'media' "
    "column is header-decoded (n_bytes/mode/width) and expanded to one "
    "row per sampled frame — real schema, partitioning, batch shape "
    "and variable fan-out, the exact shape an ffmpeg/PIL decode stage "
    "has. The codec is a feature flag — spark.cosmoz.multimodal.codec="
    "stub (default: 16-byte deterministic fake payload, THIS oracle "
    "checks it arithmetically), =ppm (round 7: the media column is a "
    "real binary P6 PPM image and the decode is a real pure-Python "
    "header/pixel parse — oracle-gated separately as "
    "x_multimodal_decode_ppm), or =pil (real Pillow decode of the same "
    "PPM bytes; refuses loudly when Pillow is absent rather than "
    "silently falling back, so a deployment that asked for real "
    "decoding cannot get fake frames).",
)
def q_multimodal_decode_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    codec = spark.conf.get("spark.cosmoz.multimodal.codec", "stub")
    if codec not in ("stub", "ppm", "pil"):
        raise ValueError(f"unknown multimodal codec {codec!r} (stub|ppm|pil)")
    return _decode_frames(spark, sf_dir, codec)


_FRAMES_SCHEMA = (
    "doc_id long, n_bytes long, header_byte long, mode string, "
    "width long, frame_idx long, frame_byte long"
)


def _ppm_media(docs: DataFrame) -> DataFrame:
    """(doc_id, media) where media is a VALID binary P6 PPM image,
    deterministically derived from the text: w in {2,3,4} and h in
    {1,2} from the first md5 byte, pixels from md5-stream bytes
    (offset by one so the first pixel byte differs from the
    width/height seed). Built entirely with JVM-side expressions —
    the decode stage downstream has no knowledge of this layout and
    must recover w/h by actually parsing the header."""
    b0 = F.conv(F.substring(F.md5("text"), 1, 2), 16, 10).cast("int")
    w = (F.lit(2) + b0 % 3).cast("int")
    h = (F.lit(1) + (F.floor(b0 / 4).cast("int") % 2)).cast("int")
    header = F.concat(
        F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"),
        F.lit("\n255\n"),
    )
    pix_stream = F.unhex(
        F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("p"))))
    )
    media = F.concat(
        F.encode(header, "UTF-8"),
        pix_stream.substr(F.lit(2), w * h * F.lit(3)),
    )
    return docs.select("doc_id", media.alias("media"))


def parse_p6(data: bytes) -> tuple[int, int, bytes]:
    """REAL P6 PPM parse (pure Python, vendored — no image libs in the
    container): magic check, whitespace/comment-tolerant header
    tokenization, maxval validation, pixel-payload bounds check.
    Returns (width, height, pixel bytes). Raises ValueError on
    anything that is not a well-formed 8-bit P6 — including the stub
    codec's 16 random md5 bytes, which is the point: a deployment
    that asked for real decoding cannot silently get fake frames."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM (bad magic)")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        vals.append(int(data[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval, per spec
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    pix = data[pos : pos + 3 * w * h]
    if len(pix) < 3 * w * h:
        raise ValueError("truncated PPM pixel payload")
    return w, h, pix


def _decode_frames(spark: SparkSession, sf_dir: str, codec: str) -> DataFrame:
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")

    if codec == "pil":
        try:
            import PIL  # noqa: F401
        except ImportError as exc:
            raise ImportError(
                "spark.cosmoz.multimodal.codec=pil requires Pillow, which is "
                "not installed in this environment; use codec=ppm for a real "
                "decode without Pillow, or unset the conf for the stub "
                "codec (the oracle-checked default)"
            ) from exc

        # REAL decode path (requires Pillow on executors): same Arrow
        # mapInPandas plumbing and output schema; the media bytes are
        # the same valid PPM images the ppm codec parses (Pillow reads
        # PPM natively), so header/mode/width come from the actual
        # image and frames from ImageSequence.
        def decode_and_sample(batches):
            import io

            from PIL import Image, ImageSequence

            for pdf in batches:
                out = {k: [] for k in
                       ("doc_id", "n_bytes", "header_byte", "mode", "width",
                        "frame_idx", "frame_byte")}
                for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                    img = Image.open(io.BytesIO(media))
                    for k, frame in enumerate(ImageSequence.Iterator(img), 1):
                        out["doc_id"].append(doc_id)
                        out["n_bytes"].append(len(media))
                        out["header_byte"].append(media[0])
                        out["mode"].append(frame.mode)
                        out["width"].append(frame.width)
                        out["frame_idx"].append(k)
                        out["frame_byte"].append(frame.tobytes()[0])
                yield pd.DataFrame(out).astype(
                    {c: "int64" for c in out if c != "mode"}
                )

        return _ppm_media(docs).mapInPandas(decode_and_sample, _FRAMES_SCHEMA)

    if codec == "ppm":
        # REAL decode, no external libs: parse_p6 recovers w/h/pixels
        # from the bytes alone. PPM is single-frame, so the fan-out is
        # 1 row; the variable-fan-out shape is still pinned by the
        # stub codec's oracle.
        def decode_and_sample(batches):
            for pdf in batches:
                out = {k: [] for k in
                       ("doc_id", "n_bytes", "header_byte", "mode", "width",
                        "frame_idx", "frame_byte")}
                for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                    w, h, pix = parse_p6(media)
                    out["doc_id"].append(doc_id)
                    out["n_bytes"].append(len(media))
                    out["header_byte"].append(media[0])
                    out["mode"].append("RGB")  # P6 is 3-channel by spec
                    out["width"].append(w)
                    out["frame_idx"].append(1)
                    out["frame_byte"].append(pix[0])
                yield pd.DataFrame(out).astype(
                    {c: "int64" for c in out if c != "mode"}
                )

        return _ppm_media(docs).mapInPandas(decode_and_sample, _FRAMES_SCHEMA)

    with_bin = docs.select("doc_id", F.unhex(F.md5("text")).alias("media"))

    def decode_and_sample(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "n_bytes", "header_byte", "mode", "width",
                    "frame_idx", "frame_byte")}
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                b0 = media[0]
                for k in range(1, b0 % 4 + 2):
                    out["doc_id"].append(doc_id)
                    out["n_bytes"].append(len(media))
                    out["header_byte"].append(b0)
                    out["mode"].append("RGB" if b0 < 128 else "L")
                    out["width"].append(16 + (b0 % 8) * 16)
                    out["frame_idx"].append(k)
                    out["frame_byte"].append(media[k])
            yield pd.DataFrame(out).astype(
                {c: "int64" for c in out if c != "mode"}
            )

    return with_bin.mapInPandas(decode_and_sample, _FRAMES_SCHEMA)


@register(
    "x_multimodal_decode_ppm",
    """
WITH b AS (SELECT doc_id, md5(text) AS h1 FROM documents),
d AS (
    SELECT doc_id, h1,
           (strpos('0123456789abcdef', substr(h1, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h1, 2, 1)) - 1) AS b0
    FROM b),
g AS (SELECT doc_id, h1, b0, 2 + b0 % 3 AS w, 1 + (b0 // 4) % 2 AS hh FROM d)
SELECT doc_id,
       CAST(length('P6' || chr(10) || CAST(w AS VARCHAR) || ' '
                   || CAST(hh AS VARCHAR) || chr(10) || '255' || chr(10))
            + 3 * w * hh AS BIGINT) AS n_bytes,
       CAST(80 AS BIGINT) AS header_byte,
       'RGB' AS mode,
       CAST(w AS BIGINT) AS width,
       CAST(1 AS BIGINT) AS frame_idx,
       (strpos('0123456789abcdef', substr(h1, 3, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(h1, 4, 1)) - 1) AS frame_byte
FROM g""",
    doc="The ppm codec path of x_multimodal_decode_frames as its own "
    "oracle-gated query (VERDICT r6 task 4: execute a REAL decode, not "
    "a stub hash). The media column is a valid binary P6 PPM built "
    "with JVM expressions; the Arrow mapInPandas stage recovers "
    "width/height/pixels by genuinely parsing the bytes (parse_p6: "
    "magic, whitespace/comment-tolerant header, maxval, payload bounds "
    "— it rejects the stub's random bytes). The oracle predicts "
    "header length, dimensions and first pixel byte ARITHMETICALLY "
    "from the same md5 derivation, so a parser that mis-tokenized the "
    "header or mis-offset the pixel payload hash-mismatches. Sits in "
    "the registry tail past the 50-query driver budget (same policy "
    "as the IVF train/search views); gated locally by check_all and "
    "tests/test_multimodal_codec.py.",
)
def q_multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decode_frames(spark, sf_dir, "ppm")


# -------------------------------------------------- scale-sweep probes
#
# Intermediate-stage counts for the multi-decade scaling evidence
# (VERDICT r6 task 2): the alpha ~= 1 explanations for the banded
# dedup operators cite candidate and shingle growth — these probes
# make those numbers part of the SCALE_r{N}.json artifact instead of
# README prose. Each probe re-derives the intermediate through the
# SAME builder the registered query runs (extracted above), outside
# the timed runs. Derivable stages are not re-counted:
# x_dedup_minhash_lsh's candidate pairs ARE its output rows (no
# verify filter), x_dedup_ngram_jaccard's candidates equal
# x_dedup_minhash_lsh's rows (identical signatures and banding), and
# x_dedup_components' edge count is 2x x_dedup_simhash_pairs' rows.

def _probe_minhash(spark: SparkSession, sf_dir: str) -> dict:
    sh = _shingle_rows(_docs_aug(spark, sf_dir))
    return {"shingle_rows": sh.count()}


def _probe_simhash(spark: SparkSession, sf_dir: str) -> dict:
    # finally-release: probes persist outside any registry release
    # scope, so a standalone caller must not leak cache into whatever
    # (timed) job runs next (VERDICT r7 task 4)
    sigs = scoped_persist(tx.simhash64_bands(_docs_aug(spark, sf_dir)))
    try:
        return {
            "candidate_pairs": _simhash_combo_cands(
                sigs, _docs_aug_count(spark, sf_dir)
            ).count()
        }
    finally:
        release_persists()


def _probe_neardup(spark: SparkSession, sf_dir: str) -> dict:
    _, cand = _neardup_cands(spark, sf_dir)
    try:
        return {"candidate_pairs": cand.count()}
    finally:
        release_persists()


def _probe_decontaminate(spark: SparkSession, sf_dir: str) -> dict:
    tr, ev = _decon_sides(spark, sf_dir)
    tr = scoped_persist(tr)
    try:
        return {
            "train_shingle_rows": tr.count(),
            "eval_index_rows": ev.count(),
            "matched_rows_preagg": tr.join(F.broadcast(ev), "h").count(),
        }
    finally:
        release_persists()


STAGE_PROBES = {
    "x_dedup_minhash_lsh": _probe_minhash,
    "x_dedup_simhash_pairs": _probe_simhash,
    "x_embed_cosine_neardup": _probe_neardup,
    "x_decontaminate": _probe_decontaminate,
}
