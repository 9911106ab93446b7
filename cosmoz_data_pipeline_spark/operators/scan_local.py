"""Scan-local per-key sequence ops over layout-contracted parquet
(round 14, VERDICT r13 tasks 1-2).

Problem (LEVEL1_STAGES.json): level1's two sequence legs — the
``lag(count)`` prev-reading and the 29-min exact-duplicate window
(reference /root/reference/pipeline/raw->level1.sql:91-93 and
/root/reference/pipeline/cosmoz_process_levels.py:357-360,375-390) —
each hash-shuffle the FULL 17-column fact (14 GB at x1000, 57 s + 16 s
of level1's 77 s wall) to compute values that are almost entirely
file-local. Spark's window operator always inserts that exchange: a
window's required ClusteredDistribution can only be satisfied by a
shuffle (or a bucketed metastore table, which the plain-parquet sink
contract doesn't provide), and a ``Window.partitionBy(_metadata.
file_path)`` still shuffles — plus it silently breaks whenever a file
splits across tasks at ``spark.sql.files.maxPartitionBytes``.

This module instead exploits the sink's storage layout, the way a
cluster at 100 TB would have to: the level sinks already write
time-ordered site-tiled parquet (streaming/incremental.py), so both
sequence values are computable inside the scan, per file, with only a
TINY per-(site, file) boundary exchange:

- main pass: one whole parquet file per Spark task (a ``spark.range``
  of file indices mapped through Arrow ``mapInPandas``; each task
  streams its file's row batches through pyarrow). Within a file the
  layout contract makes rows (site, time)-sorted, so ``prev_count``
  is a vectorized shift and the 29-min duplicate check a hash-group
  diff + exact payload confirm — no shuffle, no sort, no window.
  Whole-file tasks are deliberate: they make the operator immune to
  the file-split hazard above, at the price of parallelism = #files
  (the sink's writer controls file count; see ``write_time_tiled``).
- boundary stitch: a column-pruned scan aggregates one row per
  (site, file) — head/tail time + tail count — map-side combined, so
  the only exchange carries #files rows, not data rows. A per-site
  window over that tiny table chains each file to its predecessor;
  broadcast back, it patches each file's first-row ``prev_count``.
- duplicate zone fix: a row can only need cross-file lookback if it
  sits within 29 min of its file's per-site head ("head zone"); its
  potential matchers in earlier files provably sit within 29 min of
  their file's per-site tail ("tail zone" — proof in
  ``_zone_fix``). The exact duplicate window (the same hash-prefixed
  expressions domain/levels.py ships) runs over just the zone rows,
  and its verdicts for head-zone rows are joined back — keyed
  null-safely on (site, time, payload struct) with a per-tie-group
  count so equal-timestamp duplicate pairs resolve to exactly the
  same number of drops as the single-window shape.

Layout contract (validated, loud failure on breach):
  1. within each parquet file, rows are sorted by (site, time);
  2. for each site, distinct files cover disjoint time ranges;
  3. equal (site, time) rows never straddle files.
``write_time_tiled`` produces the layout via range partitioning (its
partitioner never splits equal keys, giving 2 and 3 for free), and a
day-partitioned sink like streaming/incremental.py satisfies it once
rows are sorted within each (site, day) file.

Exactness notes: time ties within a site resolve by in-file order —
the same nondeterminism the plain window has (bucketed_window.py's
caveat). Hash-group duplicate candidates are confirmed by exact
payload comparison, with a bounded fallback scan on hash collision,
so drops are never probabilistic. Values compare as pandas
materializes them (int64 columns containing nulls ride as float64;
integers beyond 2^53 with nulls would lose exactness — the domain's
counts are 4-digit).

100 TB design: shuffle bytes for both legs drop from O(data) to
O(#files); the Python leg is Arrow-batched and scan-local, so it
scales with executors instead of fighting a 22-key sort. Adoption is
measured, not assumed — tools/level1_scanlocal_ab.py interleaves this
shape against the shipped bucketed-window shape at x1000
(LEVEL1_SCANLOCAL_AB.json: 5/6 interleaved pass wins, 0.3 MB vs
13.13 GB shuffle, identity at 86.8M rows).

Known residual (LEVEL1_STAGES.json r14, healthy window): of sl_l1's
30.3 s at x1000, the per-file kernel is only 7.5 s — the zone-fix's
SECOND full-width decode (the JVM scan feeding the exact cross-file
duplicate confirm) plus the slim stitch scan carry most of the rest.
The named lever, deliberately not taken this round: the sink writer
controls parquet row-group size, so a paths-driven zone extraction
could prune to just the row groups intersecting the per-(site, file)
boundary windows (~50x less second-pass decode at 8 MB row groups);
pyarrow prunes at row-group granularity only, so the win requires the
writer's cooperation and degrades gracefully to today's cost on
foreign coarse-row-group files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DUP_WINDOW_SECS = 29 * 60

# Round-14 optimization hook: when True (the default via None=auto),
# the duplicate zone fix and the boundary stitch read their rows from
# a second per-file mapInPandas kernel that prunes to just the parquet
# ROW GROUPS intersecting each (site, file)'s head/tail 29-min windows
# (guide §6: make pruning reach the scan; §2.3: decide with small
# rows) — instead of a second full-width JVM decode of the whole sink
# plus a third slim (site, time, count) pass. False forces the
# round-13 full-scan shape for interleaved A/B
# (tools/level1_zonerg_ab.py → LEVEL1_ZONERG_AB.json). Files whose
# row-group statistics are missing degrade per-file to a whole-file
# read inside the kernel — never to a wrong answer.
SCANLOCAL_BOUNDARY_KERNEL: bool | None = None

# Row-group size write_time_tiled asks of the parquet writer. Small
# row groups are what make the boundary kernel's pruning effective
# (zone windows are 29 min; a default 128 MB row group usually spans
# the whole file and prunes nothing). 8 MiB keeps footer overhead
# trivial while giving ~16x pruning granularity per 128 MB of file.
TILE_ROWGROUP_BYTES = 8 * 1024 * 1024


def write_time_tiled(
    df: DataFrame, path: str, n_files: int, site_col: str = "site_no",
    time_col: str = "time", rowgroup_bytes: int = TILE_ROWGROUP_BYTES,
) -> None:
    """Write ``df`` as the layout-contracted parquet this module
    scans: ``n_files`` range-partitioned files, each sorted by
    (site, time). Range partitioning keeps every site's timeline a
    disjoint ordered tiling across files and never splits equal
    (site, time) keys across two files. ``rowgroup_bytes`` bounds the
    parquet row-group size so the boundary kernel can prune the zone
    read to the row groups that matter (see module docstring)."""
    (
        df.repartitionByRange(n_files, F.col(site_col), F.col(time_col))
        .sortWithinPartitions(site_col, time_col)
        .write.mode("overwrite")
        .option("parquet.block.size", str(int(rowgroup_bytes)))
        .parquet(path)
    )


def _local_path(uri: str) -> str:
    """file: URIs → plain paths for pyarrow; other schemes pass
    through (pyarrow resolves hdfs/s3 when those filesystems are
    available to the executors)."""
    from urllib.parse import unquote, urlparse

    u = urlparse(uri)
    return unquote(u.path) if u.scheme == "file" else uri


def _fpath_col() -> F.Column:
    """``_metadata.file_path`` canonicalized to match ``_local_path``
    over ``df.inputFiles()``: Hadoop renders local files as
    ``file:/p`` (single slash) while inputFiles returns the
    percent-encoded ``file:///p`` URI — joining the two raw strings
    silently matches nothing."""
    return F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")


def _tus(series) -> "np.ndarray":  # noqa: F821
    """Timestamp series → int64 epoch MICROseconds (tz dropped; the
    session pins UTC so wall == epoch). Microseconds, not nanoseconds:
    int64 ns overflows past year 2262, and the x1000 synthetic corpus
    runs centuries past it — parquet/Spark timestamps are µs anyway."""
    import numpy as np

    vals = series.values
    if getattr(vals, "tz", None) is not None:  # DatetimeArray w/ tz
        vals = vals.tz_localize(None)  # type: ignore[union-attr]
    return np.asarray(vals, dtype="datetime64[us]").astype("int64")


def _pay_eq(pay_arrays, i, j) -> bool:
    """NaN/None-safe scalar payload equality between row i and j."""
    import pandas as pd

    for col in pay_arrays:
        a, b = col[i], col[j]
        if pd.isna(a) or pd.isna(b):
            if pd.isna(a) and pd.isna(b):
                continue
            return False
        if a != b:
            return False
    return True


def _payload_hash(pay_arrays, n):
    """Vectorized 64-bit row hash over payload columns, DTYPE-STABLE:
    numeric columns hash through a float64 normalization (equal values
    hash equal even when one Arrow batch materializes an int column as
    int64 and another — containing nulls — as float64), NaN/None and
    ±0.0 are canonicalized, and non-numeric columns fall back to
    pandas' deterministic per-column hash."""
    import numpy as np
    import pandas as pd

    M1 = np.uint64(0xBF58476D1CE4E5B9)
    M2 = np.uint64(0x94D049BB133111EB)
    NAN_TOKEN = np.uint64(0x7FF8DEADBEEF0001)
    h = np.full(n, np.uint64(0x9E3779B97F4A7C15), dtype=np.uint64)
    for col in pay_arrays:
        arr = np.asarray(col)
        if arr.dtype.kind in "iufb":
            f = arr.astype(np.float64, copy=True)
            nan = np.isnan(f)
            f[f == 0.0] = 0.0  # -0.0 → +0.0 (compares equal)
            u = f.view(np.uint64).copy()
            u[nan] = NAN_TOKEN
        else:
            u = pd.util.hash_pandas_object(
                pd.Series(arr), index=False
            ).to_numpy().astype(np.uint64)
        # splitmix64-style finalizer, then combine
        u ^= u >> np.uint64(30)
        u *= M1
        u ^= u >> np.uint64(27)
        u *= M2
        u ^= u >> np.uint64(31)
        h = (h * M1) ^ u
    return h


def _dup_flags(seg, c_tus, h, pay_arrays, r_us):
    """Exact 29-min duplicate flags over one sorted (carry+batch)
    frame: nearest same-hash predecessor within ``r_us`` via a stable
    lexsort (groups contiguous, original order kept on full ties),
    payload-confirmed; on hash collision a bounded lookback scan
    restores exactness (unit-tested directly with a degenerate
    all-equal hash in tests/test_scan_local.py)."""
    import numpy as np
    import pandas as pd

    n = len(c_tus)
    dup = np.zeros(n, dtype=bool)
    if n < 2:
        return dup
    so = np.lexsort((c_tus, h, seg))
    same = (seg[so[1:]] == seg[so[:-1]]) & (h[so[1:]] == h[so[:-1]])
    prev_pos = np.full(n, -1, dtype=np.int64)
    prev_pos[so[1:]] = np.where(same, so[:-1], -1)
    has = prev_pos >= 0
    diff = np.zeros(n, dtype=np.int64)
    diff[has] = c_tus[has] - c_tus[prev_pos[has]]
    cand = has & (diff <= r_us)
    if not cand.any():
        return dup
    ci = np.flatnonzero(cand)
    pj = prev_pos[ci]
    ok = np.ones(len(ci), dtype=bool)
    for col in pay_arrays:
        a, b = col[ci], col[pj]
        try:
            a_na = pd.isna(a)
            b_na = pd.isna(b)
            eq = np.zeros(len(ci), dtype=bool)
            both = ~a_na & ~b_na
            eq[both] = a[both] == b[both]
            eq |= a_na & b_na
        except TypeError:  # mixed object fallback
            eq = np.array([_pay_eq([col], x, y) for x, y in zip(ci, pj)])
        ok &= eq
    dup[ci[ok]] = True
    # hash-collision fallback: the nearest same-hash row was a
    # different payload; scan the bounded lookback for a true match
    # (astronomically rare; exactness must not rest on 64-bit hashes)
    for x in ci[~ok]:
        lo = c_tus[x] - r_us
        for y in range(int(x) - 1, -1, -1):
            if seg[y] != seg[x] or c_tus[y] < lo:
                break
            if h[y] == h[x] and _pay_eq(pay_arrays, x, y):
                dup[x] = True
                break
    return dup


def _make_kernel(paths, all_cols, payload_cols, site_col, time_col,
                 count_col, batch_rows):
    """Build the per-file mapInPandas kernel. ``paths`` is captured in
    the closure (one broadcast-pickled list; fine into the 100k-file
    range)."""
    R_US = DUP_WINDOW_SECS * 1_000_000

    def kernel(id_batches):
        for id_pdf in id_batches:
            for fid in id_pdf["id"].tolist():
                yield from _one_file(int(fid))

    def _one_file(fid):
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq


        path = paths[fid]
        # coerce INT96 (Spark's legacy parquet timestamp) to MICROsecond
        # unit: pyarrow's default nanosecond coercion silently WRAPS
        # timestamps past 2262-04-11 (the int64-ns horizon) — the x1000
        # corpus runs centuries past it, and a wrapped value reads as a
        # spurious layout violation (or worse, a wrong lag)
        pf = pq.ParquetFile(_local_path(path), coerce_int96_timestamp_unit="us")
        carry = None  # trailing-29-min frame of the last site run
        last_site = None
        last_time_us = None
        run_head_us = None

        for rb in pf.iter_batches(batch_size=batch_rows, columns=list(all_cols)):
            pdf = rb.to_pandas()
            if not len(pdf):
                continue
            site = pdf[site_col].to_numpy()
            tus = _tus(pdf[time_col])

            # --- layout contract validation (loud, names the file) ---
            if len(site) > 1:
                brk = site[1:] != site[:-1]
                if (site[1:] < site[:-1]).any() or (
                    (tus[1:] < tus[:-1]) & ~brk
                ).any():
                    raise ValueError(
                        f"scan_local layout violation in {path}: rows are "
                        f"not sorted by ({site_col}, {time_col})"
                    )
            if last_site is not None and (
                site[0] < last_site
                or (site[0] == last_site and tus[0] < last_time_us)
            ):
                raise ValueError(
                    f"scan_local layout violation in {path}: batch starts "
                    f"before the previous batch's last row"
                )

            n_carry = len(carry) if carry is not None else 0
            if n_carry and site[0] != last_site:
                carry, n_carry = None, 0  # new run: carry is stale

            if n_carry:
                comb = pd.concat([carry, pdf], ignore_index=True)
            else:
                comb = pdf.reset_index(drop=True)
            c_site = comb[site_col].to_numpy()
            c_tus = _tus(comb[time_col])
            n = len(comb)

            # contiguous site runs over carry+batch
            seg = np.zeros(n, dtype=np.int64)
            if n > 1:
                seg[1:] = (c_site[1:] != c_site[:-1]).astype(np.int64)
            seg = np.cumsum(seg)

            # prev_count: shift within runs
            cnt = comb[count_col].to_numpy()
            prev_cnt = np.empty(n, dtype=object)
            prev_cnt[0] = None
            if n > 1:
                prev_cnt[1:] = np.where(seg[1:] == seg[:-1], cnt[:-1], None)

            # run-head flags: a run starting inside this (carry+batch)
            # frame starts at the file level unless it is the carried
            # run's continuation (carry rows occupy the head of frame)
            starts = np.zeros(n, dtype=bool)
            starts[0] = n_carry == 0
            if n > 1:
                starts[1:] = seg[1:] != seg[:-1]

            # per-row head time of the owning run: forward-fill the
            # last start position; rows before any start belong to the
            # carried run (head time carried across batches)
            last_start = np.maximum.accumulate(
                np.where(starts, np.arange(n), -1)
            )
            head_us = np.where(
                last_start >= 0,
                c_tus[np.clip(last_start, 0, None)],
                run_head_us if run_head_us is not None else c_tus[0],
            )
            zone = (c_tus - head_us) <= R_US

            # --- duplicate detection: hash-group diff + exact confirm
            pay_arrays = [comb[c].to_numpy() for c in payload_cols]
            h = _payload_hash(pay_arrays, n)
            dup = _dup_flags(seg, c_tus, h, pay_arrays, R_US)

            # tie index within equal (site, time, payload) groups —
            # only needed where (site, time) actually ties, so exact
            # payload grouping on that small subset stays cheap
            tie = np.zeros(n, dtype=np.int32)
            if n > 1:
                tied = np.zeros(n, dtype=bool)
                same_t = (c_tus[1:] == c_tus[:-1]) & (seg[1:] == seg[:-1])
                tied[1:] |= same_t
                tied[:-1] |= same_t
                if tied.any():
                    ti = np.flatnonzero(tied)
                    sub = comb.iloc[ti]
                    tie[ti] = (
                        sub.groupby(
                            [sub[site_col], pd.Series(c_tus[ti], index=sub.index)]
                            + [sub[c] for c in payload_cols],
                            sort=False,
                            dropna=False,
                        )
                        .cumcount()
                        .to_numpy()
                        .astype(np.int32)
                    )

            # emit only the non-carry region
            out = comb.iloc[n_carry:].copy()
            out["prev_count"] = pd.array(prev_cnt[n_carry:], dtype="Int64")
            out["is_duplicate"] = dup[n_carry:]
            out["__fp"] = np.int64(fid)
            out["__head"] = starts[n_carry:]
            out["__zone"] = zone[n_carry:]
            out["__tie"] = tie[n_carry:]
            yield out

            # roll state: trailing 29-min frame of the LAST run
            last_site = c_site[-1]
            last_time_us = c_tus[-1]
            run_head_us = head_us[-1]
            keep = (seg == seg[-1]) & (c_tus >= c_tus[-1] - R_US)
            carry = comb.iloc[np.flatnonzero(keep)].reset_index(drop=True)

    return kernel


def _stat_us(v) -> int:
    """Parquet column-statistics timestamp → int64 epoch MICROseconds,
    int-exact (pd.Timestamp would overflow at the ns horizon the µs
    coercion exists to avoid)."""
    import datetime as dt

    if isinstance(v, dt.datetime):
        epoch = dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        d = v - epoch
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    return int(v)


# parquet-mr's default statistics truncation length
# (parquet.statistics.truncate.length); values at/over it in a
# variable-length stat cannot be told apart from truncated prefixes
STAT_TRUNC_LEN = 64


def _maybe_truncated(stat) -> bool:
    """True when a column-statistics min/max could be a truncated
    PREFIX of the real value (round 15, VERDICT r14 wrong #4): only
    variable-length physical types are ever truncated, and only
    values whose raw length reaches the writer's truncation length
    are at risk (pyarrow 16 exposes no ``is_min_value_exact`` flag to
    check directly). parquet-mr truncates a min to a prefix, which
    sorts at or below the real min, and a max to a prefix whose last
    byte it increments, which sorts ABOVE the real max. Either way the
    bound is no longer a site value, so the equality-based boundary
    detection (adjacent row groups' min/max compared for equality)
    could mis-place a site's head/tail row group — the caller degrades
    the file to a whole-file read instead. Numeric/temporal stats are
    never truncated and always pass."""
    if stat.physical_type not in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
        return False
    for v in (stat.min_raw, stat.max_raw):
        if isinstance(v, bytes) and len(v) >= STAT_TRUNC_LEN:
            return True
    return False


def _make_boundary_kernel(paths, all_cols, site_col, time_col):
    """Per-file kernel emitting ONLY the zone rows the stitch and the
    duplicate zone fix need: for every (site, file), rows within
    29 min of the site's in-file head or tail. Reads row-group
    statistics from the footer, decodes the row groups that hold each
    site's head/tail (plus any whose time range intersects the
    29-min windows), and filters exactly per row — O(#boundary row
    groups) decode instead of a full second pass over the sink.
    Emits ``__hs``/``__ts`` (head/tail floor-seconds per (site,
    file)) so no bounds join is needed downstream. Degrades per-file
    to a whole-file read when statistics are missing OR possibly
    writer-truncated (round 15, VERDICT r14 wrong #4: parquet writers
    commonly truncate BYTE_ARRAY min/max at 64 bytes — parquet-mr's
    ``parquet.statistics.truncate.length`` default — and pyarrow 16
    exposes no ``is_{min,max}_value_exact`` flag, so a string site
    stat whose length reaches 64 bytes cannot be distinguished from a
    truncated one and the file degrades; numeric/temporal stats are
    never truncated). The per-row filter keeps the emitted set EXACTLY
    the set the full-scan shape selects (same floor-second arithmetic
    as Spark's ``cast(time as long)``; corpus timestamps are post-1970
    so floor == Spark's truncation)."""
    R_S = DUP_WINDOW_SECS

    def kernel(id_batches):
        for id_pdf in id_batches:
            for fid in id_pdf["id"].tolist():
                out = _one(int(fid))
                if out is not None and len(out):
                    yield out

    def _one(fid):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = paths[fid]
        pf = pq.ParquetFile(_local_path(path), coerce_int96_timestamp_unit="us")
        md = pf.metadata
        nrg = md.num_row_groups
        if nrg == 0 or md.num_rows == 0:
            return None
        names = [md.schema.column(i).path for i in range(md.num_columns)]
        try:
            si, ti = names.index(site_col), names.index(time_col)
        except ValueError:
            si = -1
        stats = []
        if si >= 0:
            for g in range(nrg):
                rg = md.row_group(g)
                cs = rg.column(si).statistics
                ct = rg.column(ti).statistics
                if (
                    cs is None or ct is None
                    or not cs.has_min_max or not ct.has_min_max
                    or _maybe_truncated(cs)
                ):
                    stats = None
                    break
                stats.append(
                    (cs.min, cs.max, _stat_us(ct.min), _stat_us(ct.max))
                )
        else:
            stats = None

        if stats is None:
            groups = list(range(nrg))  # degrade: whole file, still exact
        else:
            smin = [s[0] for s in stats]
            smax = [s[1] for s in stats]
            # a row group holds some site's in-file HEAD row iff it is
            # the file's first, follows a different site, or spans >1
            # site (then it holds every interior site's head); TAIL
            # symmetric. Contract 1 makes each site contiguous in-file.
            bset = set()
            for g in range(nrg):
                if g == 0 or smax[g - 1] != smin[g] or smin[g] != smax[g]:
                    bset.add(g)
                if g == nrg - 1 or smin[g + 1] != smax[g] or smin[g] != smax[g]:
                    bset.add(g)
            groups = sorted(bset)
        tbl = pf.read_row_groups(groups, columns=list(all_cols))
        pdf = tbl.to_pandas()
        site = pdf[site_col].to_numpy()
        tus = _tus(pdf[time_col])

        # exact per-site head/tail: the true head/tail rows are in the
        # boundary row groups by construction
        s_ser = pd.Series(tus)
        grp = s_ser.groupby(pd.Series(site), sort=False)
        h_us = grp.min()
        t_us = grp.max()

        if stats is not None and len(groups) < nrg:
            # extra row groups whose time range can intersect a zone
            # window (±1 s slack over the floor-second predicate);
            # multi-site row groups are already boundary row groups,
            # so extras are single-site — the site test is exact
            have = set(groups)
            extras = []
            for g in range(nrg):
                if g in have:
                    continue
                lo = stats[g][2] // 1_000_000 - 1
                hi = stats[g][3] // 1_000_000 + 1
                for s, hv in h_us.items():
                    if not (smin[g] <= s <= smax[g]):
                        continue
                    hs = hv // 1_000_000
                    ts = t_us[s] // 1_000_000
                    if (lo <= hs + R_S and hi >= hs) or (
                        lo <= ts and hi >= ts - R_S
                    ):
                        extras.append(g)
                        break
            if extras:
                t2 = pf.read_row_groups(sorted(extras), columns=list(all_cols))
                pdf = pa.concat_tables([tbl, t2]).to_pandas()
                site = pdf[site_col].to_numpy()
                tus = _tus(pdf[time_col])

        # layout contract: site keys must be non-null (ADVICE r14 —
        # groupby(dropna=True) silently drops a null site from h_us
        # and the .map() below would then raise an opaque NaN cast
        # error; the r13 full-scan shape silently excluded null-site
        # rows from the zone fix instead. Out-of-contract either way:
        # refuse loudly, naming the file and the cause.)
        if pd.isna(site).any():
            raise ValueError(
                f"scan_local layout violation in {path}: null "
                f"{site_col} values — the layout contract requires "
                "non-null site keys"
            )
        # exact zone predicate, floor-second arithmetic == Spark's
        # cast(time as long) used by the full-scan shape
        hs_map = (h_us // 1_000_000).to_dict()
        ts_map = (t_us // 1_000_000).to_dict()
        hs_row = pd.Series(site).map(hs_map).to_numpy(dtype=np.int64)
        ts_row = pd.Series(site).map(ts_map).to_numpy(dtype=np.int64)
        row_s = tus // 1_000_000
        keep = (row_s <= hs_row + R_S) | (row_s >= ts_row - R_S)
        out = pdf.iloc[np.flatnonzero(keep)].copy()
        out["__fp"] = np.int64(fid)
        out["__hs"] = hs_row[keep]
        out["__ts"] = ts_row[keep]
        return out

    return kernel


def scan_local_raw_flags(
    spark: SparkSession,
    path: str,
    payload_cols,
    site_col: str = "site_no",
    time_col: str = "time",
    count_col: str = "count",
    batch_rows: int = 131072,
    validate: bool = True,
) -> DataFrame:
    """Raw columns + ``prev_count`` + ``is_duplicate`` over a
    layout-contracted parquet dataset at ``path`` — row-for-row what
    the window shapes in domain/levels.py compute, with zero wide
    shuffles (see module docstring)."""
    from pyspark.sql import types as T

    src = spark.read.parquet(path)
    files = sorted(src.inputFiles())
    if not files:
        raise ValueError(f"scan_local: no parquet files under {path}")
    n_files = len(files)
    all_cols = [f.name for f in src.schema.fields]
    missing = [c for c in (site_col, time_col, count_col, *payload_cols)
               if c not in all_cols]
    if missing:
        raise ValueError(f"scan_local: columns {missing} absent from {path}")

    out_schema = T.StructType(
        list(src.schema.fields)
        + [
            T.StructField("prev_count", T.LongType()),
            T.StructField("is_duplicate", T.BooleanType()),
            T.StructField("__fp", T.LongType()),
            T.StructField("__head", T.BooleanType()),
            T.StructField("__zone", T.BooleanType()),
            T.StructField("__tie", T.IntegerType()),
        ]
    )
    kernel = _make_kernel(
        files, all_cols, list(payload_cols), site_col, time_col, count_col,
        batch_rows,
    )
    ids = spark.range(0, n_files, 1, numPartitions=n_files)
    main = ids.mapInPandas(kernel, schema=out_schema)

    use_bk = (
        bool(SCANLOCAL_BOUNDARY_KERNEL)
        if SCANLOCAL_BOUNDARY_KERNEL is not None
        else True
    )
    secs = F.col(time_col).cast("long")

    def _persist(df):
        try:  # lazy import: plans imports operators at package load
            from ..plans.registry import scoped_persist

            return scoped_persist(df)
        except Exception:  # pragma: no cover - registry unavailable
            return df.persist()

    if use_bk:
        # --- boundary kernel (round 14): the stitch aggregate AND the
        # zone rows come from one row-group-pruned per-file pass; no
        # second full-width decode, no third slim scan
        # (LEVEL1_ZONERG_AB.json). The head/tail rows of every (site,
        # file) are zone rows by construction, so the aggregate
        # derived from zone rows is exactly the full-scan aggregate.
        zschema = T.StructType(
            list(src.schema.fields)
            + [
                T.StructField("__fp", T.LongType()),
                T.StructField("__hs", T.LongType()),
                T.StructField("__ts", T.LongType()),
            ]
        )
        bkernel = _make_boundary_kernel(files, all_cols, site_col, time_col)
        zrows = _persist(ids.mapInPandas(bkernel, schema=zschema))
        agg = zrows.groupBy(site_col, "__fp").agg(
            F.min(time_col).alias("__head_t"),
            F.max(time_col).alias("__tail_t"),
            F.max_by(count_col, secs).alias("__tail_count"),
        )
    else:
        # --- round-13 full-scan shape, kept for interleaved A/B ------
        pmap = F.broadcast(
            spark.createDataFrame(
                [(i, _local_path(p)) for i, p in enumerate(files)],
                "`__fp` long, `__fpath` string",
            )
        )
        slim = src.select(
            site_col, time_col, count_col, _fpath_col().alias("__fpath")
        )
        agg = _persist(
            slim.groupBy(site_col, "__fpath")
            .agg(
                F.min(time_col).alias("__head_t"),
                F.max(time_col).alias("__tail_t"),
                F.max_by(count_col, secs).alias("__tail_count"),
            )
            .join(pmap, "__fpath", "left")
        )
    w_site = Window.partitionBy(site_col).orderBy("__head_t")
    patch = agg.select(
        site_col,
        "__fp",
        "__head_t",
        "__tail_t",
        F.lag("__tail_count").over(w_site).alias("__prev_tail_count"),
        F.lag("__tail_t").over(w_site).alias("__prev_tail_t"),
    )
    if validate:
        # contract 2+3: per-site file ranges strictly disjoint (ties
        # straddling files would make the zone fix nondeterministic
        # against the single-window shape — refuse, don't guess);
        # plus, full-scan shape only, path-canonicalization coverage:
        # every scanned file must resolve to a kernel file index or
        # the stitch is silently incomplete (the exact bug class
        # _fpath_col guards; the boundary kernel indexes files
        # directly, so there the mismatch is structurally impossible)
        bad = patch.where(F.col("__prev_tail_t") >= F.col("__head_t")).count()
        unmapped = (
            0 if use_bk else agg.where(F.col("__fp").isNull()).count()
        )
        if unmapped:
            raise ValueError(
                f"scan_local: {unmapped} (site, file) groups under {path} "
                "could not be mapped back to a scanned file — path "
                "canonicalization mismatch between _metadata.file_path "
                "and inputFiles()"
            )
        if bad:
            raise ValueError(
                f"scan_local layout violation under {path}: {bad} "
                f"(site, file) ranges overlap or tie their predecessor"
            )

    stitched = (
        main.join(
            F.broadcast(patch.select(site_col, "__fp", "__prev_tail_count")),
            [site_col, "__fp"],
            "left",
        )
        .withColumn(
            "prev_count",
            F.when(F.col("__head"), F.col("__prev_tail_count")).otherwise(
                F.col("prev_count")
            ),
        )
        .drop("__prev_tail_count")
    )

    # --- duplicate zone fix (exact, small) ---------------------------
    # Head zone of (site, file) f: t <= head_t(f) + R — the only rows
    # whose 29-min lookback can leave the file. Their matchers in an
    # earlier file g satisfy r.t >= u.t - R >= head_t(f) - R >=
    # tail_t(g) - R (disjoint tiling) — i.e. they sit in g's tail
    # zone. So S = head ∪ tail zones contains every head-zone row AND
    # every row its lookback can reach; the exact duplicate window
    # restricted to S therefore reproduces the full-series verdict
    # for every head-zone row (its true nearest same-payload
    # predecessor, when within R, is in S; any same-payload row
    # between that predecessor and the row is within R too, hence
    # also in S).
    R = DUP_WINDOW_SECS
    if use_bk:
        # kernel zone rows already carry per-row __hs/__ts and are
        # exactly the set the full-scan join-and-filter below selects
        # (per-row keep filter in _make_boundary_kernel)
        zones = zrows
    else:
        bounds = F.broadcast(
            agg.select(
                site_col, "__fpath",
                F.col("__head_t").cast("long").alias("__hs"),
                F.col("__tail_t").cast("long").alias("__ts"),
            )
        )
        zones = (
            src.select(*all_cols, _fpath_col().alias("__fpath"))
            .join(bounds, [site_col, "__fpath"])
            .where((secs <= F.col("__hs") + R) | (secs >= F.col("__ts") - R))
        )
    pay = F.struct(*[F.col(c) for c in payload_cols])
    dupw = Window.partitionBy(
        F.xxhash64(site_col, *payload_cols), site_col
    ).orderBy(pay, time_col)
    prev_pay = F.lag(pay).over(dupw)
    fix = (
        zones.withColumn(
            "__pt", F.when(prev_pay.eqNullSafe(pay), F.lag(time_col).over(dupw))
        )
        .withColumn(
            "__zdup",
            F.col("__pt").isNotNull()
            & (F.col("__pt") >= F.col(time_col) - F.expr("INTERVAL 29 MINUTE")),
        )
        .where(secs <= F.col("__hs") + R)  # verdicts used for head zone only
        .groupBy(site_col, time_col, pay.alias("__pay"))
        .agg(
            F.count(F.lit(1)).alias("__k"),
            F.sum(F.col("__zdup").cast("int")).alias("__ndup"),
        )
    )
    m_pay = F.struct(*[stitched[c] for c in payload_cols])
    joined = stitched.join(
        F.broadcast(fix),
        (stitched[site_col] == fix[site_col])
        & (stitched[time_col] == fix[time_col])
        & m_pay.eqNullSafe(fix["__pay"]),
        "left",
    )
    out = joined.select(
        *[stitched[c] for c in all_cols],
        stitched["prev_count"],
        F.when(
            stitched["__zone"],
            F.coalesce(
                F.col("__tie") >= (F.col("__k") - F.col("__ndup")), F.lit(False)
            ),
        )
        .otherwise(stitched["is_duplicate"])
        .alias("is_duplicate"),
    )
    return out
