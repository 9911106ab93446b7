"""The subset of raw rows level1 drops (first row per site + 29-min
exact duplicates, domain/levels.py raw_to_level1) must be exactly
what a brute-force reading of the reference rule drops: a row goes
iff an identical-payload row of the same site exists in
[t-29 min, t) — duplicates of duplicates included — or it is the
site's first reading. Checked on the domain corpus under both the
small-scale two-window shape and the at-scale shape (bucketed lag +
hash window).
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

import pytest

from cosmoz_data_pipeline_spark.domain import levels
from cosmoz_data_pipeline_spark.domain.synth import load_domain


@pytest.fixture()
def dup_flags():
    shipped = (levels.LEVEL1_SEQ_BUCKETED, levels.LEVEL1_DUPW_HASH)

    def _set(seq, dupw):
        levels.LEVEL1_SEQ_BUCKETED = seq
        levels.LEVEL1_DUPW_HASH = dupw

    yield _set
    levels.LEVEL1_SEQ_BUCKETED, levels.LEVEL1_DUPW_HASH = shipped


def _kept_reference(raw_rows):
    """(site, time, *LEVEL1_FIELDS) multiset the rule keeps."""
    window = dt.timedelta(minutes=29)
    first_time = {}
    for r in raw_rows:
        s = r["site_no"]
        if s not in first_time or r["time"] < first_time[s]:
            first_time[s] = r["time"]
    by_payload = defaultdict(list)
    for r in raw_rows:
        key = (r["site_no"],) + tuple(r[c] for c in levels.RAW_PAYLOAD)
        by_payload[key].append(r["time"])
    kept = []
    for key, times in by_payload.items():
        times.sort()
        site = key[0]
        payload = dict(zip(levels.RAW_PAYLOAD, key[1:]))
        for i, t in enumerate(times):
            if i > 0 and times[i - 1] >= t - window:
                continue  # duplicate of an identical row <=29 min earlier
            if t == first_time[site]:
                continue  # no prev_count: the site's first reading
            kept.append(
                (site, t) + tuple(payload[c] for c in levels.LEVEL1_FIELDS)
            )
    return sorted(kept, key=_null_key)


def _null_key(t):
    return tuple((x is None, x) for x in t)


def test_level1_dup_subset_identity_on_domain_corpus(spark, sf_dir, dup_flags):
    raw = load_domain(spark, sf_dir)["raw_values"]
    raw_rows = raw.collect()
    # the first-row rule is only unambiguous without tied first times
    firsts = defaultdict(list)
    for r in raw_rows:
        firsts[r["site_no"]].append(r["time"])
    assert all(sorted(ts)[:2].count(min(ts)) == 1 for ts in firsts.values())
    want = _kept_reference(raw_rows)
    assert want
    # the corpus does exercise the duplicate rule
    assert len(want) < len(raw_rows) - len(firsts)
    cols = ["site_no", "time", *levels.LEVEL1_FIELDS]
    for seq, dupw in ((False, False), (True, True)):
        dup_flags(seq, dupw)
        got = sorted(
            (tuple(r) for r in levels.raw_to_level1(raw).select(*cols).collect()),
            key=_null_key,
        )
        assert got == want, (seq, dupw)
