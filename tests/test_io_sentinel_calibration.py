"""The io-sentinel calibration walker (tools/io_sentinel_calibration.py)
collects every {pre, post} bracket pair in an artifact. Pure Python:
no Spark session."""

from __future__ import annotations

from tools.io_sentinel_calibration import _walk


def test_container_under_the_other_key_of_a_pair_is_walked():
    # "pre" is a sample, "post" is a container holding its own pair:
    # both pairs must be found
    got = list(_walk({"pre": 5.0, "post": {"pre": 1.0, "post": 2.0}}))
    assert sorted(got, key=str) == [("", 5.0, None), ("post", 1.0, 2.0)]


def test_named_sentinel_keys_and_non_numeric_values():
    doc = {
        "x100": {"io_sentinel_pre_sec": 4.5, "io_sentinel_post_sec": 6.0},
        "flags": {"pre": True, "post": "n/a"},  # neither is a sample
    }
    assert sorted(_walk(doc), key=str) == [("x100", 4.5, 6.0)]
