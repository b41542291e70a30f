"""Pins for the CORRECTNESS-gate registry order (VERDICT r6 #1).

The driver's CORRECTNESS gate samples the FIRST 50 registered queries,
so registration order decides which queries ever get a driver row.
rotation.py derives that order from the CORRECTNESS_r*.json artifacts:
unverified names first in import order, then verified names stalest
green round first. These tests pin the artifact parsing, the two-step
rule on synthetic artifacts, and the rule on the live registry.
"""

from __future__ import annotations

import json

import pytest

from file_scraper_spark import registry, rotation

registry._ensure_loaded()


def test_scan_artifacts_is_conservative(tmp_path):
    """Round-7 advisory (medium): anything we cannot positively read
    as a pass must keep the query IN the window — unknown row shapes
    are NOT 'assume sampled', a latest-red row un-verifies a
    previously-green query, absent rows_match is not a pass, and a
    rows-only row (hash_match null) still passes."""
    a = {
        "green_then_red": {"rows_match": True, "schema_match": True,
                           "hash_match": True, "err": None},
        "stays_green": {"rows_match": True, "schema_match": True,
                        "hash_match": True, "err": None},
        "weird_shape": "not-a-dict",
        "no_pass_marker": {"err": None},
    }
    b = {
        "green_then_red": {"rows_match": False, "schema_match": True,
                           "hash_match": False, "err": None},
        "rows_only": {"rows_match": True, "err": None},
    }
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(a))
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(b))
    st = rotation.scan_artifacts(root=str(tmp_path))
    assert st["green_then_red"] == (False, 2)  # red latest -> back in window
    assert st["stays_green"][0] is True
    assert st["weird_shape"][0] is False
    assert st["no_pass_marker"][0] is False
    assert st["rows_only"] == (True, 3)


def test_recheck_pads_are_stalest_first(tmp_path):
    """Once every query is verified, reorder() must emit the verified
    re-check pads OLDEST green row first, so a regression in any old
    query becomes driver-visible within ~3 rounds (round-7 advisory,
    high). Exercises the actual sort in reorder() on synthetic
    artifacts — the r8 advisory found the previous version of this
    test only asserted a coincidental property of the live repo
    artifacts and never called reorder() at all."""
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    # greens deliberately NON-monotone in registry import order:
    # q_mid went green most recently, q_new latest-red, q_never never
    # sampled — the pre-fix test would have passed on monotone data
    # without the sort existing.
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_a": green, "q_d": green}))
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        json.dumps({"q_mid": green}))
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"q_b": green,
                    "q_new": {"rows_match": False, "err": None}}))
    fake = {n: object() for n in
            ("q_mid", "q_a", "q_new", "q_b", "q_never", "q_d")}
    out = list(rotation.reorder(fake, root=str(tmp_path)))
    # head: unverified (latest-red + never-sampled) in import order
    assert out[:2] == ["q_new", "q_never"]
    # tail: verified pads sorted by last green round (r2, r2, r3, r5),
    # import-order stable within a round (q_a before q_d)
    assert out[2:] == ["q_a", "q_d", "q_b", "q_mid"]


def test_scan_artifacts_sorts_rounds_numerically(tmp_path):
    """Round-8 advisory: artifact recency must follow the PARSED round
    number, not lexicographic filename order — at r100+ a newer red
    row would otherwise be masked by a stale r99 green and the
    regressed query silently rotated out of the window."""
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    red = {"rows_match": False, "err": None}
    # lexicographically "r100" < "r99": the buggy sort reads r99 last
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({"q": green}))
    (tmp_path / "CORRECTNESS_r100.json").write_text(
        json.dumps({"q": red}))
    st = rotation.scan_artifacts(root=str(tmp_path))
    assert st["q"][0] is False, (
        "newest (r100) red row must win over the older r99 green"
    )


def test_live_registry_puts_unverified_before_verified():
    """On the real artifacts the registry is a permutation of every
    registered query, no verified name precedes an unverified one, and
    the verified names run stalest green round first."""
    art = rotation.scan_artifacts()
    if not art:
        pytest.skip("no CORRECTNESS_r*.json artifacts in this checkout")
    order = list(registry.REGISTRY)
    assert all(spec.name == n for n, spec in registry.REGISTRY.items())
    # the live order is the rule applied: re-deriving it changes nothing
    assert list(rotation.reorder(registry.REGISTRY)) == order
    verified = [art.get(n, (False, 0))[0] for n in order]
    assert verified == sorted(verified), "verified name ahead of unverified"
    rounds = [art[n][1] for n, v in zip(order, verified) if v]
    assert rounds == sorted(rounds)
