"""Focused tests for the r13-continuation byte/bucket kernels.

The optimization round replaced JVM expression pipelines with per-doc
Python kernels in text_normalize / pipeline_end2end (``_norm_bytes``)
and dsir_weights (``_dsir_bucket_ids``). The registry fuzz battery
exercises both probabilistically; these tests pin the helper-level
equivalences DETERMINISTICALLY against DuckDB — the very expressions
the oracles run — on the adversarial shapes that motivated each
equivalence argument (full-vs-simple Unicode lowercase, multi-byte
strips, empty-string words, multi-space runs, NULL handling).
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from file_scraper_spark.operators.pipeline_ops import (
    DSIR_BUCKETS,
    _dsir_bucket_ids,
)
from file_scraper_spark.operators.text import _norm_bytes, _redact_batches
from file_scraper_spark.registry import REGISTRY, _ensure_loaded

#: the unicode shapes each docstring argument names: İ (the one
#: full-vs-simple lowercase divergence), KELVIN/ANGSTROM signs,
#: titlecase ǅ, ligatures, fullwidth letters, combining marks, plus
#: the ASCII whitespace/empty edge shapes.
NORM_CASES = [
    "The  Quick   Brown FOX 42!",
    "  leading and trailing  ",
    "",
    " ",
    "     ",
    "café 中文 x1 zz q lorem 7 bob@x.io",
    "İstanbul KELVIN K sign",
    "ẞ ß ﬁ Ⅰ Ⓐ Ａ",
    "a\tb\nc",
    "ÅNGSTRÖM Å",
    "ΣΊΣΥΦΟΣ",
    "İİİ",
    "ǅungla Ǆ ǆ",
    "mixed123  !!  OK?",
    "ınt dotless I ı",
    "ʼn ŉ",
    "ﬀ ﬃ ﬆ",
    "ᾨ ᾠ",
    "K K k",
    "é combining acute",
    "0123456789",
]


@pytest.mark.parametrize("text", NORM_CASES)
def test_norm_bytes_matches_duckdb_expression(text):
    con = duckdb.connect()
    norm, length, digest = con.execute(
        "SELECT trim(regexp_replace(regexp_replace(lower(?),"
        " '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS n,"
        " CAST(length(trim(regexp_replace(regexp_replace(lower(?),"
        " '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT),"
        " md5(trim(regexp_replace(regexp_replace(lower(?),"
        " '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))",
        [text, text, text],
    ).fetchone()
    nb = _norm_bytes(text)
    assert nb.decode() == norm
    assert len(nb) == length  # pure-ASCII result: bytes == chars
    assert hashlib.md5(nb).hexdigest() == digest


DSIR_CASES = [
    "the quick brown fox",
    "a  b",  # empty-string middle word pairs up on both sides
    " x",  # leading empty word
    "w  ",  # trailing empty words
    "solo",  # < 2 words: no bigrams
    "",  # single empty word: no bigrams
    "café 中文 naïve",
    "a b c d e f g h",
]


@pytest.mark.parametrize("text", DSIR_CASES)
def test_dsir_bucket_ids_match_duckdb_expression(text):
    con = duckdb.connect()
    expected = [
        r[0]
        for r in con.execute(
            f"""
            SELECT CAST(('0x' || substring(md5(w1 || ' ' || w2), 1, 10))
                        AS BIGINT) % {DSIR_BUCKETS}
            FROM (SELECT words[i] AS w1, words[i + 1] AS w2
                  FROM (SELECT string_split(?, ' ') AS words),
                       unnest(range(1, len(words))) t(i))
            """,
            [text],
        ).fetchall()
    ]
    got = _dsir_bucket_ids(text)
    assert (list(got) if got is not None else []) == expected


def test_norm_bytes_and_buckets_null_contract():
    # NULL text: the kernels emit NULL outputs / skip the doc, exactly
    # like the expression forms — the helpers see None only via the
    # kernel guards, and _dsir_bucket_ids owns its None branch.
    assert _dsir_bucket_ids(None) is None


def test_redact_kernel_matches_oracle_on_extreme_ids():
    """text_redact's kernel against DuckDB running the query's own
    oracle on NULL and extreme ids: the id digit is DuckDB's truncated
    ``doc_id % 10`` (-8 for INT64_MIN, which a numpy ``%`` round-trip
    got wrong) and a NULL id stays NULL instead of raising."""
    import pyarrow as pa

    ids = [None, -(2**63), 2**63 - 1, -17, -10, 0, 7]
    texts = ["call 555-0100 now", None, "mail a.b@c.io", "x", "", "é 12345678", "y"]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(texts, pa.string())],
        ["doc_id", "text"],
    )
    got = pa.Table.from_batches(list(_redact_batches(iter([batch]))))
    _ensure_loaded()
    con = duckdb.connect()
    con.register("documents", pa.Table.from_batches([batch]))
    want = con.execute(REGISTRY["text_redact"].oracle).fetchall()

    def key(row):
        return (row[0] is None, row[0] or 0)

    assert sorted(zip(*got.to_pydict().values()), key=key) == sorted(want, key=key)
