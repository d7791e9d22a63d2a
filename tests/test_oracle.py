"""Replicates the driver's correctness gate locally and STRICTLY:
every queries()[name] at sf0.01 must match oracle_sql()[name] run by DuckDB
on the same parquet — row count, column names, and the exact order-insensitive
multiset of canonicalized values.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb
import pytest

from tests.conftest import SF_ORACLE, collect_then_uncache

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # exact: float equality across engines is part of the contract
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _spark_rows(df):
    cols = sorted(df.columns)
    rows = collect_then_uncache(df)
    return cols, sorted(
        tuple(_canon(r[c]) for c in cols) for r in rows
    )


def _duck_rows(con, sql):
    res = con.sql(sql)
    cols = res.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = res.fetchall()
    return sorted(cols), sorted(
        tuple(_canon(row[i]) for i in order) for row in data
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for tb in TABLES:
        con.sql(
            f"CREATE VIEW {tb} AS SELECT * FROM '{SF_ORACLE}/{tb}.parquet'"
        )
    yield con
    con.close()


def _pairs():
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    return q, o


def test_all_queries_have_callables():
    q, o = _pairs()
    assert len(q) >= 30
    missing_oracle = [k for k in q if k not in o]
    # only the explicitly approximate/streaming/iterative/codec ops may
    # lack an oracle (tokenizer_*: iterative trainers gated by
    # tests/test_bpe.py + tests/test_unigram.py reference
    # implementations; text_compressibility: no SQL engine replays
    # DEFLATE — gated by the zlib replay in tests/test_corpusml.py;
    # pipe_pack_ffd: the first-fit scan is not one SQL query — gated by
    # the FFD reference replay in tests/test_corpus.py)
    assert all(
        k.startswith(("agg_approx", "stream_", "gen_", "scan_pages",
                      "resume_", "tokenizer_"))
        or k in ("text_compressibility", "pipe_pack_ffd")
        for k in missing_oracle
    ), missing_oracle


def _q_ids():
    q, o = _pairs()
    return sorted(k for k in q if k in o)


# Entries allowed to produce an empty result at SF_ORACLE. Empty==empty
# carries ZERO verification signal (any empty-returning implementation
# passes the hash), so membership here must be justified in a comment.
# That class bit twice — sim_ann_search r03 and join_anti r01/r02/r04 —
# before this floor landed (r04 VERDICT "What's wrong" #1).
_EMPTY_OK: set[str] = set()


@pytest.mark.parametrize("name", _q_ids())
def test_query_matches_oracle(spark, duck, name):
    q, o = _pairs()
    scols, srows = _spark_rows(q[name](spark, SF_ORACLE))
    dcols, drows = _duck_rows(duck, o[name])
    assert scols == dcols, f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} != {len(drows)}"
    if name not in _EMPTY_OK:
        assert len(srows) > 0, (
            f"{name}: empty result — empty==empty is a zero-signal PASS; "
            "make the query produce survivors or add it to _EMPTY_OK with "
            "a written justification"
        )
    if srows != drows:
        diff_a = [r for r in srows if r not in drows][:3]
        diff_b = [r for r in drows if r not in srows][:3]
        raise AssertionError(
            f"{name}: value mismatch\n spark-only: {diff_a}\n duck-only: {diff_b}"
        )


# DuckDB widens sum() over integers to HUGEINT (and over decimals to a
# wider DECIMAL) where Spark keeps BIGINT, and the correctness gate
# compares the values as each client returns them: a widened oracle column
# fails a correct Spark answer. Every integer sum in an oracle carries an
# outer CAST(... AS BIGINT); a cast inside the sum does not narrow it.
_WIDE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def test_oracle_result_types_not_widened(duck):
    _, o = _pairs()
    wide = {}
    for name, sql in sorted(o.items()):
        res = duck.sql(sql)
        cols = [
            f"{c} {t}" for c, t in zip(res.columns, res.types)
            if str(t).startswith(_WIDE_TYPES)
        ]
        if cols:
            wide[name] = cols
    assert not wide, f"oracle columns widened by DuckDB: {wide}"


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "extracted_text" in df.columns
