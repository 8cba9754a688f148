"""Executable pins for the cross-engine parity rules the oracle suite
rests on (documented in queries.py / BASELINE.md). If any of these break —
a Spark upgrade changing round semantics, a DuckDB regex flavor change —
every downstream hash gate becomes untrustworthy, so they are pinned here
as facts, not folklore."""

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

#: boundary doubles: exact ties, shortest-repr traps, negatives
BOUNDARY = [0.5, 1.5, 2.5, -0.5, -2.5, 0.49999999999999994,
            0.77031249999999994, 14.499999999999996, 0.1234565,
            -0.1234565, 123456.4999999999, 0.0, 1e-9]


@pytest.mark.parametrize("nd", [0, 2, 6])
def test_spark_round_equals_duckdb_round(spark, nd):
    # Spark F.round (BigDecimal HALF_UP on the shortest decimal repr) ==
    # DuckDB round (ties away from zero on the binary double), on every
    # boundary class we rely on — including negatives.
    df = spark.createDataFrame([(x,) for x in BOUNDARY], "x double")
    got = [r[0] for r in df.select(F.round("x", nd)).collect()]
    want = [duckdb.sql(f"SELECT round({x!r}::DOUBLE, {nd})").fetchone()[0]
            for x in BOUNDARY]
    assert got == want


def test_decimal_repr_rule_matches_spark_round(spark):
    # The Python-side twin used inside reducers/UDFs:
    # Decimal(repr(x)).quantize(HALF_UP) == Spark F.round(x) — the
    # shortest-repr rule from the fold/oracle parity notes.
    df = spark.createDataFrame([(x,) for x in BOUNDARY], "x double")
    got = [r[0] for r in df.select(F.round("x", 6)).collect()]
    want = [float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                            ROUND_HALF_UP))
            for x in BOUNDARY]
    assert got == want


def test_md5_identical_across_engines(spark):
    vals = ["", "a", "strat:123", "hello world", "0:the cat sat"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r[0] for r in df.select(F.md5("v")).collect()]
    import hashlib
    py = [hashlib.md5(v.encode()).hexdigest() for v in vals]
    duck = [duckdb.sql(f"SELECT md5({v!r})").fetchone()[0] for v in vals]
    assert got == py == duck


def test_ascii_whitespace_split_parity(spark):
    # Java \s (ASCII) == DuckDB RE2 \s (ASCII); the unicode NBSP must NOT
    # split in either engine (Python re needs the explicit ASCII class).
    s = "a b\tc\xa0d"  # tab splits, NBSP must not
    got = spark.createDataFrame([(s,)], "t string").select(
        F.split(F.col("t"), r"\s+")).first()[0]
    duck = duckdb.execute(
        "SELECT regexp_split_to_array(?, '\\s+')", [s]).fetchone()[0]
    assert got == duck == ["a", "b", "c\xa0d"]


def test_trim_strips_spaces_only(spark):
    # Both engines' trim() strips the SPACE character only — a leading tab
    # survives, producing a leading empty token after the \s+ split. This
    # is the rule text_profile's Python twin mirrors with strip(' ').
    s = "\tfoo bar\n"
    got = spark.createDataFrame([(s,)], "t string").select(
        F.trim(F.col("t"))).first()[0]
    duck = duckdb.execute("SELECT trim(?)", [s]).fetchone()[0]
    assert got == duck == "\tfoo bar\n"


def test_duckdb_re2_vertical_tab_gap():
    # Known, documented divergence: RE2's \s = [ \t\n\f\r] EXCLUDES \x0b,
    # while Java/Python-ASCII \s includes it. Oracle-gated text therefore
    # must not contain \x0b (the synthetic corpus doesn't); everything
    # else in the ASCII whitespace class agrees. Pinned so an engine
    # upgrade that closes (or widens) the gap is noticed.
    assert duckdb.execute(
        "SELECT regexp_split_to_array(?, '\\s+')",
        ["a\x0bb"]).fetchone()[0] == ["a\x0bb"]
    assert duckdb.execute(
        "SELECT regexp_split_to_array(?, '\\s+')",
        ["a\fb"]).fetchone()[0] == ["a", "b"]


def test_python_log_equals_duckdb_ln_bitwise():
    # Python's math.log and DuckDB's ln are the same glibc libm call —
    # bitwise equal on every N/df ratio the tf-idf operators produce.
    # (java.lang.Math.log is NOT: it differs by 1 ulp on some arguments,
    # which is why quality.tfidf_top_terms computes idf Python-side.)
    import math
    import struct
    for n in (500, 5000):
        duck = [r[0] for r in duckdb.sql(
            f"SELECT ln({n} * 1.0 / i) "
            f"FROM generate_series(1, {n}) t(i)").fetchall()]
        py = [math.log(n * 1.0 / i) for i in range(1, n + 1)]
        assert all(struct.pack("d", a) == struct.pack("d", b)
                   for a, b in zip(py, duck))


def test_text_profile_duckdb_parity_edge_whitespace(spark):
    # Full-profile three-way check on edge-whitespace docs: the shipped
    # mapInPandas profile == the SQL_TEXT_PROFILE oracle, row for row
    # (\x0b excluded per the RE2 gap above).
    import pandas as pd

    from photon_spark.functions import text
    from photon_spark.queries_northstar import SQL_TEXT_PROFILE
    from tests.test_northstar import EDGE_WS_DOCS

    docs = [(i, t) for i, t in enumerate(EDGE_WS_DOCS) if "\x0b" not in t]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fast = sorted(tuple(r) for r in text.text_profile(df).collect())
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    oracle = sorted(tuple(r) for r in con.execute(SQL_TEXT_PROFILE).fetchall())
    assert fast == oracle


def test_no_engine_private_types_in_any_oracle(sf_dir):
    # Round-3 postmortem (VERDICT.md): every driver-red query — and only
    # those — had a DuckDB HUGEINT column in its oracle (SUM(BIGINT)
    # promotes); the driver's hasher canonicalizes HUGEINT differently
    # from int64, so the gate diverged even with identical values. Pin:
    # every ORACLES entry's LIMIT-0 result schema contains only portable
    # types (lint_oracle_types allowlist), so the defect cannot recur.
    from tools.lint_oracle_types import bad_columns, connect

    from photon_spark import queries as q

    con = connect(sf_dir)
    offenders = {}
    for name, sql in q.ORACLES.items():
        bad = bad_columns(con, sql)
        if bad:
            offenders[name] = bad
    assert offenders == {}


def test_lint_flags_complex_typed_output_columns(sf_dir):
    # Round-5 postmortem (VERDICT.md): `user_journeys` returned a raw
    # array<string> column; the driver's canonicalizer sorts raw columns
    # with pandas and died with `unhashable type: 'list'` — a red gate
    # row for a correct answer. Pin: the lint flags ANY top-level
    # complex-typed output column (even with fully portable element
    # types), so the next array-returning query fails locally before it
    # ever reaches a driver window.
    from tools.lint_oracle_types import bad_columns, connect

    con = connect(sf_dir)
    for sql, col in [
        ("SELECT 1 AS ok, ['a', 'b'] AS seq", "seq"),          # LIST
        ("SELECT {'a': 1} AS st", "st"),                       # STRUCT
        ("SELECT map(['k'], [1]) AS m", "m"),                  # MAP
        ("SELECT list(event_id) AS ids FROM events", "ids"),   # agg list
    ]:
        bad = bad_columns(con, sql)
        assert [c for c, _ in bad] == [col], (sql, bad)
        assert "driver-unhashable" in bad[0][1]
    # scalar rendering of the same data passes
    assert bad_columns(
        con, "SELECT array_to_string(['a', 'b'], '>') AS seq") == []


#: public functions no program path calls, kept because a test compares
#: another path against them or composes them: name -> that test
REFERENCE_ONLY = {
    "embedding_near_duplicates_bruteforce":
        "tests/test_northstar.py::test_embedding_blocked_miner_equals_bruteforce",
    "dedup_exact":
        "tests/test_pipeline.py::test_training_pipeline_end_to_end",
}


def test_every_public_definition_has_a_caller():
    # A top-level public function or class in photon_spark/ that nothing
    # outside tests/ references is dead weight: delete it with its tests,
    # or name the test it serves as a reference in REFERENCE_ONLY.
    # Registry rows (q_*) are called through the QUERIES table.
    import ast
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = sorted((root / "photon_spark").rglob("*.py"))
    scope = pkg + sorted((root / "tools").rglob("*.py")) \
        + sorted((root / "perfbench").rglob("*.py")) \
        + [root / "bench.py", root / "__spark_entry__.py"]
    texts = {p: p.read_text() for p in scope}
    unused = []
    for p in pkg:
        for node in ast.parse(texts[p]).body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)) \
                    or node.name.startswith(("_", "q_")) \
                    or node.name in REFERENCE_ONLY:
                continue
            word = re.compile(rf"\b{node.name}\b")
            # the definition itself is one match in its own file
            refs = sum(len(word.findall(t)) for t in texts.values()) - 1
            if refs == 0:
                unused.append(f"{p.relative_to(root)}:{node.name}")
    assert unused == []
    for name, test in REFERENCE_ONLY.items():
        path, fn = test.split("::")
        assert f"def {fn}(" in (root / path).read_text(), name
        assert re.search(rf"\b{name}\b", (root / path).read_text()), name
