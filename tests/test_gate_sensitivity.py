"""Mutation tests for the correctness gate itself: a gate that cannot
FAIL a wrong answer proves nothing, so feed `compare` deliberately
broken Spark results against correct oracles and assert each mutation
class is caught — wrong values, dropped rows, extra rows, renamed
columns, dtype drift, and a 6th-decimal float perturbation (the
smallest error the rounding contract is supposed to surface).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECTNESS
from tests.oracle_harness import compare, duck_connection
from tripgogo_vector_search_spark.sources.tables import load_table

SQL = ("SELECT n_nationkey, n_name FROM nation")


def _nation(spark):
    return load_table(spark, SF_CORRECTNESS, "nation").select(
        "n_nationkey", "n_name")


def _duck():
    return duck_connection(SF_CORRECTNESS)


def test_gate_passes_correct_result(spark):
    con = _duck()
    try:
        ok, msg = compare(_nation(spark), con, SQL)
        assert ok, msg
    finally:
        con.close()


def test_gate_catches_wrong_value(spark):
    df = _nation(spark).withColumn(
        "n_name", F.when(F.col("n_nationkey") == 0, F.lit("WRONG"))
        .otherwise(F.col("n_name")))
    con = _duck()
    try:
        ok, _ = compare(df, con, SQL)
        assert not ok
    finally:
        con.close()


def test_gate_catches_dropped_and_extra_rows(spark):
    con = _duck()
    try:
        ok, _ = compare(_nation(spark).filter(F.col("n_nationkey") > 0),
                        con, SQL)
        assert not ok
        extra = _nation(spark).unionByName(
            _nation(spark).limit(1))
        ok, _ = compare(extra, con, SQL)
        assert not ok
    finally:
        con.close()


def test_gate_catches_renamed_column(spark):
    con = _duck()
    try:
        ok, _ = compare(
            _nation(spark).withColumnRenamed("n_name", "name"), con, SQL)
        assert not ok
    finally:
        con.close()


def test_gate_catches_dtype_drift(spark):
    df = _nation(spark).withColumn(
        "n_nationkey", F.col("n_nationkey").cast("double"))
    con = _duck()
    try:
        ok, msg = compare(df, con, SQL)
        # float64 vs int64 must fail the kind check, not silently
        # coerce — the driver hashes raw bytes
        assert not ok
        assert "dtype" in msg.lower()
    finally:
        con.close()


def test_gate_catches_sixth_decimal_float_error(spark):
    sql = ("SELECT l_orderkey, l_linenumber, "
           "round(l_extendedprice * (1 - l_discount), 6) AS rev "
           "FROM lineitem WHERE l_orderkey < 100")
    li = (load_table(spark, SF_CORRECTNESS, "lineitem")
          .filter(F.col("l_orderkey") < 100))
    good = li.select("l_orderkey", "l_linenumber",
                     F.round(F.col("l_extendedprice")
                             * (1 - F.col("l_discount")), 6).alias("rev"))
    bad = li.select("l_orderkey", "l_linenumber",
                    (F.round(F.col("l_extendedprice")
                             * (1 - F.col("l_discount")), 6)
                     + F.lit(1e-6)).alias("rev"))
    con = _duck()
    try:
        ok, msg = compare(good, con, sql)
        assert ok, msg
        ok, _ = compare(bad, con, sql)
        assert not ok
    finally:
        con.close()


def test_gate_catches_negative_zero(spark):
    """The r3 ann_knn_join red row: DuckDB round(-1e-17, 6) keeps IEEE
    -0.0, Spark's BigDecimal round emits +0.0, Python's == can't see it
    but the driver's hash can. The gate must fail the raw (-0.0 vs
    +0.0) pair and pass once the oracle is sign-normalized."""
    df = (load_table(spark, SF_CORRECTNESS, "nation")
          .select("n_nationkey",
                  F.round(F.lit(-1e-17), 6).alias("z")))
    con = _duck()
    try:
        ok, msg = compare(
            df, con, "SELECT n_nationkey, round(-1e-17, 6) AS z "
                     "FROM nation")
        assert not ok
        assert "-0.0" in msg
        ok, msg = compare(
            df, con, "SELECT n_nationkey, (round(-1e-17, 6) + 0.0) AS z "
                     "FROM nation")
        assert ok, msg
    finally:
        con.close()


def test_normalize_round_sign_rewrites_all_rounds():
    from tripgogo_vector_search_spark.plans.oracle_helpers import (
        normalize_round_sign)
    # nested rounds, quoted parens, and a word-boundary non-match
    sql = ("SELECT round(round(x, 6) / round(y), 2) AS a, "
           "around(z) AS b, regexp_matches(s, 'round(') AS c FROM t")
    out = normalize_round_sign(sql)
    assert out == (
        "SELECT (round((round(x, 6) + 0.0) / (round(y) + 0.0), 2) + 0.0)"
        " AS a, around(z) AS b, regexp_matches(s, 'round(') AS c FROM t")


def test_normalize_round_sign_skips_quoted_literals():
    """The SEARCH for round( is quote-aware, not just the paren scan:
    a round( inside a single-quoted literal must be left byte-for-byte
    intact (not wrapped in place), and an unbalanced-paren literal must
    not abort normalization of genuine rounds later in the string."""
    from tripgogo_vector_search_spark.plans.oracle_helpers import (
        normalize_round_sign)
    # balanced round(x) inside a literal: literal untouched, later
    # genuine round still wrapped
    sql = "SELECT regexp_matches(s, 'round(x)') AS a, round(y, 2) AS b"
    assert normalize_round_sign(sql) == (
        "SELECT regexp_matches(s, 'round(x)') AS a, "
        "(round(y, 2) + 0.0) AS b")
    # unbalanced-paren literal BEFORE a genuine round: the genuine one
    # must still be wrapped (the old scanner aborted the remainder)
    sql2 = "SELECT 'round(' AS tag, round(y) AS b"
    assert normalize_round_sign(sql2) == (
        "SELECT 'round(' AS tag, (round(y) + 0.0) AS b")


def test_normalize_round_sign_random_layouts():
    """Constructive property check: random interleavings of quoted
    literals (apostrophes, round( inside, unbalanced parens), line
    comments with prose apostrophes, plain SQL, and simple round()
    calls. The expected output is computable by construction: literals
    and comments byte-identical, every genuine call wrapped. The
    rewriter has bitten twice (r3 -0.0, r5 quote-blind search) — this
    pins the whole input space the registry actually uses."""
    import random

    from tripgogo_vector_search_spark.plans.oracle_helpers import (
        normalize_round_sign)

    lits = ["'round(x)'", "'round('", "'it''s'", "'a -- b'", "'plain'"]
    comments = ["-- the Spark side's cap\n", "-- don't round( here\n",
                "-- ok\n"]
    plains = ["SELECT a, b ", "FROM t WHERE x > 0 ", " + 1 ", ", "]
    calls = ["round(x, 6)", "round(y)", "round(a + b, 2)"]
    rng = random.Random(99)
    for _ in range(200):
        src_parts, want_parts = [], []
        for _ in range(rng.randint(1, 12)):
            kind = rng.choice(["lit", "comment", "plain", "call"])
            if kind == "lit":
                t = rng.choice(lits)
                src_parts.append(t)
                want_parts.append(t)
            elif kind == "comment":
                t = rng.choice(comments)
                src_parts.append(t)
                want_parts.append(t)
            elif kind == "plain":
                t = rng.choice(plains)
                src_parts.append(t)
                want_parts.append(t)
            else:
                t = rng.choice(calls)
                src_parts.append(t)
                want_parts.append(f"({t} + 0.0)")
            # separate tokens so a literal never touches a comment dash
            src_parts.append(" ")
            want_parts.append(" ")
        src = "".join(src_parts)
        assert normalize_round_sign(src) == "".join(want_parts), src


def test_registered_oracles_are_sign_normalized():
    """Every registered oracle's round() calls carry the + 0.0 sign
    normalizer (a bare `round(...)` followed by anything but the
    wrapper means a raw registration slipped past the decorator)."""
    import re

    from tripgogo_vector_search_spark.plans.registry import ORACLES
    unwrapped = re.compile(r"(?<!\()(?<![A-Za-z0-9_])round\s*\(",
                           re.IGNORECASE)
    for name, sql in ORACLES.items():
        bad = [m.start() for m in unwrapped.finditer(sql)]
        assert not bad, f"{name}: raw round( at offsets {bad}"


def test_plan_gate_is_width_independent_and_still_catches_changes(spark):
    """The plan-drift gate (tests/test_plan_manifest.py) must not
    depend on the host's core count, yet must still fail a real plan
    change. widen() targets the configured shuffle width — pinned at
    8 by both the manifest tool and the test session — never the
    executor core count, so the widened key's plan and fingerprint
    equal the manifest's at any SPARK_GRAFT_CPUS; the same key built
    at another width is a different plan, and its fingerprint leaves
    the manifest."""
    from tools.plan_manifest import fingerprint_one, load_manifest, plan_text
    from tripgogo_vector_search_spark.partitioning import shuffle_width

    key, conf = "corpus_filter", "spark.sql.shuffle.partitions"
    want = load_manifest()[key]
    width = shuffle_width(spark)
    plan = plan_text(spark, key)
    assert f"Repartition {width}, true" in plan
    assert fingerprint_one(spark, key, plan=plan) == want
    spark.conf.set(conf, str(width + 3))
    try:
        changed = plan_text(spark, key)
    finally:
        spark.conf.set(conf, str(width))
    assert f"Repartition {width + 3}, true" in changed
    assert fingerprint_one(spark, key, plan=changed) != want
