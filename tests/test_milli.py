"""The milli policy (``functions/milli.py``): the Spark, DuckDB and numpy
forms of each rule agree bit for bit, the count-ratio rule is exact
half-up, and no other module spells out a milli rule of its own."""

import re
from fractions import Fraction
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from polyfuzz_spark.functions.milli import (
    milli,
    milli_sql,
    ratio_milli,
    ratio_milli_sql,
    ratio_to_milli,
    threshold_milli,
    to_milli,
)

# half-milli doubles stored just above/below the half, exact binary
# halves, and the ends of the range
EDGE = [0.5005, 0.5015, 0.058499999999999996, 0.10149999999999999,
        0.0625, 0.3125, 0.2345, 0.0005, 0.0, 1.0]
ULPS = 40
RATIO_MAX_DEN = 2000


def _score_inputs() -> np.ndarray:
    """EDGE plus ±ULPS ulps around every half-milli (k + 0.5) / 1000."""
    halves = (np.arange(1000) + 0.5) / 1000
    steps = np.arange(-ULPS, ULPS + 1)
    bits = halves.view(np.int64)[:, None] + steps[None, :]
    return np.concatenate([np.array(EDGE), bits.ravel().view(np.float64)])


def test_score_rule_engines_agree(spark):
    x = _score_inputs()
    pdf = pd.DataFrame({"i": np.arange(len(x), dtype=np.int64), "x": x})
    got_spark = (
        spark.createDataFrame(pdf)
        .select("i", milli("x").alias("m"))
        .toPandas().sort_values("i")["m"].to_numpy()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    got_duck = con.execute(
        f"SELECT {milli_sql('x')} AS m FROM t ORDER BY i"
    ).df()["m"].to_numpy()
    want = to_milli(x)
    assert np.array_equal(got_spark, want)
    assert np.array_equal(got_duck, want)
    # half-up on the IEEE product x * 1000: a product landing on the half
    # goes up (0.0585 - 1 ulp → 58.5 → 59), one landing below it goes down
    assert list(to_milli(EDGE)) == [500, 501, 59, 102, 63, 313, 235, 1, 0,
                                    1000]


def test_ratio_rule_is_exact_half_up_in_every_engine(spark):
    """Every (c, u) with 0 ≤ c ≤ u ≤ RATIO_MAX_DEN. Exact half-up of
    1000c/u is the integer (2000c + u) div 2u (checked against Fraction
    below); u = 0 must give NULL."""
    exact = "(2000 * c + u) DIV (2 * u)"
    pairs = (
        spark.range(0, RATIO_MAX_DEN + 1).withColumnRenamed("id", "u")
        .crossJoin(
            spark.range(0, RATIO_MAX_DEN + 1).withColumnRenamed("id", "c")
        )
        .where(F.col("c") <= F.col("u"))
        .select("u", ratio_milli("c", "u").alias("r"),
                F.when(F.col("u") > 0, F.expr(exact)).alias("e"))
    )
    bad, nulls = pairs.agg(
        F.count(F.when(~F.col("r").eqNullSafe(F.col("e")), 1)),
        F.count(F.when(F.col("r").isNull(), 1)),
    ).first()
    assert (bad, nulls) == (0, 1)

    bad_duck, null_duck = duckdb.connect().execute(f"""
        WITH p AS (
          SELECT u, c, {ratio_milli_sql('c', 'u')} AS r
          FROM range(0, {RATIO_MAX_DEN + 1}) s(u),
               range(0, {RATIO_MAX_DEN + 1}) t(c)
          WHERE c <= u)
        SELECT count(*) FILTER (u > 0 AND r IS DISTINCT FROM
                                (2000 * c + u) // (2 * u)),
               count(*) FILTER (r IS NULL)
        FROM p""").fetchone()
    assert (bad_duck, null_duck) == (0, 1)

    u, c = np.tril_indices(RATIO_MAX_DEN + 1)
    u, c = u[1:], c[1:]  # drop u = 0: numpy has no NULL
    assert np.array_equal(ratio_to_milli(c, u), (2000 * c + u) // (2 * u))
    for uu in range(1, 301):
        for cc in range(uu + 1):
            assert (2000 * cc + uu) // (2 * uu) == int(
                Fraction(1000 * cc, uu) + Fraction(1, 2)
            )
    assert ratio_to_milli(201, 400) == 503


def test_threshold_rule():
    for t in EDGE:
        assert threshold_milli(t) == int(to_milli(t))
    assert [threshold_milli(t) for t in (0.2345, 0.0625, 0.0005)] == [
        235, 63, 1]
    # the contract-query thresholds: the old truncating conversion and
    # the rule agree on every one, so no oracle result moves
    for t in (0.3, 0.4, 0.6, 0.7, 0.8, 0.9):
        assert threshold_milli(t) == int(t * 1000)


# a hand-written milli rule outside functions/milli.py; integer floor
# fractions ("(1000 * a) div b") and centi/micro units are other quantities
_GUARDS = {
    "half-to-even round": re.compile(r"int\(round\("),
    "truncated threshold": re.compile(
        r"int\([^()\n]*\*\s*1000\)|int\(\s*1000(\.0+)?\s*\*"),
    "score rule": re.compile(
        r"\*\s*1000(\.0+)?\s*\+\s*(F\.lit\()?0\.5"
        r"|(?<![\d.])1000(\.0+)?\s*\*[^\n]*\+\s*(F\.lit\()?0\.5"),
    "two-step round": re.compile(r"round\([^\n]*,\s*3\)\s*\*\s*1000"),
}


@pytest.mark.parametrize("bad,ok", [
    ("min_milli = int(round(t * 1000))", "min_milli = threshold_milli(t)"),
    ("WHERE s >= {int(T * 1000)}", "WHERE s >= {threshold_milli(T)}"),
    ("F.floor(x * 1000 + F.lit(0.5))", "F.floor(v * 100 + F.lit(0.5))"),
    ("floor(1000 * count(*) * 1.0 / n + 0.5)", "(1000 * c) // least(a, b)"),
    ("F.floor(F.round(x, 3) * 1000)", "floor(e * 1000000 + 0.5)"),
])
def test_source_guard_patterns(bad, ok):
    assert any(p.search(bad) for p in _GUARDS.values())
    assert not any(p.search(ok) for p in _GUARDS.values())


def test_no_milli_rule_outside_the_milli_module():
    pkg = Path(__file__).resolve().parents[1] / "polyfuzz_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "functions/milli.py":
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            for name, pat in _GUARDS.items():
                if pat.search(line):
                    hits.append(f"{path.relative_to(pkg)}:{n}: {name}")
    assert not hits, "\n".join(hits)
