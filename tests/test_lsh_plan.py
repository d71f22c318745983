"""``lsh_parameter_plan`` evaluates its S-curve at the target Jaccard and
at ±0.1 around it. Its DuckDB oracle writes ``t - 0.1`` as a DECIMAL
literal expression, which DuckDB evaluates exactly and casts to DOUBLE
once; the engine must feed the S-curve the same doubles."""

import struct

import duckdb
import pytest

from polyfuzz_spark.operators.blocking import lsh_flanks

TARGETS = [round(0.15 + 0.05 * i, 2) for i in range(15)]  # 0.15 … 0.85


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


@pytest.mark.parametrize("t", TARGETS)
def test_flank_points_equal_the_oracle_decimals(t):
    con = duckdb.connect()
    below, above = con.execute(
        f"SELECT CAST({t} - 0.1 AS DOUBLE), CAST({t} + 0.1 AS DOUBLE)"
    ).fetchone()
    got = lsh_flanks(t)
    assert (_bits(got[0]), _bits(got[1])) == (_bits(below), _bits(above))


def test_double_subtraction_misses_the_oracle_at_0_8():
    """Why the flanks are exact decimals: in double, 0.8 - 0.1 is
    0.7000000000000001, not DuckDB's 0.7."""
    assert 0.8 - 0.1 != 0.7
    assert lsh_flanks(0.8) == (0.7, 0.9)
