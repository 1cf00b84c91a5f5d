"""Parity for the TPC-H shapes registered in round 7 (q2 / q8 / q9 /
q11 / q12 / q19 / q20 / q21 — with these, every one of the 22 TPC-H
query shapes has a registered equivalent, adapted where the driver
schema lacks partsupp / commit-receipt dates).

This file runs the same check the driver does: Spark result vs DuckDB
oracle on the same parquet, exact values, exact dtypes.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from isaac_kafka_streaming_spark.io import TABLES
from isaac_kafka_streaming_spark.queries import (
    TPCH_Q2_ORACLE_SQL,
    TPCH_Q8_ORACLE_SQL,
    TPCH_Q9_ORACLE_SQL,
    TPCH_Q11_ORACLE_SQL,
    TPCH_Q12_ORACLE_SQL,
    TPCH_Q19_ORACLE_SQL,
    TPCH_Q20_ORACLE_SQL,
    TPCH_Q21_ORACLE_SQL,
    _tpch_q2,
    _tpch_q8,
    _tpch_q9,
    _tpch_q11,
    _tpch_q12,
    _tpch_q19,
    _tpch_q20,
    _tpch_q21,
)

STAGED = {
    "tpch_q2": (_tpch_q2, TPCH_Q2_ORACLE_SQL),
    "tpch_q8": (_tpch_q8, TPCH_Q8_ORACLE_SQL),
    "tpch_q9": (_tpch_q9, TPCH_Q9_ORACLE_SQL),
    "tpch_q11": (_tpch_q11, TPCH_Q11_ORACLE_SQL),
    "tpch_q12": (_tpch_q12, TPCH_Q12_ORACLE_SQL),
    "tpch_q19": (_tpch_q19, TPCH_Q19_ORACLE_SQL),
    "tpch_q20": (_tpch_q20, TPCH_Q20_ORACLE_SQL),
    "tpch_q21": (_tpch_q21, TPCH_Q21_ORACLE_SQL),
}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", sorted(STAGED))
def test_staged_tpch_matches_oracle(spark, sf_smoke, name):
    fn, sql = STAGED[name]
    got = _normalize(fn(spark, sf_smoke).toPandas())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_smoke}/{t}.parquet'"
        )
    want = _normalize(con.execute(sql).fetchdf())
    con.close()

    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) and len(got) > 0, (
        f"{name}: {len(got)} vs {len(want)} rows"
    )
    for col in got.columns:
        g, w = got[col].dtype, want[col].dtype
        if g.kind == "M" and w.kind == "M":
            continue
        assert (g.kind, g.itemsize) == (w.kind, w.itemsize), (
            f"{name}.{col}: dtype {g} vs oracle {w}"
        )
    for col in got.columns:
        for i, (a, b) in enumerate(zip(got[col], want[col])):
            ok = (
                (a == b)
                or (isinstance(a, float) and isinstance(b, float)
                    and math.isnan(a) and math.isnan(b))
            )
            assert ok, f"{name}.{col}[{i}]: {a!r} != {b!r}"


def test_q8_share_bounded_and_q19_brackets(spark, sf_smoke):
    """Semantic invariants independent of the oracle: Q8's share is a
    fraction; Q19 returns only bracket brands."""
    q8 = _tpch_q8(spark, sf_smoke).toPandas()
    assert ((q8.mkt_share >= 0) & (q8.mkt_share <= 1)).all()
    assert set(q8.o_year) <= {1995, 1996}
    q19 = _tpch_q19(spark, sf_smoke).toPandas()
    assert set(q19.brand) <= {"Brand#12", "Brand#23", "Brand#24"}
