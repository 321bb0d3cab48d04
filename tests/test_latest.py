"""latest_per_key / pull_latest against a pandas sort-and-tail(1) oracle
on the ordering edge cases: NULL ts, created_ts deciding equal ts, a
tie-break column deciding full ties, and a NULL key."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest

from feast_spark.operators.latest import latest_per_key, pull_latest

T0, T1, T2 = (datetime(2024, 1, d) for d in (1, 2, 3))
SCHEMA = "k long, ts timestamp, created timestamp, tb string, v string"

# rows are (k, ts, created, tb, v); v names the row
CASES = {
    "null_ts": [
        (1, None, T2, "x", "n1"),  # newest created, but NULL ts ranks lowest
        (1, T0, T0, "x", "a1"),
        (2, None, T0, "x", "n2"),  # the key's only row survives
    ],
    "created_decides_equal_ts": [
        (1, T1, T0, "x", "old"),
        (1, T1, T2, "x", "new"),
        (2, T1, T2, "x", "ts_wins"),
        (2, T0, T2, "x", "older_ts"),
    ],
    "tiebreak_decides_full_tie": [
        (1, T1, T1, "a", "lo"),
        (1, T1, T1, "b", "hi"),
        (2, T1, T1, "c", "only"),
    ],
    "null_key": [
        (None, T0, T0, "x", "null_old"),
        (None, T1, T0, "x", "null_new"),
        (1, T0, T0, "x", "one"),
    ],
}


def _oracle(rows) -> set[tuple]:
    pdf = pd.DataFrame(rows, columns=["k", "ts", "created", "tb", "v"])
    last = (
        pdf.sort_values(["ts", "created", "tb"], na_position="first")
        .groupby("k", dropna=False)
        .tail(1)
    )
    return _keyed(last)


def _keyed(pdf: pd.DataFrame) -> set[tuple]:
    got = [(None if pd.isna(k) else int(k), v) for k, v in zip(pdf.k, pdf.v)]
    assert len(got) == len(set(got))
    return set(got)


@pytest.mark.parametrize("case", sorted(CASES))
def test_latest_matches_pandas_oracle(spark, case):
    rows = CASES[case]
    df = spark.createDataFrame(rows, SCHEMA)
    want = _oracle(rows)

    got = latest_per_key(df, ["k"], "ts", "created", tiebreak_cols=["tb"])
    assert got.columns == df.columns
    assert _keyed(got.toPandas()) == want

    pulled = pull_latest(
        df, ["k"], ["v"], "ts", created_ts_col="created", tiebreak_cols=["tb"]
    )
    assert pulled.columns == ["k", "v", "ts", "created"]
    assert _keyed(pulled.toPandas()) == want
