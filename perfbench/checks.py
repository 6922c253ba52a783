"""Correctness checkers, run outside the timed region.

Every checker takes collected pandas frames (or plain arrays) and
returns a list of problems, empty when the engine's output is right. A
broken engine must show up as failed ops, never as a faster run, so the
workloads count every op a failed check covers as failed.

Row comparisons reuse the engine's own oracle rule
(``tests/oracle_harness.py``): same columns, same row count, and every
value equal after an order-insensitive sort, floats compared exactly.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from oracle_harness import compare


class _Collected:
    """A collected frame in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, df: pd.DataFrame):
        self._df = df

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - the DataFrame method name
        return self._df


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Exact order-insensitive equality under the oracle rule."""
    return compare(_Collected(got), want)


def run_sql(sql: str, views: dict[str, str]) -> pd.DataFrame:
    """Run ``sql`` on DuckDB over parquet views {name: SELECT ... text}."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for name, select in views.items():
            con.execute(f"CREATE VIEW {name} AS {select}")
        return con.sql(sql).df()
    finally:
        con.close()


def parquet_views(data_dir: str, tables: tuple[str, ...]) -> dict[str, str]:
    return {t: f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')" for t in tables}


def distinct_events_view(paths: list[str]) -> dict[str, str]:
    """The ``events`` view over the distinct rows of the streamed batch
    files: re-sent events are exact copies, so DISTINCT drops them."""
    files = ", ".join(f"'{p}'" for p in paths)
    return {
        "events": "SELECT DISTINCT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
        f"event_type, value, props FROM read_parquet([{files}])"
    }


def exact_topk(corpus: np.ndarray, ids: np.ndarray, query: np.ndarray, k: int) -> np.ndarray:
    """Ids of the ``k`` corpus rows nearest ``query`` by cosine (ties by id)."""
    unit = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = query / np.linalg.norm(query)
    order = np.lexsort((ids, -(unit @ q)))
    return ids[order[:k]]


def recall_at_k(got_ids, want_ids) -> float:
    """Share of the exact top-k the approximate answer found."""
    want = set(int(i) for i in want_ids)
    return len(want & set(int(i) for i in got_ids)) / len(want) if want else 1.0
