"""The benchmark's checkers must reject corrupted engine output.

A broken engine has to register as failed ops, not as a faster run.
Each test feeds a checker the right answer (which must pass) and a
corrupted one (a dropped row, a perturbed float, a double-counted
event, a wrong neighbour list), which must fail. No Spark: the checkers
work on collected frames.

Run from the repository root: ``python -m pytest perfbench -q``
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from perfbench import checks, datagen  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, count_failed  # noqa: E402


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tables"))
    datagen.write_tables(7, out)
    return out


def _oracle(name: str, data_dir: str) -> pd.DataFrame:
    from iheardai_data_pipeline_spark.plans.catalog import CATALOG, _ensure_loaded
    from perfbench.workloads import OLAP_TABLES

    _ensure_loaded()
    return checks.run_sql(CATALOG[name].oracle, checks.parquet_views(data_dir, OLAP_TABLES))


@pytest.mark.parametrize("name", ["q1_pricing_summary", "a6_journey_paths"])
def test_olap_check_rejects_dropped_row_and_perturbed_float(tables, name):
    want = _oracle(name, tables)
    assert len(want) > 1
    assert checks.same_rows(want.copy(), want) == []
    assert checks.same_rows(want.iloc[1:].reset_index(drop=True), want)
    perturbed = want.copy()
    col = next(c for c in want.columns if want[c].dtype.kind == "f")
    perturbed.loc[0, col] = np.nextafter(perturbed.loc[0, col], np.inf)
    assert checks.same_rows(perturbed, want)
    # equal values, but an int column read back as float fails the rule
    ints = [c for c in want.columns if want[c].dtype.kind == "i"]
    assert ints and checks.same_rows(want.astype({ints[0]: "float64"}), want)


def test_kpi_check_rejects_a_double_counted_resend(tmp_path):
    from iheardai_data_pipeline_spark.operators.sessionize import SESSION_KPIS_ORACLE

    batches = [p for p, _rows in datagen.event_batches(7, str(tmp_path), 6)]
    want = checks.run_sql(SESSION_KPIS_ORACLE, checks.distinct_events_view(batches))
    files = ", ".join(f"'{p}'" for p in batches)
    # a fold that kept every re-sent copy of an event
    kept_resends = {
        "events": f"SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props "
        f"FROM read_parquet([{files}])"
    }
    got = checks.run_sql(SESSION_KPIS_ORACLE, kept_resends)
    assert checks.same_rows(want.copy(), want) == []
    assert checks.same_rows(got, want)


def test_event_batches_resend_and_cross_batch_boundaries(tmp_path):
    batches = datagen.event_batches(7, str(tmp_path), 6)
    frames = [pd.read_parquet(p) for p, _rows in batches]
    ids = pd.concat([f["event_id"] for f in frames])
    assert ids.duplicated().any(), "some events are re-sent"
    max_ts = [f["ts"].max() for f in frames]
    assert any(f["ts"].min() < prev for f, prev in zip(frames[1:], max_ts)), "ts crosses batch boundaries"
    assert [len(f) for f in frames] == [rows for _p, rows in batches]


def test_bm25_check_rejects_a_dropped_hit_and_a_perturbed_score():
    want = pd.DataFrame(
        {"query_id": [0, 0, 1], "doc_id": [3, 9, 4], "rank": [1, 2, 1], "score": [2.5, 1.25, 0.75]}
    )
    assert checks.same_rows(want.sample(frac=1, random_state=0), want) == []
    assert checks.same_rows(want.iloc[:2], want)
    perturbed = want.copy()
    perturbed.loc[1, "score"] = 1.2500001
    assert checks.same_rows(perturbed, want)


def test_recall_rejects_wrong_neighbours():
    from perfbench.workloads import ANN_RECALL_FLOOR

    rng = np.random.default_rng(0)
    vecs, _ = datagen.vectors(rng, datagen.cluster_centers(0), 500)
    ids = np.arange(500)
    q = vecs[17] + 0.01
    exact = checks.exact_topk(vecs, ids, q, 10)
    assert exact[0] == 17
    assert checks.recall_at_k(exact, exact) == 1.0
    wrong = rng.choice(np.setdiff1d(ids, exact), 10, replace=False)
    assert checks.recall_at_k(wrong, exact) < ANN_RECALL_FLOOR
    assert checks.recall_at_k(list(exact[:5]) + list(wrong[:5]), exact) == 0.5


def test_failed_kinds_mark_every_op_of_that_kind():
    records = [("a", 1.0, True), ("b", 1.0, True), ("a", 1.0, True), ("c", 1.0, False)]
    assert count_failed(records, {}) == 1
    assert count_failed(records, {"a": ["wrong"]}) == 3


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_inputs_depend_only_on_the_seed(tmp_path):
    def make(seed, tag):
        out = tmp_path / tag
        datagen.write_corpus(seed, str(out / "corpus"))
        inputs = datagen.retrieval_inputs(seed, str(out / "writes"), 2)
        datagen.event_batches(seed, str(out / "batches"), 2)
        return _digest(str(p) for p in out.rglob("*.parquet")), inputs.bm25_queries

    a, qa = make(3, "a")
    b, qb = make(3, "b")
    c, qc = make(4, "c")
    assert a == b and qa == qb
    assert a != c and qa != qc


def test_benchmark_json_lists_what_the_runner_reports():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
