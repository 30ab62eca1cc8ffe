"""The benchmark's own checks: seeded inputs, failure counting, metric names.

Spark-free and quick: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import batch, gen, run
from perfbench.check import (
    Ledger,
    digest,
    keep_latest_reference,
    pretrain_problems,
    rows_digest,
    shift_years,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _base():
    return {(str(i), f"1999-01-{1 + i % 28:02d}"): 1000.0 + i for i in range(200)}


def test_tables_same_seed_same_bytes_other_seed_differs():
    a, b, c = (gen.make_tables(s, 0.01, 0.05) for s in (7, 7, 8))
    assert a.keys() == b.keys() == c.keys()
    assert all(a[k].equals(b[k]) for k in a)
    # the dims are fixed lists; every generated fact table moves with the seed
    for k in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert not a[k].equals(c[k]), k


def test_streams_and_batches_are_seeded():
    assert gen.request_stream(3, 4) == gen.request_stream(3, 4)
    assert gen.request_stream(3, 4) != gen.request_stream(4, 4)
    b1 = gen.ingest_batches(_base(), 3, 2, 40)
    assert b1 == gen.ingest_batches(_base(), 3, 2, 40)
    assert b1 != gen.ingest_batches(_base(), 4, 2, 40)


def test_two_blocks_hold_every_kind_window_pair_once():
    reqs = gen.request_stream(9, 2)
    assert sorted((r.kind, r.window) for r in reqs) == sorted(
        (k, w) for k in gen.KINDS for w in gen.WINDOWS
    )
    assert [r.rid for r in reqs] == list(range(2 * len(gen.KINDS)))


def test_batches_mix_updates_decreases_and_inserts():
    base = _base()
    batches = gen.ingest_batches(base, 1, 2, 100)
    _, per = keep_latest_reference([(k[0], k[1], v, 0, "2023") for k, v in base.items()], batches)
    for rows, p in zip(batches, per):
        assert len({(r[0], r[1]) for r in rows}) == len(rows)  # one row per key
        assert 0 < p["decreases"] < p["updated"] < len(rows)


def test_schedule_opens_with_a_commit_and_keeps_commits_ordered():
    ops = batch.schedule()
    assert ops[:2] == [("commit", 0), ("read", 0)]
    commits = [a for k, a in ops if k == "commit"]
    assert commits == sorted(commits) == list(range(batch.N_COMMITS))
    assert sorted(a for k, a in ops if k == "query") == sorted(batch.SWEEP)


def test_perturbed_answer_is_counted_failed():
    df = pd.DataFrame({"b": [1.25, 2.5], "a": ["x", "y"]})
    want = digest(df)
    assert digest(df.iloc[::-1][["a", "b"]]) == want  # order-insensitive
    bad = df.copy()
    bad.loc[0, "b"] = 1.2500000000000002  # one ulp
    led = Ledger()
    led.record(digest(df) == want, "oracle", "same")
    led.record(digest(bad) == want, "oracle", "perturbed")
    assert (led.attempted, led.failed) == (2, 1)
    assert led.mismatches == ["oracle: perturbed"]


def test_perturbed_table_and_funnel_are_caught():
    base = [("1", "1999-01-01", 5.0, 1, "2023"), ("2", "1999-01-02", 7.0, 1, "2023")]
    batches = [[("1", "1999-01-01", 4.0, 2, "2024"), ("3", "1999-01-03", 9.0, 3, "2024")]]
    state, per = keep_latest_reference(base, batches)
    assert per == [{"updated": 1, "decreases": 1}]
    rows = list(state.values())
    assert rows_digest(rows) == rows_digest(list(reversed(rows)))
    rows[0] = rows[0][:2] + (4.01,) + rows[0][3:]
    assert rows_digest(rows) != rows_digest(state.values())

    res = {"n_raw": 10, "n_gated": 9, "n_kept": 8, "n_clean": 8, "n_candidate_pairs": 3,
           "n_verified_edges": 2, "export": {"n_shards": 2, "n_docs": 8, "n_tokens": 80}}
    manifest = {"n_shards": 2, "n_docs": 8, "n_tokens": 80}
    assert pretrain_problems(res, manifest, 10, 9) == []
    assert pretrain_problems(res, {**manifest, "n_tokens": 79}, 10, 9)
    assert pretrain_problems(res, manifest, 11, 9)


def test_shift_years_moves_every_date_literal():
    sql = "WHERE d BETWEEN DATE '1996-02-10' AND DATE('1996-03-08') AND x = '1996'"
    assert shift_years(sql, 1) == (
        "WHERE d BETWEEN DATE '1997-02-10' AND DATE('1997-03-08') AND x = '1996'"
    )
    assert shift_years(sql, 0) == sql


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run._workloads())
    assert spec["command"][1:] == ["perfbench/run.py"]


def test_refuses_ab_switch(monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SERIAL_BUILD", "1")
    assert run.main(["--workload", "dashboard", "--seed", "1", "--seconds", "1"]) == 2
    assert capsys.readouterr().out == ""


def test_fails_without_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.mark.parametrize("name", ["dashboard", "batch"])
def test_workload_modules_expose_the_run_interface(name):
    mod = run._workloads()[name]
    for attr in ("prepare", "run", "TABLE_SCALE", "DOC_SCALE"):
        assert hasattr(mod, attr)
