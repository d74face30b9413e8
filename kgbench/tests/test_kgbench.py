"""Tests of the benchmark's own parts. Run from the repository root:

    python3 -m pytest kgbench/tests -q -p no:cacheprovider

The smoke runs start one Spark JVM each and take a few minutes in total.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import eventlog  # noqa: E402

DATA = os.path.join(BENCH, "tests", "data")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- digest ---------------------------------------------------------------


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE t AS SELECT i AS k, 'v' || (i % 7) AS s, i / 8.0 AS x,"
        " CASE WHEN i % 5 = 0 THEN NULL ELSE i END AS maybe FROM range(500) r(i)"
    )
    yield c
    c.close()


def test_digest_ignores_row_and_column_order(con):
    base = check.digest(con, "SELECT * FROM t", ["k", "s", "x", "maybe"])
    shuffled = check.digest(
        con, "SELECT maybe, x, s, k FROM t ORDER BY hash(k * 31)", ["maybe", "k", "x", "s"]
    )
    assert base == shuffled
    assert base[0] == 500


def test_digest_sees_values_duplicates_and_nulls(con):
    cols = ["k", "s", "x", "maybe"]
    base = check.digest(con, "SELECT * FROM t", cols)
    changed = check.digest(
        con, "SELECT k, CASE WHEN k = 7 THEN 'w' ELSE s END AS s, x, maybe FROM t", cols
    )
    duplicated = check.digest(
        con, "SELECT * FROM t UNION ALL SELECT * FROM t WHERE k IN (3, 4)", cols
    )
    # NULL must not hash like any value
    null_vs_zero = check.digest(
        con, "SELECT k, s, x, CASE WHEN maybe IS NULL THEN 0 ELSE maybe END AS maybe FROM t",
        cols,
    )
    assert len({base[1], changed[1], duplicated[1], null_vs_zero[1]}) == 4


def test_digest_agrees_across_int_widths(con, tmp_path):
    path = str(tmp_path / "w")
    os.makedirs(path)
    con.execute(
        f"COPY (SELECT CAST(k AS INTEGER) AS k, s FROM t) TO '{path}/a.parquet' (FORMAT parquet)"
    )
    from_file = check.digest(con, check.parquet_relation(path), ["k", "s"])
    assert from_file == check.digest(con, "SELECT CAST(k AS BIGINT) AS k, s FROM t", ["k", "s"])


def test_oracle_binding_fails_loudly_when_the_cte_is_gone():
    sql = check.oracle_kg("kg_degree_stats", "store")
    assert "FROM store" in sql
    with pytest.raises(ValueError):
        check._bind("SELECT 1", check._KG_CANON_CTE, "x")


# ---- event log --------------------------------------------------------------


def test_event_log_reader_groups_task_metrics_by_tag():
    """A trimmed log captured from two tagged operator calls and one
    untagged job; the expected values were read off the log by hand."""
    paths = eventlog.log_files(os.path.join(DATA, "eventlog"), "local-0000000000000")
    assert [os.path.basename(p)[:8] for p in paths] == ["events_1", "events_2"]
    tags = eventlog.read_tag_metrics(paths)
    assert set(tags) == {"extract:mentions", "coref:clusters"}
    ex, co = tags["extract:mentions"], tags["coref:clusters"]
    assert (ex.jobs, ex.tasks, ex.failed_tasks) == (2, 3, 0)
    assert (co.jobs, co.tasks, co.failed_tasks) == (3, 4, 0)
    assert ex.python_s == pytest.approx(3.059)
    assert co.python_s == pytest.approx(0.232)
    assert (ex.shuffle_bytes, co.shuffle_bytes) == (118, 10003)
    assert (ex.max_task_s, co.max_task_s) == (pytest.approx(2.003), pytest.approx(0.43))
    assert ex.executor_run_s == pytest.approx((1892 + 1892 + 42) / 1e3)


def test_event_log_reader_counts_failures_spill_and_rolled_files(tmp_path):
    def task(stage, reason, spill, written):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": 1000, "Finish Time": 3500},
            "Task Metrics": {
                "Executor Run Time": 2000, "Executor CPU Time": 10**9,
                "Disk Bytes Spilled": spill, "Output Metrics": {"Records Written": written},
            },
        }

    tag = {"spark.job.tags": "kgbench:sink:store,other"}
    parts = {
        2: [{"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [7], "Properties": tag},
            {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 7},
             "Properties": tag}],
        10: [task(7, "Success", 0, 5), task(7, "ExceptionFailure", 64, 0),
             task(8, "Success", 0, 9)],  # stage 8 is untagged
    }
    rolled = tmp_path / "eventlog_v2_app-1"
    rolled.mkdir()
    for n, events in parts.items():
        (rolled / f"events_{n}_app-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    m = eventlog.read_tag_metrics(eventlog.log_files(str(tmp_path), "app-1"))["sink:store"]
    assert (m.jobs, m.tasks, m.failed_tasks) == (1, 2, 1)
    assert (m.spill_bytes, m.rows_written, m.max_task_s) == (64, 5, 2.5)
    assert m.executor_cpu_s == pytest.approx(2.0)


# ---- generators ---------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    from dygiepp_spark.session import get_spark

    s = get_spark("kgbench-tests", master="local[2]")
    yield s
    s.stop()


def _tree_digest(path: str) -> dict:
    c = duckdb.connect()
    out = {}
    for name in sorted(os.listdir(path)):
        rel = check.parquet_relation(os.path.join(path, name))
        cols = check.result_columns(c, rel)
        out[name] = check.digest(c, rel, cols)
    return out


@pytest.mark.parametrize("workload", ["transcripts_e2e", "kg_store"])
def test_generators_are_deterministic_per_seed(tmp_path, workload):
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]
    size = wl.sizes["smoke"]
    con = duckdb.connect()
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        wl.generate(con, seed, size, str(tmp_path / name))
    a, b, c = (_tree_digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a != c


@pytest.mark.parametrize("seed,mega_every", [(3, 7), (-5, 0), (123456789, 3)])
def test_turns_generator_matches_synth_turns(spark, tmp_path, seed, mega_every):
    from dygiepp_spark.synth import synth_turns
    from workloads import _copy_parts, synth_turns_sql

    con = duckdb.connect()
    _copy_parts(con, synth_turns_sql(40, seed, mega_every, 50), str(tmp_path / "duck"),
                "conv_id, turn_idx")
    synth_turns(spark, n_convs=40, seed=seed, mega_every=mega_every, mega_turns=50) \
        .write.parquet(str(tmp_path / "spark"))
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts_s"]
    proj = "conv_id, turn_idx, role, text, tool, epoch(ts) AS ts_s"
    duck, ref = (
        check.digest(con, check.parquet_relation(str(tmp_path / d), proj), cols)
        for d in ("duck", "spark")
    )
    assert duck == ref
    assert spark.read.parquet(str(tmp_path / "duck")).schema == \
        spark.read.parquet(str(tmp_path / "spark")).schema


# ---- end to end -----------------------------------------------------------------


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("kgbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [("transcripts_e2e", "1"), ("kg_store", "1"), ("kg_store", "0")],
)
def test_smoke_run_passes_the_output_check(workload, trace):
    proc = _run(
        ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", trace, "--size", "smoke",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert list(result) == ["correct", "attempted", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    declared = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copytree(BENCH, tmp_path / "kgbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "--workload", "kg_store", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
