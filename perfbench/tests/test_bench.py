"""Tests of the benchmark itself (not of cryoflow_spark).

    python3 -m pytest perfbench/tests -q

The end-to-end test runs the benchmark twice (two short Spark processes,
about a minute on four cores) and checks that no process it started
outlives it.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import uuid
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import configs  # noqa: E402
import gen  # noqa: E402


def _digest(d: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(d.rglob("*.parquet")):
        h.update(p.relative_to(d).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


@pytest.mark.parametrize("workload", list(configs.WORKLOADS))
def test_generator_is_deterministic_per_seed_and_differs_across_seeds(tmp_path, workload):
    a, b, c = (tmp_path / n / "seed-x" for n in "abc")
    gen.generate(workload, 5, a)
    gen.generate(workload, 5, b)
    gen.generate(workload, 6, c)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_generator_cache_reuses_finished_inputs_and_evicts_old_seeds(tmp_path):
    base = tmp_path / "corpus_curation"
    dirs = [base / f"seed-{s}-x" for s in range(5)]
    for d in dirs:
        gen.generate("corpus_curation", 1, d, keep=2)
    assert sorted(p.name for p in base.iterdir()) == ["seed-3-x", "seed-4-x"]
    before = (dirs[-1] / "documents.parquet").stat().st_mtime_ns
    gen.generate("corpus_curation", 1, dirs[-1], keep=2)
    assert (dirs[-1] / "documents.parquet").stat().st_mtime_ns == before


def _write_parquet(con, sql: str, path: Path, *params) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)", list(params))


def _inputs(tmp_path: Path, workload: str) -> Path:
    inp = tmp_path / "in"
    gen.generate(workload, 3, inp)
    return inp


def test_etl_check_accepts_the_oracle_and_catches_a_corrupted_value(tmp_path):
    inp, out = _inputs(tmp_path, "etl_join_rollup"), tmp_path / "out"
    chk = checks.CHECKERS["etl_join_rollup"](inp, out)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    part = out / "rollup" / "part-0.parquet"
    _write_parquet(con, checks._ETL_SQL.format(inp=inp), part)
    assert chk.check() is None
    t = pq.read_table(part).to_pydict()
    t["revenue"][0] += 1.0
    pq.write_table(pa.table(t), part)
    assert "expected" in chk.check()


def test_corpus_check_catches_pii_stray_ids_and_a_changed_digest(tmp_path):
    inp, out = _inputs(tmp_path, "corpus_curation"), tmp_path / "out"
    chk = checks.CHECKERS["corpus_curation"](inp, out)
    con = duckdb.connect()
    clean = (
        "SELECT doc_id, text FROM read_parquet(?)"
        " WHERE NOT regexp_matches(text, 'https?://|@|\\d{3}[- ]\\d{4}|\\d+\\.\\d+\\.\\d+\\.\\d+')"
    )
    part = out / "curated" / "lang=all" / "part-0.parquet"
    docs = str(inp / "documents.parquet")
    _write_parquet(con, clean, part, docs)
    assert chk.check() is None  # the first run fixes the digest
    assert chk.check() is None
    _write_parquet(con, clean + " AND doc_id % 2 = 0", part, docs)
    assert "differs" in chk.check()
    _write_parquet(con, "SELECT doc_id, text || ' mail me at x.y@example.com' AS text FROM read_parquet(?)", part, docs)
    assert "PII" in chk.check()
    _write_parquet(con, "SELECT doc_id + 100000 AS doc_id, 'clean text' AS text FROM read_parquet(?)", part, docs)
    assert "not in the input" in chk.check()


def test_stream_check_accepts_closed_sessions_and_catches_a_wrong_one(tmp_path):
    inp, out = _inputs(tmp_path, "stream_sessions"), tmp_path / "out"
    chk = checks.CHECKERS["stream_sessions"](inp, out)
    part = out / "sessions" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    # What a correct append-mode run emits: sessions the final watermark closed.
    chk.con.execute(f"COPY (SELECT * FROM want WHERE session_end < ?) TO '{part}' (FORMAT parquet)",
                    [chk.final_wm])
    assert chk.check() is None
    chk.con.execute(
        f"COPY (SELECT * FROM want WHERE session_end < ? AND n_events > 1) TO '{part}' (FORMAT parquet)",
        [chk.final_wm],
    )
    assert "not emitted" in chk.check()
    chk.con.execute(
        f"COPY (SELECT user_id, session_start, session_end, n_events + 1 AS n_events, total_value"
        f" FROM want WHERE session_end < ?) TO '{part}' (FORMAT parquet)",
        [chk.final_wm],
    )
    assert "not sessions of the input" in chk.check()


def test_events_check_accepts_three_sinks_and_catches_a_missing_row(tmp_path):
    inp, out = _inputs(tmp_path, "events_fanout"), tmp_path / "out"
    chk = checks.CHECKERS["events_fanout"](inp, out)
    con = chk.con
    (out / "csv").mkdir(parents=True)
    (out / "json").mkdir()
    con.execute(f"COPY (SELECT * FROM want) TO '{out}/lake' (FORMAT parquet, PARTITION_BY (event_date))")
    con.execute(f"COPY (SELECT * FROM want) TO '{out}/csv/p.csv' (HEADER)")
    con.execute(f"COPY (SELECT * FROM want) TO '{out}/json/p.json' (FORMAT json)")
    assert chk.check() is None
    con.execute(f"COPY (SELECT * FROM want WHERE event_id > 0) TO '{out}/json/p.json' (FORMAT json)")
    assert "json sink differs" in chk.check()


class _Ok:
    is_success = True


class _FakePipeline:
    def run_pipeline(self, *a, **k):
        return _Ok()

    run_dry_run_pipeline = run_pipeline


class _CorruptChecker:
    def check(self):
        raise OSError("corrupted parquet footer")


def test_client_counts_a_corrupted_output_as_a_failed_operation(tmp_path):
    import run

    client = run.Client(([], [], []), None, tmp_path / "out", _CorruptChecker())
    client.pipeline = _FakePipeline()
    assert client.check() is not None
    assert client.run() is None
    assert client.attempted == 2
    assert len(client.errors) == 1 and "corrupted parquet footer" in client.errors[0]


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _processes_with_env(marker: str) -> list[int]:
    """Pids of live processes whose environment holds ``marker``."""
    pids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if marker.encode() in f.read():
                    pids.append(int(d))
        except (OSError, ValueError):
            continue
    return pids


def test_printed_metric_names_and_units_match_benchmark_json(tmp_path):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {w["name"] for w in spec["workloads"]}
    assert names <= set(configs.WORKLOADS)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        # every process the benchmark starts inherits the marker; output goes
        # to files, since a pipe would make run() wait for every holder of it
        marker = f"PERFBENCH_TEST_RUN={uuid.uuid4().hex}"
        name, value = marker.split("=")
        out, err = tmp_path / f"out{trace}", tmp_path / f"err{trace}"
        with open(out, "w") as fo, open(err, "w") as fe:
            p = subprocess.run(
                [sys.executable, str(BENCH / "run.py"), "--workload", "stream_sessions",
                 "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                cwd=ROOT, stdout=fo, stderr=fe, timeout=240, env={**os.environ, name: value},
            )
        assert _processes_with_env(marker) == [], "the benchmark left a process running"
        stdout = out.read_text()
        assert p.returncode == 0, stdout[-3000:] + err.read_text()[-3000:]
        res = _last_json(stdout)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want


def test_benchmark_fails_without_the_package(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in BENCH.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_bytes(f.read_bytes())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_join_rollup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
