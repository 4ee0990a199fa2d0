"""tools/perf_pairs.py on two stand-in checkouts whose perfbench prints a
fixed result line: the alternating order, the summary and the failure
report. Spark-free."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location("perf_pairs", os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "perf_pairs.py"))
perf_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(perf_pairs)

_RUN = """import json, os, sys
seed = int(sys.argv[sys.argv.index("--seed") + 1])
with open(os.path.join(os.path.dirname(__file__), "..", "..", "calls"), "a") as f:
    f.write(f"{SIDE} {seed}\\n")
ops = [{"op": "write[tile]", "kind": "geo_write", "wall_s": 1.0},
       {"op": "read[tile,w0,columns]", "kind": "geo_read", "wall_s": 0.2},
       {"op": "read[tile,w1,geo_sql]", "kind": "geo_read", "wall_s": GEO_SQL_S},
       {"op": "read[random,w1,geo_sql]", "kind": "geo_read", "wall_s": GEO_SQL_S + 0.1},
       {"op": "q_x", "kind": "sql", "wall_s": 0.5}]
print(json.dumps({"record": {"ops": ops if OPS else []}}))
print(json.dumps({"correct": CORRECT, "attempted": 4, "failed": 0,
                  "metrics": {"run_s": {"value": RUN_S + seed, "unit": "s"},
                              "cpu_s": {"value": 2.0, "unit": "s"}}}))
"""


def _checkout(root, side: str, run_s: float, correct: bool = True,
              geo_sql_s: float = 0.3, ops: bool = True) -> str:
    d = root / side
    (d / "perfbench").mkdir(parents=True)
    (d / "perfbench" / "run.py").write_text(
        _RUN.replace("SIDE", repr(side)).replace("RUN_S", repr(run_s))
        .replace("CORRECT", repr(correct)).replace("GEO_SQL_S", repr(geo_sql_s))
        .replace("OPS", repr(ops)))
    (d / "BENCHMARK.json").write_text(json.dumps({"end_to_end": [
        {"name": "run_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "cpu_s", "unit": "s", "better": "lower", "bound": 0.25},
    ]}))
    return str(d)


def test_pairs_alternate_and_summarize(tmp_path, capsys):
    parent = _checkout(tmp_path, "parent", 10.0)
    change = _checkout(tmp_path, "change", 9.0)
    out = tmp_path / "runs.jsonl"
    rc = perf_pairs.main([parent, change, "--workload", "w", "--pairs", "3",
                          "--out", str(out)])
    assert rc == 0
    calls = (tmp_path / "calls").read_text().split()
    assert calls == ["parent", "1", "change", "1", "change", "2",
                     "parent", "2", "parent", "3", "change", "3"]
    text = capsys.readouterr().out
    run_line = next(ln for ln in text.splitlines() if ln.startswith("run_s"))
    assert "parent 12 [11.5, 12.5]" in run_line
    assert "change 11 [10.5, 11.5]" in run_line
    assert "change won 3/3" in run_line
    cpu_line = next(ln for ln in text.splitlines() if ln.startswith("cpu_s"))
    assert "change won 0/3" in cpu_line  # ties count for neither side
    assert len(out.read_text().splitlines()) == 6


def test_incorrect_runs_are_reported(tmp_path, capsys):
    parent = _checkout(tmp_path, "parent", 10.0)
    change = _checkout(tmp_path, "change", 9.0, correct=False)
    assert perf_pairs.main([parent, change, "--workload", "w", "--pairs", "1"]) == 1
    assert "NOT CORRECT: seed 1 change" in capsys.readouterr().out


def test_ops_summarize_walls_by_op_family(tmp_path, capsys):
    parent = _checkout(tmp_path, "parent", 10.0, geo_sql_s=0.3)
    change = _checkout(tmp_path, "change", 9.0, geo_sql_s=0.2)
    assert perf_pairs.main([parent, change, "--workload", "w", "--pairs", "2"]) == 0
    text = capsys.readouterr().out
    lines = {ln.split(" ", 1)[0]: ln for ln in text.split("# per-op wall")[1].splitlines()[1:]}
    assert set(lines) == {"read…columns", "read…geo_sql", "sql", "write"}
    # each run's family median: geo_sql reads 0.35 (parent) and 0.25 (change)
    assert "parent 0.35 [0.35, 0.35]  change 0.25 [0.25, 0.25]" in lines["read…geo_sql"]
    assert "change won 2/2" in lines["read…geo_sql"]
    assert "change won 0/2" in lines["write"]


def test_op_family_names():
    fam = perf_pairs.op_family
    assert fam({"op": "write[random]", "kind": "geo_write"}) == "write"
    assert fam({"op": "read[random,w2,columns]", "kind": "geo_read"}) == "read…columns"
    assert fam({"op": "q_stream_x", "kind": "stream"}) == "stream"


def test_no_op_summary_without_ops(tmp_path, capsys):
    parent = _checkout(tmp_path, "parent", 10.0, ops=False)
    change = _checkout(tmp_path, "change", 9.0, ops=False)
    assert perf_pairs.main([parent, change, "--workload", "w", "--pairs", "1"]) == 0
    assert "# per-op" not in capsys.readouterr().out
