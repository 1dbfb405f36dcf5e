"""bench.py (uniform per-query sweep) and bench_compare.py (report only)."""

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import bench_compare  # noqa: E402


def test_bench_compare_reports_shared_added_and_removed(tmp_path, capsys):
    base = REPO / "BENCH_FULL_r15_sf0.1.json"
    old = json.loads(base.read_text())["queries"]
    new = {"transaction_stats": old["transaction_stats"] * 2, "brand_new": 1.5}
    new_path = tmp_path / "new.json"
    new_path.write_text(json.dumps({"queries": new}))

    assert bench_compare.main([str(base), str(new_path)]) == 0
    rows = {
        line.split()[0]: line.split()[1:]
        for line in capsys.readouterr().out.splitlines()
    }
    assert rows["transaction_stats"][-1] == "2.00x"
    assert rows["brand_new"] == ["-", "1.500", "added"]
    assert rows["dedup_simhash"][-1] == "removed"


def test_bench_smoke_two_queries(tmp_path):
    from tests.conftest import SF_DIR

    names = ["transaction_stats", "ch_top_event_limit_by"]
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_BENCH_ONLY=",".join(names),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    doc = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(doc["queries"]) == sorted(names)
    assert all(isinstance(doc["queries"][n], float) for n in names)
    assert doc["total"] == round(sum(doc["queries"].values()), 3)
    assert json.loads((tmp_path / "BENCH_FULL.json").read_text()) == doc
