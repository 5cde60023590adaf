"""compare.py refuses results from different core counts."""

from __future__ import annotations

import json

from perfbench import compare


def _write(d, name, cpus, value):
    d.mkdir(exist_ok=True)
    rec = {"stamp": {"workload": "trickle", "spark_graft_cpus": cpus,
                     "nproc": 4, "affinity_cpus": 4,
                     "spark_version": "4.1.2"},
           "end_to_end": {"setup_s": value}}
    (d / name).write_text(json.dumps(rec))


def test_refuses_across_core_counts(tmp_path, capsys):
    _write(tmp_path / "a", "r1.json", "4", 1.0)
    _write(tmp_path / "b", "r1.json", "8", 1.0)
    assert compare.main([str(tmp_path / "a"), str(tmp_path / "b")]) == 2
    assert "refusing" in capsys.readouterr().err


def test_compares_same_machine(tmp_path, capsys):
    for i, v in enumerate((1.0, 1.2, 1.1)):
        _write(tmp_path / "a", f"r{i}.json", "4", v)
        _write(tmp_path / "b", f"r{i}.json", "4", 2 * v)
    assert compare.main([str(tmp_path / "a"), str(tmp_path / "b")]) == 0
    line = [x for x in capsys.readouterr().out.splitlines()
            if "setup_s" in x][0]
    assert "2.000" in line
