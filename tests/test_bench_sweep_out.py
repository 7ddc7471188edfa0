"""bench.py sweep file: SPARK_GRAFT_SWEEP_OUT may name a bare file, which
lands in the working directory instead of failing on an empty dirname."""

import json


def test_bare_sweep_file_name_writes_to_working_directory(monkeypatch, tmp_path):
    import bench

    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_SWEEP_OUT", "sweep.json")
    rel = bench._write_sweep({"q2": {"cold": 2.0, "warm": 1.0}, "q1": {"cold": 1.0, "warm": 0.5}}, 0.001)
    written = json.loads((tmp_path / "sweep.json").read_text())
    assert list(written["queries_all"]) == ["q1", "q2"]
    assert written["sf"] == 0.001
    assert rel.endswith("sweep.json")


def test_sweep_file_parent_directories_are_created(monkeypatch, tmp_path):
    import bench

    out = tmp_path / "a" / "b" / "sweep.json"
    monkeypatch.setenv("SPARK_GRAFT_SWEEP_OUT", str(out))
    bench._write_sweep({}, 0.01)
    assert json.loads(out.read_text())["queries_all"] == {}
