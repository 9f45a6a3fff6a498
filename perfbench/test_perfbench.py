"""Tests of the benchmark itself (not part of the engine's suite):

    python3 -m pytest perfbench/test_perfbench.py -q

Inputs must be a pure function of the seed, every workload must pass its
own output checks at a tiny size on two seeds, and outside a checkout the
benchmark must fail without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _tree(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("write", [
    lambda seed, root: gen.write_nightly(seed, root, n_det=3, hist_days=3),
    lambda seed, root: gen.write_stream(seed, root, n_det=3, days=7),
], ids=["nightly", "stream"])
def test_inputs_are_a_function_of_the_seed(write, tmp_path):
    write(5, tmp_path / "a")
    write(5, tmp_path / "b")
    write(6, tmp_path / "c")
    a, b, c = (_tree(tmp_path / x) for x in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_stream_drops_hold_late_rows(tmp_path):
    gen.write_stream(3, tmp_path / "s", n_det=4, days=8)
    import pyarrow.parquet as pq

    t = pq.read_table(tmp_path / "s" / "drop-007.parquet")
    days = {ts.date() for ts in t.column("start_datetime").to_pylist()}
    # its own day, two days late within the watermark, one beyond it
    assert len(days) == 4


def test_checksum_is_order_free_and_value_sensitive():
    rows = [{"a": 1, "b": 0.5}, {"a": 2, "b": None}]
    c = checks.canon_rows(rows, ["a", "b"])
    assert checks.checksum(c) == checks.checksum(c[::-1])
    changed = checks.canon_rows([{"a": 1, "b": 0.6}, rows[1]], ["a", "b"])
    assert checks.checksum(changed) != checks.checksum(c)


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize("workload", ["nightly", "stream"])
def test_workload_passes_its_checks_tiny(workload, seed, monkeypatch, capsys):
    monkeypatch.chdir(REPO)
    monkeypatch.setitem(run.NIGHTLY, "detectors", 4)
    monkeypatch.setitem(run.NIGHTLY, "history_days", 15)
    monkeypatch.setitem(run.STREAM, "detectors", 2)
    monkeypatch.setitem(run.STREAM, "drops",
                        1 + run.STREAM["warmup"] + run.STREAM["min_timed"])
    assert run.main(["--workload", workload, "--seed", str(seed),
                     "--seconds", "1", "--trace", "0"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["correct"] is True
    assert out["failed"] == 0
    sizes = run.NIGHTLY if workload == "nightly" else run.STREAM
    assert out["attempted"] >= 1 + sizes["warmup"] + sizes["min_timed"]
    assert set(out["metrics"]) == set(run._units(REPO, "end_to_end"))


def test_fails_without_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "nightly", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
