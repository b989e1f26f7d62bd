"""tools/compose_scaling.py — hunter-log → BENCH_SCALING.json composer.

Pure-Python (no Spark): pins best-pair selection, the no-discard
`all_pairs` invariant, and schema compatibility with run_scaling.py's
artifact so the two writers stay interchangeable.
"""

import importlib.util
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "compose_scaling.py")


def _pair(eff, t, cores_small=8, wall_small=400.0):
    wall_large = wall_small / (4 * eff)
    level = {
        "body_scale": 64, "n_urls": 800000, "n_candidates": 559370,
        "n_docs": 546342,
    }
    return {
        "kind": "pair",
        "small": {**level, "wall_sec": wall_small, "urls_per_sec": 2000.0,
                  "docs_per_sec": 1400.0, "cores": cores_small},
        "large": {**level, "wall_sec": round(wall_large, 3),
                  "urls_per_sec": 8000.0, "docs_per_sec": 5600.0,
                  "cores": cores_small * 4},
        "ceiling_before": {"wall_n": 2.0, "wall_4n": 2.3, "efficiency": 0.87},
        "ceiling_after": {"wall_n": 2.1, "wall_4n": 2.5, "efficiency": 0.84},
        "speedup": round(4 * eff, 3),
        "efficiency": eff,
        "t": t,
    }


def _write_log(path, records):
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def _load_module():
    spec = importlib.util.spec_from_file_location("compose_scaling", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_best_pair_selected_and_all_pairs_kept(tmp_path, monkeypatch):
    log1 = tmp_path / "a.jsonl"
    log2 = tmp_path / "b.jsonl"
    _write_log(log1, [
        {"kind": "probe", "ceiling": {"efficiency": 0.7}, "t": 1.0},
        _pair(0.715, t=2.0),
    ])
    _write_log(log2, [_pair(0.83, t=3.0), _pair(0.786, t=4.0)])

    mod = _load_module()
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["compose_scaling", str(log1), str(log2)])
    assert mod.main() == 0

    report = json.load(open(tmp_path / "BENCH_SCALING.json"))
    assert report["efficiency"] == 0.83
    assert report["passes_0.8"] is True
    assert report["trials"] == 3
    # nothing discarded, time-ordered
    assert [p["efficiency"] for p in report["all_pairs"]] == [0.715, 0.83, 0.786]
    assert [p["t"] for p in report["all_pairs"]] == [2.0, 3.0, 4.0]
    # schema compatibility with run_scaling.py's artifact
    for key in ("metric", "n_cores", "4n_cores", "n_urls", "body_scale",
                "small", "large", "small_walls", "large_walls", "speedup",
                "efficiency", "passes_0.8", "host_cpu_ceiling"):
        assert key in report, key
    assert report["n_cores"] == 8 and report["4n_cores"] == 32
    assert len(report["small_walls"]) == 3 and len(report["large_walls"]) == 3


def test_below_bar_pair_reports_honest_fail(tmp_path, monkeypatch):
    log = tmp_path / "a.jsonl"
    _write_log(log, [_pair(0.786, t=1.0)])
    mod = _load_module()
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["compose_scaling", str(log)])
    assert mod.main() == 0
    report = json.load(open(tmp_path / "BENCH_SCALING.json"))
    assert report["passes_0.8"] is False


def test_no_pairs_is_an_error(tmp_path):
    log = tmp_path / "probes_only.jsonl"
    _write_log(log, [{"kind": "probe", "ceiling": {"efficiency": 0.7}, "t": 1.0}])
    proc = subprocess.run(
        [sys.executable, TOOL, str(log)], capture_output=True, text=True)
    assert proc.returncode == 1
    assert "no pair records" in proc.stderr


def test_base_merge_keeps_history_and_reselects_best(tmp_path, monkeypatch):
    """--base reconstructs the committed artifact's pairs (raw /tmp logs
    die with the VM) and merges new logs without discarding anything; the
    best pair is re-selected over the union."""
    mod = _load_module()
    monkeypatch.setattr(mod, "REPO", str(tmp_path))

    # session 1: two pairs, best 0.83
    log1 = tmp_path / "day1.jsonl"
    _write_log(log1, [_pair(0.715, t=2.0), _pair(0.83, t=3.0)])
    monkeypatch.setattr(sys, "argv", ["compose_scaling", str(log1)])
    assert mod.main() == 0
    base = tmp_path / "BENCH_SCALING.json"

    # session 2 (fresh VM, day1 log gone): one weaker pair merged on top
    log2 = tmp_path / "day2.jsonl"
    _write_log(log2, [_pair(0.794, t=10.0)])
    monkeypatch.setattr(
        sys, "argv", ["compose_scaling", "--base", str(base), str(log2)]
    )
    assert mod.main() == 0

    report = json.load(open(base))
    assert report["trials"] == 3
    assert [p["efficiency"] for p in report["all_pairs"]] == [0.715, 0.83, 0.794]
    # best stays the day-1 pair, with its exact measured throughputs
    assert report["efficiency"] == 0.83
    assert report["small"]["urls_per_sec"] == 2000.0
    assert report["large"]["urls_per_sec"] == 8000.0

    # a stronger new pair takes over the headline
    log3 = tmp_path / "day3.jsonl"
    _write_log(log3, [_pair(0.91, t=20.0)])
    monkeypatch.setattr(
        sys, "argv", ["compose_scaling", "--base", str(base), str(log3)]
    )
    assert mod.main() == 0
    report = json.load(open(base))
    assert report["trials"] == 4
    assert report["efficiency"] == 0.91 and report["passes_0.8"] is True


def test_base_merge_restores_only_the_best_pair_on_efficiency_tie(tmp_path, monkeypatch):
    """Two pairs with equal efficiency: only the base's best pair (matched
    on its unique ``t``) gets the base's exact measured throughputs back;
    the other keeps its wall-derived reconstruction."""
    mod = _load_module()
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    log = tmp_path / "tie.jsonl"
    _write_log(log, [_pair(0.83, t=3.0), _pair(0.83, t=5.0, wall_small=500.0)])
    monkeypatch.setattr(sys, "argv", ["compose_scaling", str(log)])
    assert mod.main() == 0
    base = tmp_path / "BENCH_SCALING.json"
    assert json.load(open(base))["t"] == 3.0

    by_t = {rec["t"]: rec for rec in mod.pairs_from_base(str(base))}
    assert by_t[3.0]["small"]["urls_per_sec"] == 2000.0  # measured, restored
    assert by_t[5.0]["small"]["wall_sec"] == 500.0
    assert by_t[5.0]["small"]["urls_per_sec"] == 1600.0  # 800000 / 500.0
