"""The generator is a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402


def _generate(root: str, seed: int, size: str = "deployment") -> dict:
    rng = np.random.default_rng(seed)
    dims = gen.Dims(rng, size)
    dims.write(os.path.join(root, "dims"))
    info = gen.write_events(rng, dims, os.path.join(root, "events"), 2, 3_000, 0.05,
                            files_per_window=2)
    gen.write_catalog(rng, os.path.join(root, "catalog"), 2_000, 200, 100)
    return {str(k): v.as_dict() for k, v in info.windows.items()}


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_same_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    truth_a, truth_b = _generate(str(a), 7), _generate(str(b), 7)
    assert json.dumps(truth_a, sort_keys=True) == json.dumps(truth_b, sort_keys=True)
    names = _files(str(a))
    assert names == _files(str(b)) and len(names) == 9 + 4 + 3
    _, mismatch, errors = filecmp.cmpfiles(str(a), str(b), names, shallow=False)
    assert not mismatch and not errors


def test_other_seed_other_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _generate(str(a), 7)
    _generate(str(b), 8)
    names = [n for n in _files(str(a)) if n.startswith("events")]
    _, mismatch, _ = filecmp.cmpfiles(str(a), str(b), names, shallow=False)
    assert mismatch == names


def test_truth_counts_every_valid_line(tmp_path):
    rng = np.random.default_rng(3)
    dims = gen.Dims(rng, "demo")
    info = gen.write_events(rng, dims, str(tmp_path), 3, 1_000, 0.0, corrupt=0.0, qr_false=0.0,
                            junk=0.0)
    assert info.lines == 3_000 and info.corrupt == 0
    assert sorted(info.windows) == [gen.APP_TIME + w * gen.WINDOW_S for w in range(3)]
    for t in info.windows.values():
        assert t.dns_num == 1_000
        assert sum(t.response_code.values()) == sum(t.province.values()) == 1_000
