"""In-suite face of the streaming soak (r6 verdict ask #6): N
consecutive 5-minute windows through the production ``run_window``
with cross-batch state folds, asserting bounded state, no cached frame
left behind by any window and no runaway per-batch wall. The committed
SOAK artifact (tools/soak_stream.py, 10 batches at sf0.01) carries the strict flatness numbers; this test keeps
the CONTRACT red-green on every run with a short soak at sf0.001 and
deliberately loose wall bounds (this VM has documented load bursts —
state boundedness is the hard assertion, wall the smoke one).
"""

from __future__ import annotations

import importlib.util
from pathlib import Path


def _load_soak():
    p = Path(__file__).resolve().parent.parent / "tools" / "soak_stream.py"
    spec = importlib.util.spec_from_file_location("soak_stream", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_soak_state_bounded_and_wall_sane(spark):
    art = _load_soak().run_soak(spark, "/root/testdata/sf0.001", 4)
    b = art["bounded"]
    assert b["bloom_constant"], art["state_rows"]["bloom_bitmap"]
    assert b["hll_nondecreasing_bounded"], art["state_rows"]["hll_registers"]
    assert b["hours_linear_in_windows"], art["state_rows"]["series_hour_counts"]
    assert b["cached_frames_empty"], art["cached_frames_empty"]
    walls = art["wall_per_batch"]
    # no runaway creep: every warm batch within 5x of the warm minimum
    # (+2s absolute slack for this VM's load bursts)
    warm = walls[1:]
    assert max(warm) <= min(warm) * 5 + 2, walls
