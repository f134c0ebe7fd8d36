"""The bench harness's report lines (bench.py)."""

from __future__ import annotations


def test_scaling_report_contract(capsys):
    """The SCALING artifact line: efficiency = (thr_hi / thr_lo) / (hi/lo),
    pass at >=0.8, cycles included when the interleaved protocol ran."""
    import json

    import bench

    results = {
        2: {"turns_per_sec": 20000.0, "wall_sec": 450.0},
        8: {"turns_per_sec": 66000.0, "wall_sec": 136.4},
    }
    cycles = [{"cycle": 0, "walls": {"2": 450.0, "8": 136.4},
               "paired_efficiency": 0.825}]
    bench._emit_scaling_report((2, 8), results, 9_000_754,
                               mode="interleaved-pinned", cycles=cycles)
    report = json.loads(capsys.readouterr().out.strip())
    assert report["value"] == round((66000 / 20000) / 4, 3) == 0.825
    assert report["pass"] is True
    assert report["mode"] == "interleaved-pinned"
    assert report["cycles"] == cycles
    assert report["criterion"].startswith(">=0.8")
