"""bench.py's final stdout line must survive the driver's tail cut.

The round driver persists only the LAST 2,000 bytes of bench stdout
and parses the last line as JSON. A line longer than the cut is
truncated at its FRONT and parses to nothing — r5-r7 BENCH records
lost every wall time this way. These tests pin the compact-line
contract without starting Spark.
"""

from __future__ import annotations

import importlib.util
import json
import random
from pathlib import Path

import pytest


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fake_timings(n: int, seed: int = 1) -> dict:
    rng = random.Random(seed)
    return {f"query_with_a_realistic_name_{i:03d}": round(rng.uniform(0.05, 13), 3) for i in range(n)}


def test_tail_safe_line_fits_and_parses_after_cut(bench):
    timings = _fake_timings(82)
    total = round(sum(timings.values()), 3)
    line = bench._tail_safe_line(total, timings, "0.1", "32")
    assert len(line) <= 1900
    # simulate the driver: rich line first, compact line last, cut tail
    rich = json.dumps({"queries": timings, "spread": {k: 1.1 for k in timings}})
    tail = (rich + "\n" + line)[-2000:]
    rec = json.loads(tail.splitlines()[-1])
    assert rec["value"] == total
    assert rec["metric"] == "catalog_total_wall_seconds"
    # the slowest queries must be present by name
    slowest = sorted(timings, key=timings.get, reverse=True)[:20]
    for name in slowest:
        assert name in rec["queries"]
    # omitted bookkeeping reconciles with the total
    kept_sum = sum(rec["queries"].values())
    assert rec["queries_omitted"] == len(timings) - len(rec["queries"])
    assert kept_sum + rec["omitted_total_sec"] == pytest.approx(total, abs=0.5)


def test_tail_safe_line_small_catalog_keeps_everything(bench):
    timings = _fake_timings(10)
    line = bench._tail_safe_line(sum(timings.values()), timings, "0.01", "8")
    rec = json.loads(line)
    assert len(rec["queries"]) == 10
    assert rec["queries_omitted"] == 0
    assert rec["omitted_total_sec"] == 0


def test_tail_safe_line_huge_catalog_still_fits(bench):
    timings = _fake_timings(500)
    line = bench._tail_safe_line(sum(timings.values()), timings, "0.1", "32")
    assert len(line) <= 1900
    rec = json.loads(line)
    assert rec["queries_omitted"] == 500 - len(rec["queries"])


#: the nine scale-ratio extras and their stage names, as bench.py runs them
_RATIO_STAGES = {
    "corpus_pipeline_10x": ("quality", "dedup", "decontaminate", "mixture", "packing"),
    "unigram_zipf": ("word_table_s", "train_s", "encode_s"),
    "wordpiece_zipf": ("train_s", "per_merge_s", "vocab_s", "encode_s"),
    "probe_dim768": ("train_s", "predict_s"),
    "charclf_zipf": ("train_s", "predict_s"),
    "spans_ratio": ("keep_first_mask_s", "maximal_spans_s"),
    "setsim_ratio": ("setsim_s",),
    "lm_backoff_ratio": ("train_s", "score_s"),
    "pq_ratio": ("train_s", "encode_s", "adc_s"),
}


def test_tail_safe_line_carries_the_scale_ratios(bench):
    rng = random.Random(2)
    ratios = {
        extra: {stage: round(rng.uniform(0.5, 120), 2) for stage in stages}
        for extra, stages in _RATIO_STAGES.items()
    }
    timings = _fake_timings(500)
    total = round(sum(timings.values()), 3)
    flagged = sorted(timings)[:40]
    line = bench._tail_safe_line(
        total,
        timings,
        "0.1",
        "32",
        prev_round=16,
        vs_prev={n: 1.31 for n in flagged},
        suspect_load=flagged,
        band_exceeded={n: {} for n in flagged},
        band_window_ratio=1.07,
        ratios=ratios,
    )
    assert len(line) <= 1900
    rich = json.dumps({"queries": timings, "extras": ratios})
    rec = json.loads((rich + "\n" + line)[-2000:].splitlines()[-1])
    assert rec["value"] == total
    assert rec["ratio_10x"] == {
        extra: {stage.removesuffix("_s"): round(r, 1) for stage, r in stages.items()}
        for extra, stages in ratios.items()
    }


@pytest.mark.parametrize("nested", [False, True], ids=["top_level_s_keys", "stages_dict"])
def test_scale_ratio_counts_two_runs_and_skips_zero_stages(bench, monkeypatch, nested):
    released = []
    monkeypatch.setattr(bench, "_release", lambda: released.append(True))
    walls = {
        2: {"a_s": 7.0, "b_s": 7.0, "c_s": 7.0},  # the uncounted warm-up
        10: {"a_s": 1.0, "b_s": 0.5, "c_s": 0.0},
        100: {"a_s": 12.0, "b_s": 2.0, "c_s": 3.0},
    }

    def run(n):
        if nested:
            return {"docs": n, "stages": walls[n], "total_s": sum(walls[n].values())}
        return {"docs": n, **walls[n]}

    out = bench._scale_ratio(run, (2, 10, 100))
    assert set(out) == {"1x", "10x", "stage_ratio_10x_over_1x"}
    assert (out["1x"]["docs"], out["10x"]["docs"]) == (10, 100)
    # a stage that took 0 s at 1x has no ratio, and nothing raised
    assert out["stage_ratio_10x_over_1x"] == {"a_s": 12.0, "b_s": 4.0}
    assert len(released) == 3  # every run, the warm-up included, is cleaned up
