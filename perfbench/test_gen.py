"""Generator determinism: the same seed gives the same bytes.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

import gen  # noqa: E402


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(os.path.basename(p).encode() + f.read())
    return h.hexdigest()


def _raw(tmp_path, seed: int, name: str) -> str:
    table = gen.ticks(seed, 5000, symbols=50, rate_per_s=100.0, zipf_s=1.1, bad_share=0.02)
    return _digest(gen.write_raw_files(table, str(tmp_path / name), [2000, 2000, 1000]))


def _sf(tmp_path, seed: int, name: str) -> str:
    out = tmp_path / name
    gen.write_sf_dir(seed, str(out), scale=0.001)
    return _digest([str(p) for p in out.iterdir()])


def test_ticks_same_seed_same_bytes(tmp_path):
    assert _raw(tmp_path, 7, "a") == _raw(tmp_path, 7, "b")
    assert _raw(tmp_path, 7, "a") != _raw(tmp_path, 8, "c")


def test_sf_dir_same_seed_same_bytes(tmp_path):
    assert _sf(tmp_path, 7, "a") == _sf(tmp_path, 7, "b")
    assert _sf(tmp_path, 7, "a") != _sf(tmp_path, 8, "c")


def test_ticks_traffic_shape():
    t = gen.ticks(3, 20_000, symbols=100, rate_per_s=100.0, zipf_s=1.1, bad_share=0.02).to_pandas()
    # a share of messages the silver gate must drop
    assert 0.005 < 1 - t.is_tick.mean() < 0.05
    # both venues, Zipf skew: the top symbol far above the median one
    assert set(t.venue) == set(gen.VENUES)
    counts = t.symbol.value_counts()
    assert counts.iloc[0] > 10 * counts.median()
    # event times run out of order, but never by more than the bound
    ev = t.event_us.to_numpy()  # rows are in stream order
    lag = np.maximum.accumulate(ev) - ev
    assert lag.max() > 0
    assert lag.max() <= gen.MAX_DISORDER_US


def _delta(tmp_path, seed: int, name: str) -> str:
    t = gen.ticks(seed, 300, symbols=5, rate_per_s=10.0, zipf_s=0.0, bad_share=0.0)
    t = t.select(["symbol", "price_cents", "event_us"])
    out = tmp_path / name
    gen.write_delta_history(str(out), [t.slice(0, 100), t.slice(100, 200)], seed=seed)
    return _digest([str(p) for p in out.rglob("*") if p.is_file()])


def test_delta_history_same_seed_same_bytes(tmp_path):
    a = _delta(tmp_path, 7, "a")
    assert a == _delta(tmp_path, 7, "b")
    assert a != _delta(tmp_path, 8, "c")
