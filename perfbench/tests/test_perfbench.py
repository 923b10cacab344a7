"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, os.path.join(ROOT, "scripts")):
    if p not in sys.path:
        sys.path.insert(0, p)

import pandas as pd  # noqa: E402

from data import gen_documents, gen_events, stage  # noqa: E402
from harness import (REF_MIPS, HostSpeed, Outcome, canon_rows, grouped, percentile,  # noqa: E402
                     same_multiset, tail)


def test_percentile_needs_ten_samples_beyond():
    assert percentile(range(19), 50) == {"q": 50, "value": None, "n": 19}
    assert percentile(range(20), 50) == {"q": 50, "value": 9, "n": 20}
    assert percentile(range(100), 90)["value"] == 89
    assert percentile(range(99), 90)["value"] is None
    assert percentile([], 50) == {"q": 50, "value": None, "n": 0}


def test_tail_is_highest_supported_percentile():
    assert tail(range(100))["q"] == 90.0
    assert tail(range(200))["q"] == 95.0
    assert tail(range(40))["q"] == 75.0
    assert tail(range(8)) == {"q": None, "value": None, "n": 8}


def test_grouped_support_counts_groups_not_samples():
    # 1,000 samples in 5 batches: plenty of samples, too few batches
    few = {b: [float(b)] * 200 for b in range(5)}
    assert grouped(few, 50) == {"q": 50, "value": None, "n": 5}
    many = {b: [float(b)] * 3 for b in range(30)}
    p = grouped(many, 50)
    assert p["n"] == 30 and p["value"] == 14.0
    assert tail(many, grouped)["q"] == 50.0
    assert tail(few, grouped) == {"q": None, "value": None, "n": 5}


def test_host_speed_scale_is_mean_probe_over_reference():
    hs = HostSpeed()
    hs.samples = [REF_MIPS * f for f in (0.5, 2.0, 0.75, 0.75, 1.0)]
    assert abs(hs.scale() - 1.0) < 1e-12
    hs.sample(2)
    assert len(hs.samples) == 7 and hs.samples[-1] > 0


def _result():
    cols = ["conv_id", "alt_id", "u_turn_idx", "a_turn_idx", "t_turn_idx"]
    rows = [("c1", 0, 0, 1, 2), ("c1", 0, 0, 1, 4), ("c2", 0, 3, 5, 6)]
    return cols, rows


def test_oracle_compare_is_order_free_and_column_order_free():
    cols, rows = _result()
    swapped = [cols[1], cols[0]] + cols[2:]
    rows_swapped = [(r[1], r[0]) + r[2:] for r in reversed(rows)]
    assert same_multiset(canon_rows(cols, rows), canon_rows(swapped, rows_swapped))


def test_perturbed_results_are_caught_and_counted():
    cols, rows = _result()
    oracle = canon_rows(cols, rows)
    dropped = rows[:-1]
    changed = [rows[0], rows[1], ("c2", 0, 3, 5, 7)]
    duplicated = rows + [rows[0]]
    out = Outcome()
    out.record(same_multiset(canon_rows(cols, rows), oracle), "exact")
    for bad in (dropped, changed, duplicated):
        out.record(same_multiset(canon_rows(cols, bad), oracle), "perturbed")
    assert (out.attempted, out.failed) == (4, 3)
    assert out.fail_ratio() == 0.75
    assert out.reasons == ["perturbed"] * 3


def test_inputs_are_seeded():
    pd.testing.assert_frame_equal(gen_events(3, 2_000), gen_events(3, 2_000))
    assert not gen_events(3, 2_000).equals(gen_events(4, 2_000))
    docs = gen_documents(3, 400, 20)
    assert docs["text"].str.endswith(" dup").sum() == 20
    assert (docs["n_chars"] == docs["text"].str.len()).all()


def test_staging_is_keyed_by_content(tmp_path):
    ev = gen_events(1, 1_000)
    a = stage(str(tmp_path), "sf", 1, 1_000, {"events": ev})
    assert stage(str(tmp_path), "sf", 1, 1_000, {"events": ev}) == a
    # same (generator, seed, size) with other content gets its own directory
    b = stage(str(tmp_path), "sf", 1, 1_000, {"events": gen_events(2, 1_000)})
    assert b != a
    # a directory whose recorded digests do not match is rewritten
    with open(os.path.join(a, "_digests.json"), "w") as f:
        f.write('{"events": "stale"}')
    os.remove(os.path.join(a, "events.parquet", "part-0000.parquet"))
    assert stage(str(tmp_path), "sf", 1, 1_000, {"events": ev}) == a
    back = pd.read_parquet(os.path.join(a, "events.parquet"))
    pd.testing.assert_frame_equal(back, ev)
