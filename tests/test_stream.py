"""Streaming NFA: batch≡stream parity, disorder, late drops, resume,
exactly-once sink (SURVEY.md §5.2 items 5-6).

Parity definition (stream.py docstring): the stream emits exactly the
matches SEALED by the final watermark.  Because Spark watermarks are
ms-floored and event times are µs, the globally-last events stay
unsealed until a later event advances the watermark — tests either
compare against the sealed subset or append a flush event.
"""

from __future__ import annotations

import os
import shutil
from datetime import timedelta

import numpy as np
import pandas as pd
import pytest

from cep_spark.batch import match_group_nfa, run_batch
from cep_spark.compiler import compile_pattern
from cep_spark.pattern import And_, Ev, Kleene, Neg, Pattern, Seq
from cep_spark.sink import ExactlyOnceParquetSink
from cep_spark.stream import run_stream

SF = "/root/testdata/sf0.001"


def _pat(struct, window=timedelta(hours=24), where=None):
    from cep_spark.conditions import TRUE

    return Pattern(
        struct,
        where=where if where is not None else TRUE,
        window=window,
        key="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
    )


def _write_pq(pdf: pd.DataFrame, path: str):
    pdf = pdf.copy()
    for c in pdf.columns:  # Spark cannot read TIMESTAMP(NANOS) parquet
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    pdf.to_parquet(path, index=False)


def _split_files(pdf: pd.DataFrame, dirpath: str, k: int, order_col="ts"):
    shutil.rmtree(dirpath, ignore_errors=True)
    os.makedirs(dirpath, exist_ok=True)
    pdf = pdf.sort_values(order_col).reset_index(drop=True)
    n = len(pdf)
    for i in range(k):
        _write_pq(pdf.iloc[i * n // k : (i + 1) * n // k], f"{dirpath}/part{i:03d}.parquet")


def _run(spark, src, cp, watermark, ckpt, name, timeout=240):
    sm = run_stream(spark, src, cp, watermark=watermark)
    q = (
        sm.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return spark.sql(f"SELECT * FROM {name}")


def _canon(rows):
    return sorted(tuple(r) for r in rows)


def _match_last_ts_ns(binding: dict, ts_ns: np.ndarray) -> int:
    """Event-time (ns) of a match's last bound event."""
    last = -1
    for p in binding.values():
        for pos in p if isinstance(p, tuple) else (p,):
            last = max(last, int(ts_ns[pos]))
    return last


def _sealed_batch(spark, events_pdf, cp, wm_ms):
    """Batch matches restricted to last-event-ts <= watermark (ms)."""
    rows = []
    for uid, g in events_pdf.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"]).reset_index(drop=True)
        ts_ns = g["ts"].to_numpy().astype("datetime64[ns]").astype(np.int64)
        from cep_spark.batch import matches_to_pdf_flat

        res = [
            (a, b)
            for a, b in match_group_nfa(cp, g)
            if _match_last_ts_ns(b, ts_ns) <= wm_ms * 1_000_000
        ]
        if res:
            rows.append(matches_to_pdf_flat(cp, g, uid, res=res))
    if not rows:
        return []
    out = pd.concat(rows, ignore_index=True)
    return [tuple(None if pd.isna(v) else int(v) if isinstance(v, (np.integer,)) else v for v in r)
            for r in out.itertuples(index=False, name=None)]


@pytest.fixture(scope="module")
def events_pdf():
    return pd.read_parquet(f"{SF}/events.parquet")


def _flush_row(events_pdf, days=30, event_type="signup"):
    """One event on a fresh key far in the future: it must be
    PATTERN-RELEVANT (survive the unary prefilter) because Spark's
    watermark advances on the rows reaching the EventTimeWatermark node
    — Catalyst pushes the prefilter below it.  It matches nothing (its
    own key holds a single event)."""
    r = events_pdf.iloc[[0]].copy()
    r["user_id"] = -1
    r["event_id"] = 10**12
    r["event_type"] = event_type
    r["ts"] = events_pdf["ts"].max() + pd.Timedelta(days=days)
    return r


def test_parity_with_flush(spark, events_pdf, tmp_path):
    """With a flush event sealing everything: stream == batch exactly."""
    pat = _pat(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")))
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)], ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_flush")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    assert got.count() == 88  # pinned from the verify recipe


def test_parity_sealed_subset(spark, events_pdf, tmp_path):
    """Without a flush: stream == batch restricted to sealed matches."""
    pat = _pat(
        Seq(Ev("a", event_type="signup"), Kleene(Ev("k", event_type="click"), max_len=3),
            Ev("c", event_type="purchase"))
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    _split_files(events_pdf, src, k=4)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_sealed")
    wm_ms = int(events_pdf["ts"].max().value // 1_000_000)  # delay=0 watermark
    expected = _sealed_batch(spark, events_pdf, cp, wm_ms)
    got_rows = [
        tuple(None if v is None else v for v in r) for r in got.collect()
    ]
    assert sorted(got_rows) == sorted(expected)


def test_parity_branch_group(spark, events_pdf, tmp_path):
    """Round 5: a multi-event (Seq) branch inside an Or_ position of an
    UNBOUNDED group through the REAL streaming state store — the
    (position, branch, next_idx) mid pointer and the branch partial
    tables must survive pickled state roundtrips across micro-batches.
    A flush event seals everything: stream == batch exactly."""
    from cep_spark.pattern import Or_

    pat = _pat(
        Seq(Kleene(Seq(Ev("u", event_type="view"),
                       Or_(Seq(Ev("w", event_type="click"),
                               Ev("x", event_type="signup")),
                           Ev("y", event_type="error")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=12),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_brgrp")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    assert got.count() == 5  # pinned from the sf0.001 entry-shape probe


def test_parity_branch_neg_group(spark, events_pdf, tmp_path):
    """Round 5, session 4: a Neg strictly BETWEEN two leaves of a Seq
    branch through the REAL streaming state store — the within-branch
    gap check must see the same sealed-event history across micro-batch
    cuts.  48h window: the gap Neg kills 8 of the 116 unguarded matches
    on sf0.001 (probe-pinned), so a no-op gap check fails this test."""
    from cep_spark.pattern import Or_

    pat = _pat(
        Seq(Kleene(Seq(Ev("u", event_type="view"),
                       Or_(Seq(Ev("w", event_type="click"),
                               Neg(Ev("n", event_type="error")),
                               Ev("x", event_type="signup")),
                           Ev("y", event_type="error")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=48),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_brneg")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")

    def _nn(rows):  # None-safe: absent branch vars are NULL columns
        return sorted(
            (tuple((v is None, v) for v in r) for r in rows)
        )

    assert _nn(got.collect()) == _nn(batch.collect())
    assert got.count() == 108  # 116 without the in-branch Neg


def test_parity_nested_unbounded_kleene(spark, events_pdf, tmp_path):
    """Round 5, session 16: an UNBOUNDED leaf Kleene nested inside the
    unbounded repetition through the REAL streaming state store — a
    click RUN must keep extending across micro-batch cuts (the
    loop_cont self-loop fires on partials restored from pickled state),
    and the flat element tuple must attribute later-batch elements to
    the latest repetition.  48h window on sf0.001: 191 matches, 74 of
    them with more elements than repetitions (multi-element runs) —
    probe-pinned, so a lowering that caps runs at one element fails
    this test."""
    pat = _pat(
        Seq(Kleene(Seq(Ev("a", event_type="view"),
                       Kleene(Ev("b", event_type="click")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=48),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf,
                                                   event_type="purchase")],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_loop")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp,
                      mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    rows = got.collect()
    assert len(rows) == 191
    assert sum(1 for r in rows if r["b_len"] > r["a_len"]) == 74


def test_parity_loop_first_position(spark, events_pdf, tmp_path):
    """Round 5, session 17: the unbounded nested leaf Kleene STARTS the
    repetition body — through the REAL streaming state store.  A click
    RUN that OPENS a repetition must keep extending across micro-batch
    cuts (loop_cont on restored partials), and a loop-back entry in a
    later batch must open repetition j+1 strictly after repetition j's
    anchor.  96h window on sf0.001: 486 matches, 61 multi-repetition
    (the loop-back entry path) and 209 with more elements than
    repetitions (multi-element runs) — probe-pinned, so a lowering
    that caps runs at one element or misses the loop-back fails."""
    pat = _pat(
        Seq(Kleene(Seq(Kleene(Ev("b", event_type="click")),
                       Ev("a", event_type="view"))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=96),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf,
                                                   event_type="purchase")],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"),
               "m_loop_first")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp,
                      mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    rows = got.collect()
    assert len(rows) == 486
    assert sum(1 for r in rows if r["a_len"] > 1) == 61
    assert sum(1 for r in rows if r["b_len"] > r["a_len"]) == 209


def test_parity_loop_unit(spark, events_pdf, tmp_path):
    """Round 5, session 18: an UNBOUNDED COMPOSITE (Seq-of-leaves)
    Kleene nested inside the unbounded repetition — a looping UNIT
    position — through the REAL streaming state store.  A unit
    half-open at a micro-batch cut (click bound, signup pending) must
    restore with its (j, 0, k) mid pointer and complete from persisted
    state, and re-entries for further inner repetitions must extend
    across cuts.  144h window on sf0.001: 716 matches, 85
    multi-repetition (loop-back) and 107 with more units than
    repetitions (the re-entry path) — probe-pinned, so a lowering that
    caps units at one per repetition or loses half-open unit state
    fails."""
    pat = _pat(
        Seq(Kleene(Seq(Ev("a", event_type="view"),
                       Kleene(Seq(Ev("b", event_type="click"),
                                  Ev("c", event_type="signup"))))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=144),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf,
                                                   event_type="purchase")],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"),
               "m_loop_unit")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp,
                      mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    rows = got.collect()
    assert len(rows) == 716
    assert sum(1 for r in rows if r["a_len"] > 1) == 85
    assert sum(1 for r in rows if r["b_len"] > r["a_len"]) == 107


def test_parity_dist_or_group(spark, events_pdf, tmp_path):
    """Round 5, session 12: an Or_ NESTED inside the Seq branch —
    distributed at compile time into __d{k}-renamed units — through the
    REAL streaming state store.  The sparse per-unit tuples and the
    (position, unit, next_idx) mid pointer must survive pickled state
    roundtrips across micro-batch cuts exactly like hand-written
    branches.  48h window: 194 rows at sf0.001 (43 multi-repetition,
    28 binding >= 2 distinct units across repetitions — probe-pinned),
    so both the loop-back and the unit sparsity are load-bearing."""
    import __spark_entry__ as entry_mod

    cp = compile_pattern(entry_mod._KLEENE_DIST_OR_PAT)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"),
               "m_distor")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp,
                      mode="flat")

    def _nn(rows):  # None-safe: unchosen unit vars are NULL columns
        return sorted(
            (tuple((v is None, v) for v in r) for r in rows)
        )

    assert _nn(got.collect()) == _nn(batch.collect())
    assert got.count() == 194


def _nn_rows(rows):  # None-safe sort: absent branch vars are NULL columns
    return sorted(tuple((v is None, v) for v in r) for r in rows)


def test_parity_dist_and_ext_group(spark, events_pdf, tmp_path):
    """Round 5, session 13: an And_ with a SEQ member AS a branch —
    distributed over LINEAR EXTENSIONS (the (w, v) pair stays ordered,
    the leaf x interleaves: units wvx | wxv | xwv) — through the REAL
    streaming state store.  48h window at sf0.001: 123 rows, 15
    multi-repetition, all THREE extension units bound (11/9/11) and 31
    rows mixing units across repetitions (probe-pinned), so the
    per-extension unit choice and the loop-back both survive pickled
    state roundtrips."""
    from cep_spark.pattern import Or_

    pat = _pat(
        Seq(Kleene(Seq(Ev("u", event_type="view"),
                       Or_(And_(Seq(Ev("w", event_type="click"),
                                    Ev("v", event_type="signup")),
                                Ev("x", event_type="error")),
                           Ev("c", event_type="error")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=48),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"),
               "m_distand")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp,
                      mode="flat")
    assert _nn_rows(got.collect()) == _nn_rows(batch.collect())
    assert got.count() == 123


def test_parity_dist_and_mem_neg_group(spark, events_pdf, tmp_path):
    """Round 5, session 14: a Neg BETWEEN two leaves of the And_'s Seq
    member — re-split into each extension's sub-gaps at compile time —
    through the REAL streaming state store.  The killer type EQUALS the
    sibling member's type, so in the (w, x, v) extension the bound x
    sits INSIDE the guarded (w, v) interval: rows survive only because
    bound events are excluded from gap kills, whether the killer and
    the flanking events arrive in the same or different micro-batches.
    48h window at sf0.001: 111 rows (123 without the Neg), all three
    extension units bound (6/7/6) — a raw unexcluded gap check zeroes
    the __d2 unit and fails the pin."""
    from cep_spark.pattern import Or_

    pat = _pat(
        Seq(Kleene(Seq(Ev("u", event_type="view"),
                       Or_(And_(Seq(Ev("w", event_type="click"),
                                    Neg(Ev("n", event_type="error")),
                                    Ev("v", event_type="signup")),
                                Ev("x", event_type="error")),
                           Ev("c", event_type="error")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=48),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"),
               "m_distmemneg")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp,
                      mode="flat")
    assert _nn_rows(got.collect()) == _nn_rows(batch.collect())
    pdf = got.toPandas()
    assert len(pdf) == 111
    assert int(pdf["w__d2_len"].notna().sum()) == 7  # exclusion-pinned


def test_parity_branch_trail_neg_group(spark, events_pdf, tmp_path):
    """Round 5, session 5: a Neg TRAILING a Seq branch — its gap closes
    OUTSIDE the branch (loop-back between repetitions + bubbled gap to
    the part after the group), branch-gated by NegSpec.br_guard —
    through the REAL streaming state store.  48h window: the guarded
    gap kills 46 of the 231 unguarded matches on sf0.001
    (probe-pinned), so a no-op OR an unconditionally-applied gap check
    fails this test."""
    from cep_spark.pattern import Or_

    pat = _pat(
        Seq(Kleene(Seq(Ev("u", event_type="view"),
                       Or_(Seq(Ev("w", event_type="click"),
                               Neg(Ev("n", event_type="error"))),
                           Ev("y", event_type="error")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=48),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    # the flush must be PATTERN-RELEVANT (this pattern has no signup
    # slot — a signup flush is dropped below the watermark node and the
    # final purchases never seal; see _flush_row's docstring)
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf,
                                                   event_type="purchase")],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_brtneg")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert _nn_rows(got.collect()) == _nn_rows(batch.collect())
    assert got.count() == 185  # 231 without the trailing branch Neg


def test_parity_branch_trail_neg_group_pattern_end(spark, events_pdf, tmp_path):
    """Same trailing-branch Neg with the group ENDING the pattern: the
    final repetition's gap becomes a window-bounded trailing edge check
    — matches PARK until first.ts + W and the parked re-verification
    must apply the branch gate (24h window: 38 matches, 41 without the
    Neg — probe-pinned)."""
    from cep_spark.pattern import Or_

    pat = _pat(
        Seq(Ev("s", event_type="signup"),
            Kleene(Seq(Ev("u", event_type="view"),
                       Or_(Seq(Ev("w", event_type="click"),
                               Neg(Ev("n", event_type="error"))),
                           Ev("y", event_type="purchase"))))),
        window=timedelta(hours=24),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_brtend")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert _nn_rows(got.collect()) == _nn_rows(batch.collect())
    assert got.count() == 38  # 41 without the trailing branch Neg


def test_parity_and_pos_group(spark, events_pdf, tmp_path):
    """Round 5, session 6: an And_ POSITION inside an unbounded Seq
    repetition through the REAL streaming state store — the conjunctive
    mid pointer (grp_idx, bound-member set) and the member partial
    tables must survive pickled state roundtrips across micro-batch
    cuts, with members arriving in either order.  The entry-gated gap
    Neg INTO the position kills 13 of the 43 unguarded matches on
    sf0.001 at 48h (probe-pinned), so a gap check applied at every
    member bind — or at none — fails one of the two counts."""
    pat = _pat(
        Seq(Kleene(Seq(Ev("a", event_type="view"),
                       Neg(Ev("n", event_type="error")),
                       And_(Ev("w", event_type="click"),
                            Ev("x", event_type="signup")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=48),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_andpos")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    assert got.count() == 30  # 43 without the Neg into the position


def test_parity_and_pos_seq_member(spark, events_pdf, tmp_path):
    """Round 5, session 7: a Seq-of-leaves MEMBER inside the And_
    position through the REAL streaming state store — the per-member
    progress mid pointer ((br, cnt) pairs) must survive pickled state
    roundtrips across micro-batch cuts.  96h is the smallest window
    where sf0.001 yields multi-repetition matches (208 rows, 6 of them
    2-repetition), so the conjunctive loop-back is load-bearing; the
    member ORDER (click before the second view) is too — the order-free
    all-leaf reading matches a different set."""
    pat = _pat(
        Seq(Kleene(Seq(Ev("a", event_type="view"),
                       And_(Seq(Ev("w", event_type="click"),
                                Ev("v", event_type="view")),
                            Ev("x", event_type="signup")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=96),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_apseq")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    assert got.count() == 208
    assert batch.where("a_len = 2").count() == 6  # loop-back exercised


def test_parity_bare_and_member_body(spark, events_pdf, tmp_path):
    """Round 5, session 10: a BARE And_ body with a Seq member through
    the REAL streaming state store — the whole repetition is ONE
    pos_all position (no Seq anchor), so the repetition boundary is the
    position completion itself; the per-member mid pointer and the
    loop-back must survive pickled state roundtrips.  96h on sf0.001:
    497 rows, 44 multi-repetition (probe-pinned)."""
    pat = _pat(
        Seq(Kleene(And_(Seq(Ev("w", event_type="click"),
                            Ev("v", event_type="view")),
                        Ev("x", event_type="signup"))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=96),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_bamem")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    assert got.count() == 497
    assert batch.where("w_len > 1").count() == 44


def test_parity_and_pos_or_member(spark, events_pdf, tmp_path):
    """Round 5, session 9: an Or_ MEMBER of an And_ position through
    the REAL streaming state store — the branch-unit mid pointer
    ((unit, cnt) pairs with member-shared identity) and the sparse unit
    element tuples must survive pickled state roundtrips across
    micro-batch cuts, with different repetitions choosing different
    branches.  96h on sf0.001: 883 rows, 210 multi-repetition, 130
    binding BOTH branches across repetitions (probe-pinned) — a
    member gate that lets both branches bind in one repetition, or
    blocks the second branch across repetitions, fails the counts."""
    from cep_spark.pattern import Or_

    pat = _pat(
        Seq(Kleene(Seq(Ev("a", event_type="view"),
                       And_(Or_(Ev("b", event_type="click"),
                                Ev("c", event_type="error")),
                            Ev("x", event_type="signup")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=96),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_aporm")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert _nn_rows(got.collect()) == _nn_rows(batch.collect())
    assert got.count() == 883
    assert batch.where("a_len > 1").count() == 210
    assert batch.where("b_len IS NOT NULL AND c_len IS NOT NULL").count() == 130


def test_parity_and_pos_member_neg(spark, events_pdf, tmp_path):
    """Round 5, session 8: a Neg INSIDE the Seq member of an And_
    position through the REAL streaming state store — the member-scoped
    gap (NegSpec.mem_gap, fires at a MID-position bind with pre_vars =
    the member's previous leaf only) must hold when the guarded (w, v)
    interval spans micro-batch cuts and when the sibling x binds inside
    it.  The Neg kills 109 of the 208 unguarded sf0.001 matches at 96h
    (probe-pinned), so a gap evaluated at the wrong bind — or with the
    sibling raising its left boundary — fails the count."""
    pat = _pat(
        Seq(Kleene(Seq(Ev("a", event_type="view"),
                       And_(Seq(Ev("w", event_type="click"),
                                Neg(Ev("n", event_type="error")),
                                Ev("v", event_type="view")),
                            Ev("x", event_type="signup")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=96),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_apmneg")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    assert got.count() == 99  # 208 without the member-interior Neg


def test_parity_bare_and_lead_member_neg(spark, events_pdf, tmp_path):
    """Round 5, session 11: a LEADING member Neg in a bare And_ body
    through the REAL streaming state store — the gap's left boundary is
    the PREVIOUS repetition's last event, supplied per transition
    (Transition.gap_pre) because a single-position group has no other
    position to anchor it.  96h on sf0.001: the Neg kills 59 of the 234
    unguarded matches and 12 of the 32 multi-repetition ones
    (probe-pinned) — an anchor-anchored boundary (the pre-fix bug)
    over-kills the 20 surviving multi-repetition matches, and a missing
    gap check keeps all 234."""
    pat = _pat(
        Seq(Ev("a", event_type="view"),
            Kleene(And_(Seq(Neg(Ev("n", event_type="error")),
                            Ev("w", event_type="click"),
                            Ev("v", event_type="view")),
                        Ev("x", event_type="signup"))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=96),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)],
                           ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_balmn")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    assert got.count() == 175  # 234 without the leading member Neg
    assert batch.where("w_len > 1").count() == 20  # 32 unguarded


def test_disorder_within_watermark(spark, events_pdf, tmp_path):
    """Arrival order shuffled within a bounded disorder window; watermark
    covers the disorder -> same matches as in-order batch."""
    pat = _pat(Seq(Ev("a", event_type="view"), Ev("b", event_type="purchase")),
               window=timedelta(hours=12))
    cp = compile_pattern(pat)
    rng = np.random.default_rng(7)
    arr = events_pdf.copy()
    jitter = rng.integers(0, 10 * 60 * 1000, len(arr))  # <=10 min disorder
    arr["arrival_key"] = arr["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64) + jitter
    arr = arr.sort_values("arrival_key").drop(columns=["arrival_key"])
    arr = pd.concat([arr, _flush_row(events_pdf, event_type="purchase")], ignore_index=True)
    src = str(tmp_path / "src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    n = len(arr)
    for i in range(6):  # split in ARRIVAL order (not ts order)
        _write_pq(arr.iloc[i * n // 6 : (i + 1) * n // 6], f"{src}/p{i:03d}.parquet")
    got = _run(spark, src, cp, "15 minutes", str(tmp_path / "ckpt"), "m_disorder")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())


def test_late_events_dropped(spark, events_pdf, tmp_path):
    """An event arriving after its ts was sealed is dropped; the stream
    equals batch over the effective (on-time) input."""
    pat = _pat(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")))
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    on_time = events_pdf.sort_values("ts").reset_index(drop=True)
    late = on_time.iloc[[100]].copy()  # replayed much later
    on_time_wo = on_time.drop(on_time.index[100]).reset_index(drop=True)
    n = len(on_time_wo)
    for i in range(3):
        _write_pq(on_time_wo.iloc[i * n // 3 : (i + 1) * n // 3], f"{src}/p{i:03d}.parquet")
    _write_pq(late, f"{src}/p900_late.parquet")  # arrives last
    flush = _flush_row(events_pdf)
    _write_pq(flush, f"{src}/p901_flush.parquet")
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_late")
    eff = spark.createDataFrame(on_time_wo)
    batch = run_batch(eff, cp, mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())


def test_late_rows_dropped_reported(spark, events_pdf, tmp_path):
    """A late arrival is counted: user 1's purchase at +30 min arrives
    after user 1's timer fired at the +2 h watermark (one file per
    micro-batch; the middle file's batch fires the timers).  Spark's
    stateful operator drops it before the state function sees it, so
    the listener's ``late_rows_dropped`` (Spark's per-batch count plus
    the query's ``.late_dropped`` accumulator) reports it once."""
    import time

    from cep_spark.metrics import CepMetricsListener

    pat = _pat(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")))
    cp = compile_pattern(pat)
    t0 = pd.Timestamp("2024-01-01")

    def rows(spec, first_id):
        df = events_pdf.iloc[:len(spec)].copy()
        df["user_id"] = [u for u, _, _ in spec]
        df["event_type"] = [e for _, e, _ in spec]
        df["ts"] = [t0 + pd.Timedelta(minutes=m) for _, _, m in spec]
        df["event_id"] = np.arange(first_id, first_id + len(spec))
        return df

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    _write_pq(rows([(1, "signup", 0), (1, "purchase", 60), (2, "signup", 120)], 0),
              f"{src}/p000.parquet")
    _write_pq(rows([(3, "signup", 150)], 3), f"{src}/p001.parquet")
    _write_pq(rows([(1, "purchase", 30)], 4), f"{src}/p002_late.parquet")
    sm = run_stream(spark, src, cp, watermark="0 seconds")
    listener = CepMetricsListener(late_dropped=sm.late_dropped)
    spark.streams.addListener(listener)
    try:
        q = (
            sm.writeStream.format("memory")
            .queryName("m_late_count")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        time.sleep(1)  # listener events are delivered asynchronously
    finally:
        spark.streams.removeListener(listener)
    assert q.exception() is None
    assert spark.sql("SELECT * FROM m_late_count").count() == 1  # (0, 1) only
    assert listener.late_rows_dropped() == 1
    assert listener.summary()["late_rows_dropped"] == 1


def test_resume_from_checkpoint_exactly_once(spark, events_pdf, tmp_path):
    """Stop after the first files, restart from the checkpoint with more
    files + flush: the union of emissions equals batch, no duplicates."""
    pat = _pat(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")))
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = ExactlyOnceParquetSink(str(tmp_path / "out"))
    sorted_ev = events_pdf.sort_values("ts").reset_index(drop=True)
    n = len(sorted_ev)
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    for i in range(3):  # first half in 3 files
        _write_pq(sorted_ev.iloc[i * n // 6 : (i + 1) * n // 6], f"{src}/p{i:03d}.parquet")

    def start():
        sm = run_stream(spark, src, cp, watermark="0 seconds")
        return (
            sm.writeStream.foreachBatch(out.foreach_batch())
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(240)  # run 1 drains the first 3 files and stops

    for i in range(3, 6):
        _write_pq(sorted_ev.iloc[i * n // 6 : (i + 1) * n // 6], f"{src}/p{i:03d}.parquet")
    _write_pq(_flush_row(events_pdf), f"{src}/p999_flush.parquet")
    q = start()  # resume from the same checkpoint
    q.awaitTermination(240)

    got = out.read_committed(spark)
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    got_rows = _canon(got.collect())
    assert got_rows == _canon(batch.collect())  # no loss, no duplicates


def test_single_pattern_v1_checkpoint_refused(spark, events_pdf, tmp_path):
    """Single-pattern queries keep their state in the multi-pattern
    layout (with its fmt column).  A checkpoint written with the
    earlier single-pattern state schema (buf, limbo, parts, parked,
    last_wm_ms, late_dropped, fellback) must be refused loudly at
    restart, not reinterpreted."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from cep_spark.batch import match_schema_flat, prefilter

    pat = _pat(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")))
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = ExactlyOnceParquetSink(str(tmp_path / "out"))
    sorted_ev = events_pdf.sort_values("ts").reset_index(drop=True)
    n = len(sorted_ev)
    os.makedirs(src, exist_ok=True)
    _write_pq(sorted_ev.iloc[: n // 2], f"{src}/p000.parquet")

    old_state = T.StructType([
        T.StructField("buf", T.BinaryType()),
        T.StructField("limbo", T.BinaryType()),
        T.StructField("parts", T.BinaryType()),
        T.StructField("parked", T.BinaryType()),
        T.StructField("last_wm_ms", T.LongType()),
        T.StructField("late_dropped", T.LongType()),
        T.StructField("fellback", T.IntegerType()),
    ])

    def old_fn(key, pdf_iter, state):
        for _ in pdf_iter:
            pass
        state.update((None, None, None, None, state.getCurrentWatermarkMs(), 0, 0))
        return iter([])

    sdf = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    sdf = sdf.withColumn("ts", sdf["ts"].cast(T.TimestampType()))
    sdf = prefilter(sdf.withWatermark("ts", "0 seconds"), cp)
    q = (
        sdf.groupBy("user_id").applyInPandasWithState(
            old_fn,
            outputStructType=match_schema_flat(cp, sdf.schema["user_id"].dataType),
            stateStructType=old_state,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .writeStream.foreachBatch(out.foreach_batch())
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert q.exception() is None
    committed = out.committed_batches()

    _write_pq(sorted_ev.iloc[n // 2:], f"{src}/p001.parquet")
    with pytest.raises(Exception) as err:
        q = (
            run_stream(spark, src, cp, watermark="0 seconds")
            .writeStream.foreachBatch(out.foreach_batch())
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
    # Spark's state-schema check refuses the restart before any batch
    assert "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE" in str(err.value)
    assert out.committed_batches() == committed


# --------------------------------------------------------------------------
# state layout and counters, driven through a fake GroupState (no Spark)


def _conv(roles, t0_s=0, turn0=0):
    n = len(roles)
    return pd.DataFrame({
        "conv_id": "c0",
        "turn_idx": np.arange(turn0, turn0 + n, dtype=np.int32),
        "role": roles,
        "ts": pd.Timestamp("2026-01-01")
        + pd.to_timedelta(t0_s + 5 * np.arange(n), unit="s"),
    })


def _layout_family():
    """A funnel that leaves partials waiting for a tool turn, and a
    trailing-negation rule whose matches park for the window."""
    from cep_spark.pattern import Neg

    w = timedelta(seconds=600)
    return [compile_pattern(p) for p in (
        Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant"),
                    Ev("c", role="tool")), window=w, pattern_id="funnel"),
        Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant"),
                    Neg(Ev("n", role="tool"))), window=w, pattern_id="tneg"),
    )]


def _call(fn, state, frames, wm_ms, timed_out=False):
    state.wm_ms, state.hasTimedOut, state.timer_ms = wm_ms, timed_out, None
    return list(fn(("c0",), iter(frames), state))


def _sealed_state(fn, state):
    """Feed four turns, then seal them all: the state then holds a
    buffer, partial tables and parked matches.  Returns the watermark."""
    first = _conv(["user", "assistant", "user", "assistant"])
    _call(fn, state, [first], 0)
    wm = int(first["ts"].max().value // 1_000_000)
    _call(fn, state, [], wm, timed_out=True)
    return wm


def test_stream_state_passthrough_keeps_bytes():
    """A call where no limbo row seals and no parked match is due leaves
    the buffer, partial tables and parked matches byte-identical; only
    the limbo takes the new rows."""
    from test_stream_fn_property import FakeState

    from cep_spark.stream import _dec_cols, _make_multi_fn

    fn = _make_multi_fn(_layout_family(), ("turn_idx",))
    state = FakeState()
    wm = _sealed_state(fn, state)
    before = state._val
    assert all(before[i] is not None for i in (0, 2, 3))
    assert before[1] is None  # nothing above the watermark yet

    assert _call(fn, state, [_conv(["user", "assistant"], t0_s=20, turn0=4)], wm) == []
    after = state._val
    # not re-encoded at all: the very objects that were read
    assert all(after[i] is before[i] for i in (0, 2, 3))
    limbo = _dec_cols(after[1])
    assert list(limbo["turn_idx"]) == [4, 5]
    assert "conv_id" not in limbo  # the key is the call's, not stored
    assert state.timer_ms == int(limbo["ts"].min().astype("datetime64[ms]")
                                 .astype(np.int64))

    # the next seal rebuilds: the tool turn completes the funnel and
    # kills the parked matches whose look-ahead it falls in
    tool = _conv(["tool"], t0_s=30, turn0=6)
    _call(fn, state, [tool], wm)
    out = _call(fn, state, [], int(tool["ts"].max().value // 1_000_000),
                timed_out=True)
    got = pd.concat(out)
    assert set(got["pattern_id"]) == {"funnel"}
    assert state._val[3] is None  # no parked match survived the tool turn


def test_stream_state_pre_bump_format_refused():
    """State written in an earlier layout is refused with an error that
    names the format change, not reinterpreted: the Arrow-IPC layout
    (perpat-v1 / shared-v2) and the column-array layout under the
    fingerprint that still carried the group kind (perpat-v2 /
    shared-v3)."""
    import pyarrow as pa
    from test_stream_fn_property import FakeState

    from cep_spark.merge import merge_compiled
    from cep_spark.stream import _make_multi_fn

    cps = _layout_family()
    for merged, old, why in (
        (None, "perpat-v1", "Arrow-IPC"),
        (merge_compiled(cps), "shared-v2", "Arrow-IPC"),
        (None, "perpat-v2", "fingerprint was redefined"),
        (merge_compiled(cps), "shared-v3", "fingerprint was redefined"),
    ):
        fn = _make_multi_fn(cps, ("turn_idx",), merged=merged)
        state = FakeState()
        wm = _sealed_state(fn, state)
        fp = state._val[7].split(":", 1)[1]
        if why == "Arrow-IPC":
            table = pa.Table.from_pandas(_conv(["user", "assistant"]),
                                         preserve_index=False)
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, table.schema) as w:
                w.write_table(table)
            state._val = (sink.getvalue().to_pybytes(), None, None, None,
                          wm, 0, 0, f"{old}:{fp}")
        else:
            state._val = state._val[:7] + (f"{old}:{fp}",)
        with pytest.raises(RuntimeError,
                           match=f"format {old!r}.*{why}.*fresh checkpoint"):
            _call(fn, state, [_conv(["tool"], t0_s=30, turn0=6)], wm)


def test_stream_late_dropped_counted():
    """A row at or below the key's last emission watermark is dropped
    and counted once, in state and on the late-drop accumulator; an
    on-time row in the same call is kept."""
    from test_guard import _FakeAcc
    from test_stream_fn_property import FakeState

    from cep_spark.stream import _make_multi_fn

    acc = _FakeAcc()
    fn = _make_multi_fn(_layout_family(), ("turn_idx",), late_acc=acc)
    state = FakeState()
    wm = _sealed_state(fn, state)
    assert acc.value == 0 and state._val[5] == 0
    late = _conv(["tool"], t0_s=15, turn0=6)  # ts == the watermark
    on_time = _conv(["tool"], t0_s=30, turn0=7)
    _call(fn, state, [late, on_time], wm)
    assert acc.value == 1
    assert state._val[5] == 1


def test_resume_from_checkpoint_group_units(spark, events_pdf, tmp_path):
    """Session 9/10 state-restore pin: stop and RESTART a query over an
    Or_-member group family — partials holding conjunctive (unit, cnt)
    mid pointers and sparse unit element tuples at the stop boundary
    must restore from the checkpoint and complete after the restart;
    union of emissions == batch, no duplicates."""
    from cep_spark.pattern import Or_

    pat = _pat(
        Seq(Kleene(Seq(Ev("a", event_type="view"),
                       And_(Or_(Ev("b", event_type="click"),
                                Ev("c", event_type="error")),
                            Ev("x", event_type="signup")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=96),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = ExactlyOnceParquetSink(str(tmp_path / "out"))
    sorted_ev = events_pdf.sort_values("ts").reset_index(drop=True)
    n = len(sorted_ev)
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        _write_pq(sorted_ev.iloc[i * n // 6 : (i + 1) * n // 6],
                  f"{src}/p{i:03d}.parquet")

    def start():
        sm = run_stream(spark, src, cp, watermark="0 seconds")
        return (
            sm.writeStream.foreachBatch(out.foreach_batch())
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(240)

    for i in range(3, 6):
        _write_pq(sorted_ev.iloc[i * n // 6 : (i + 1) * n // 6],
                  f"{src}/p{i:03d}.parquet")
    _write_pq(_flush_row(events_pdf), f"{src}/p999_flush.parquet")
    q = start()
    q.awaitTermination(240)

    got = out.read_committed(spark)
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp,
                      mode="flat")
    assert _nn_rows(got.collect()) == _nn_rows(batch.collect())
    assert got.count() == 883  # the probe-pinned or_mem row set


def test_resume_from_checkpoint_loop_runs(spark, events_pdf, tmp_path):
    """Session 16 state-restore pin: stop and RESTART a query over the
    unbounded-nested-Kleene shape — partials whose click RUNS are open
    at the stop boundary must restore from the checkpoint and keep
    extending via loop_cont after the restart; union of emissions ==
    batch, no duplicates."""
    pat = _pat(
        Seq(Kleene(Seq(Ev("a", event_type="view"),
                       Kleene(Ev("b", event_type="click")))),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=48),
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = ExactlyOnceParquetSink(str(tmp_path / "out"))
    sorted_ev = events_pdf.sort_values("ts").reset_index(drop=True)
    n = len(sorted_ev)
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        _write_pq(sorted_ev.iloc[i * n // 6 : (i + 1) * n // 6],
                  f"{src}/p{i:03d}.parquet")

    def start():
        sm = run_stream(spark, src, cp, watermark="0 seconds")
        return (
            sm.writeStream.foreachBatch(out.foreach_batch())
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(240)

    for i in range(3, 6):
        _write_pq(sorted_ev.iloc[i * n // 6 : (i + 1) * n // 6],
                  f"{src}/p{i:03d}.parquet")
    _write_pq(_flush_row(events_pdf, event_type="purchase"),
              f"{src}/p999_flush.parquet")
    q = start()
    q.awaitTermination(240)

    got = out.read_committed(spark)
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp,
                      mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    rows = got.collect()
    assert len(rows) == 191  # the probe-pinned loop row set
    assert sum(1 for r in rows if r["b_len"] > r["a_len"]) == 74


def test_sink_idempotent_replay(spark, tmp_path):
    """Replaying a committed batch id is a no-op (manifest guard)."""
    out = ExactlyOnceParquetSink(str(tmp_path / "out"))
    df = spark.range(5).toDF("x")
    out.write(df, 7)
    files_before = sorted(os.listdir(os.path.join(out.data_dir, "batch_id=7")))
    out.write(spark.range(999).toDF("x"), 7)  # replay with different data
    files_after = sorted(os.listdir(os.path.join(out.data_dir, "batch_id=7")))
    assert files_before == files_after
    assert out.read_committed(spark).count() == 5
    assert out.committed_batches() == [7]


def test_stream_multi_pattern_parity(spark, events_pdf, tmp_path):
    """One keyed state stream running two patterns == union of the
    individual batch runs (array mode), after a flush seals everything."""
    from cep_spark.batch import run_batch
    from cep_spark.pattern import And_
    from cep_spark.stream import stream_matches_multi

    emit = ("event_id", "event_type", "ts")

    def mk(struct, pid, hours):
        return Pattern(struct, window=timedelta(hours=hours), key="user_id",
                       ts_col="ts", tiebreak_col="event_id", pattern_id=pid)

    cps = [
        compile_pattern(mk(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")), "seq2", 24)),
        compile_pattern(mk(And_(Ev("x", event_type="view"), Ev("y", event_type="error")), "and2", 6)),
    ]
    src = str(tmp_path / "src")
    with_flush = pd.concat(
        [events_pdf, _flush_row(events_pdf), _flush_row(events_pdf, days=31, event_type="view")],
        ignore_index=True,
    )
    # second flush row needs a distinct key: single-event keys match nothing
    _split_files(with_flush, src, k=4)
    sdf = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_matches_multi(sdf, cps, watermark="0 seconds", emit_cols=emit)
    q = (
        out.writeStream.format("memory").queryName("mp").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(240)

    def canon(rows):
        out = []
        for r in rows:
            ms = tuple((m["var"], m["event_id"]) for m in r["matched"])
            out.append((r["user_id"], r["pattern_id"], r["alt_id"], ms))
        return sorted(out)

    got = canon(spark.sql("SELECT * FROM mp").collect())
    ev_df = spark.read.parquet(f"{SF}/events.parquet")
    want = []
    for cp in cps:
        want.extend(canon(run_batch(ev_df, cp, mode="array", emit_cols=emit).collect()))
    assert got == sorted(want) and len(got) > 0


def test_rocksdb_state_store_parity(spark, events_pdf, tmp_path):
    """Same stream on the RocksDB state-store provider (the spill-capable
    store for 10^12-turn state) == batch result."""
    pat = _pat(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")))
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)], ignore_index=True)
    _split_files(with_flush, src, k=3)
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_rocks")
        batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
        assert _canon(got.collect()) == _canon(batch.collect())
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)


def test_stream_array_mode_parity(spark, events_pdf, tmp_path):
    """Array-mode streaming (pending-row Arrow round trip incl. nested
    struct column) == batch array mode."""
    pat = _pat(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")))
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)], ignore_index=True)
    _split_files(with_flush, src, k=4)
    from cep_spark.stream import run_stream as _rs

    emit = ("event_id", "event_type", "ts")
    sm = _rs(spark, src, cp, watermark="0 seconds", mode="array", emit_cols=emit)
    q = (
        sm.writeStream.format("memory").queryName("m_arr").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(240)

    def canon(rows):
        out = []
        for r in rows:
            ms = tuple((m["var"], m["event_id"]) for m in r["matched"])
            out.append((r["user_id"], r["pattern_id"], r["alt_id"], ms))
        return sorted(out)

    got = canon(spark.sql("SELECT * FROM m_arr").collect())
    want = canon(
        run_batch(
            spark.read.parquet(f"{SF}/events.parquet"), cp, mode="array", emit_cols=emit
        ).collect()
    )
    assert got == want and len(got) == 88


def test_stream_edge_negation_parity(spark, events_pdf, tmp_path):
    """Leading AND trailing negation in one pattern: stream == batch.
    Trailing negs seal matches at first.ts + window (not last event),
    and leading+trailing together widen buffer retention to 2x window —
    this test exercises both paths end-to-end."""
    pat = _pat(
        Seq(
            Neg(Ev("n", event_type="error")),
            Ev("a", event_type="signup"),
            Ev("b", event_type="purchase"),
            Neg(Ev("m", event_type="view")),
        )
    )
    cp = compile_pattern(pat)
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)], ignore_index=True)
    _split_files(with_flush, src, k=5)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_edge_neg")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    batch = run_batch(ev, cp, mode="flat")
    assert _canon(got.collect()) == _canon(batch.collect())
    # the edge negations must actually suppress matches vs the plain SEQ
    plain = run_batch(
        ev,
        compile_pattern(_pat(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")))),
        mode="flat",
    )
    assert 0 < got.count() < plain.count()


def test_incremental_kleene_equals_batch(spark, events_pdf, tmp_path):
    """The incremental executor (persisted partial tables, advance over
    newly-sealed events only) emits exactly the batch match set for a
    bounded Kleene pattern on a six-file, multi-batch feed."""
    pat = _pat(
        Seq(Ev("a", event_type="signup"), Kleene(Ev("k", event_type="click"), max_len=2),
            Ev("c", event_type="purchase"))
    )
    cp = compile_pattern(pat)
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)], ignore_index=True)
    src = str(tmp_path / "src")
    _split_files(with_flush, src, k=6)
    got = _run(spark, src, cp, "0 seconds", str(tmp_path / "ckpt"), "m_kleene_inc")
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    want = _canon(batch.collect())
    assert _canon(got.collect()) == want and len(want) > 0


def test_incremental_fallback_on_partial_explosion(spark, tmp_path):
    """A Kleene-dense key whose partial set outgrows the buffer trips the
    per-key fallback guard; results must still equal batch."""
    n = 14
    ts0 = pd.Timestamp("2026-01-01")
    rows = pd.DataFrame(
        {
            "user_id": 1,
            "event_id": np.arange(n, dtype=np.int64),
            "event_type": ["signup"] + ["click"] * (n - 2) + ["purchase"],
            "ts": [ts0 + pd.Timedelta(seconds=10 * i) for i in range(n)],
            "value": np.linspace(1, 2, n),
        }
    )
    flush = rows.iloc[[0]].copy()
    flush["user_id"], flush["event_id"], flush["ts"] = -1, 10**12, ts0 + pd.Timedelta(days=9)
    feed = pd.concat([rows, flush], ignore_index=True)
    src = str(tmp_path / "src")
    _split_files(feed, src, k=7)
    pat = _pat(Seq(Ev("a", event_type="signup"), Kleene(Ev("k", event_type="click")),
                   Ev("c", event_type="purchase")), window=timedelta(hours=1))
    cp = compile_pattern(pat)
    sm = run_stream(spark, src, cp, watermark="0 seconds")
    q = (
        sm.writeStream.format("memory").queryName("m_boom").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(240)
    got = _canon(spark.sql("SELECT * FROM m_boom").collect())
    batch = run_batch(spark.createDataFrame(rows), cp, mode="flat")
    want = _canon(batch.collect())
    assert got == want and len(want) == 2 ** (n - 2) - 1  # non-empty click subsets


def test_stream_multi_pattern_mixed_modes(spark, events_pdf, tmp_path):
    """Multi-pattern stream mixing executors per pattern: a plain SEQ
    (incremental, persisted partials) alongside a trailing-neg pattern
    (static rematch with first+W sealing) — union equals batch."""
    from cep_spark.stream import stream_matches_multi

    emit = ("event_id", "event_type", "ts")

    def mk(struct, pid, hours):
        return Pattern(struct, window=timedelta(hours=hours), key="user_id",
                       ts_col="ts", tiebreak_col="event_id", pattern_id=pid)

    cps = [
        compile_pattern(mk(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")), "seq2", 24)),
        compile_pattern(mk(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase"),
                               Neg(Ev("n", event_type="error"))), "seq2_tneg", 24)),
    ]
    src = str(tmp_path / "src")
    with_flush = pd.concat([events_pdf, _flush_row(events_pdf)], ignore_index=True)
    _split_files(with_flush, src, k=5)
    sdf = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_matches_multi(sdf, cps, watermark="0 seconds", emit_cols=emit)
    q = (
        out.writeStream.format("memory").queryName("mpmix").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(240)

    def canon(rows):
        return sorted(
            (r["user_id"], r["pattern_id"], r["alt_id"],
             tuple((m["var"], m["event_id"]) for m in r["matched"]))
            for r in rows
        )

    got = canon(spark.sql("SELECT * FROM mpmix").collect())
    ev_df = spark.read.parquet(f"{SF}/events.parquet")
    want = []
    for cp in cps:
        want.extend(canon(run_batch(ev_df, cp, mode="array", emit_cols=emit).collect()))
    assert got == sorted(want) and len(got) > 0
    # the trailing-neg pattern must emit strictly fewer matches
    n_plain = sum(1 for r in got if r[1] == "seq2")
    n_tneg = sum(1 for r in got if r[1] == "seq2_tneg")
    assert 0 < n_tneg < n_plain


def test_push_stream_source(spark, events_pdf, tmp_path):
    """E3 push-source ergonomics: add_item()/flush()/close() feeding the
    engine == batch over the same rows (reference Stream.add_item)."""
    from cep_spark.sources import PushStream

    pat = _pat(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")))
    cp = compile_pattern(pat)
    ps = PushStream(str(tmp_path / "feed"), schema_like=events_pdf)
    ordered = events_pdf.sort_values("ts").reset_index(drop=True)
    n = len(ordered)
    for i in range(4):  # four pushed micro-batches
        ps.add_items(ordered.iloc[i * n // 4 : (i + 1) * n // 4])
        ps.flush()
    flush = _flush_row(events_pdf).iloc[0].to_dict()
    ps.close(flush_row=flush)
    with pytest.raises(ValueError):
        ps.add_item(flush)  # closed

    from cep_spark.stream import stream_matches

    sm = stream_matches(ps.readStream(spark), cp, "0 seconds")
    q = (
        sm.writeStream.format("memory").queryName("m_push").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(240)
    got = _canon(spark.sql("SELECT * FROM m_push").collect())
    batch = run_batch(spark.read.parquet(f"{SF}/events.parquet"), cp, mode="flat")
    assert got == _canon(batch.collect())


def test_sink_torn_batch_invisible(spark, tmp_path):
    """A data dir without its manifest (torn write) is invisible to
    read_committed — the exactly-once reader contract."""
    import os

    out = ExactlyOnceParquetSink(str(tmp_path / "out"))
    out.write(spark.range(3).toDF("x"), 0)
    # simulate a torn batch: data present, no manifest
    spark.range(99).toDF("x").write.parquet(
        os.path.join(out.data_dir, "batch_id=1")
    )
    assert out.committed_batches() == [0]
    assert out.read_committed(spark).count() == 3
