"""Randomized semantics checks of the streaming state function
(stream._make_multi_fn; single patterns run as a one-pattern multi
query with flat rows), driven DIRECTLY against a fake GroupState — no Spark
streaming query, so hypothesis can explore arrival orders, batch
splits, watermark lags, and timer wakeups orders of magnitude faster
than end-to-end tests.

Contract checked: for any in-disorder-bound feed, the union of
emissions across batches + timer wakeups equals the batch matcher's
match set over the delivered events, each match emitted EXACTLY once.
"""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cep_spark.batch import match_group_nfa, matches_to_pdf_flat
from cep_spark.compiler import compile_pattern
from cep_spark.conditions import attr
from cep_spark.pattern import And_, Ev, Kleene, Neg, Or_, Pattern, Seq
from cep_spark.stream import _make_multi_fn

ROLES = ["user", "assistant", "tool"]


class FakeState:
    """Mimics pyspark GroupState for driving the state fn in-process."""

    def __init__(self):
        self._val = None
        self.exists = False
        self.hasTimedOut = False
        self.wm_ms = 0
        self.timer_ms = None
        self.removed = False

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val = tuple(v)
        self.exists = True
        self.removed = False

    def remove(self):
        self._val = None
        self.exists = False
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timer_ms = ms


PATTERNS = {
    "seq2": Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant")),
                    window=timedelta(seconds=120)),
    "seq3": Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant"), Ev("c", role="tool")),
                    window=timedelta(seconds=180)),
    "kleene": Pattern(Seq(Ev("a", role="user"), Kleene(Ev("k", role="assistant")),
                          Ev("c", role="tool")), window=timedelta(seconds=180)),
    "neg": Pattern(Seq(Ev("a", role="user"), Neg(Ev("n", role="tool")),
                       Ev("b", role="assistant")), window=timedelta(seconds=120)),
    "neg_leading": Pattern(Seq(Neg(Ev("n", role="tool")), Ev("a", role="user"),
                               Ev("b", role="assistant")), window=timedelta(seconds=120)),
    "neg_trailing": Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant"),
                                Neg(Ev("n", role="tool"))), window=timedelta(seconds=120)),
    "neg_edges": Pattern(Seq(Neg(Ev("n", role="tool")), Ev("a", role="user"),
                             Ev("b", role="assistant"), Neg(Ev("m", role="tool"))),
                         window=timedelta(seconds=120)),
    "kleene_trailing": Pattern(Seq(Ev("a", role="user"), Kleene(Ev("k", role="assistant")),
                                   Ev("c", role="user"), Neg(Ev("n", role="tool"))),
                               window=timedelta(seconds=180)),
    "cond": Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant")),
                    where=attr("b", "value") > attr("a", "value"),
                    window=timedelta(seconds=120)),
    # unbounded composite Kleene (group lowering) through the
    # incremental executor's persisted partial tables
    "group": Pattern(Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
                         Ev("t", role="tool")), window=timedelta(seconds=180)),
    "group_cond": Pattern(Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
                              Ev("t", role="tool")),
                          where=attr("w", "value") > attr("u", "value"),
                          window=timedelta(seconds=180)),
    "group_trailing": Pattern(Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
                                  Ev("t", role="user"), Neg(Ev("n", role="tool"))),
                              window=timedelta(seconds=180)),
    # round 4: Neg between leaves inside the unbounded repetition,
    # through the incremental executor's persisted partial tables
    "group_neg": Pattern(Seq(Kleene(Seq(Ev("u", role="user"), Neg(Ev("n", role="tool")),
                                        Ev("w", role="assistant"))),
                             Ev("t", role="tool")), window=timedelta(seconds=180)),
    "group_lead_neg": Pattern(Seq(Ev("a", role="tool"),
                                  Kleene(Seq(Neg(Ev("n", role="tool")),
                                             Ev("u", role="user"),
                                             Ev("w", role="assistant")))),
                              window=timedelta(seconds=180)),
    # trailing Neg inside the repetition (round 4, session B): loop-back
    # gap + final gap to the following part / window-bounded trailing
    "group_trail_neg": Pattern(Seq(Kleene(Seq(Ev("u", role="user"),
                                              Ev("w", role="assistant"),
                                              Neg(Ev("n", role="tool")))),
                                   Ev("t", role="tool")),
                               window=timedelta(seconds=180)),
    "group_trail_neg_end": Pattern(Seq(Ev("a", role="tool"),
                                       Kleene(Seq(Ev("u", role="user"),
                                                  Ev("w", role="assistant"),
                                                  Neg(Ev("n", role="tool"))))),
                                   window=timedelta(seconds=180)),
    # Kleene over And_ (round 4, session B): unordered repetition binds
    # through the incremental executor's persisted partial tables
    "and_group": Pattern(Seq(Kleene(And_(Ev("u", role="user"),
                                         Ev("w", role="assistant"))),
                             Ev("t", role="tool")),
                         window=timedelta(seconds=180)),
    # round 5: PATTERN-INITIAL leading Neg (no anchor) — the first
    # repetition's look-back is the window-bounded leading edge, later
    # repetitions get the loop-back gap; exercises leading-spec accept
    # checks + repeat_only gaps through the incremental state
    "group_lead_edge": Pattern(Seq(Kleene(Seq(Neg(Ev("n", role="tool")),
                                              Ev("u", role="user"),
                                              Ev("w", role="assistant"))),
                                   Ev("t", role="tool")),
                               window=timedelta(seconds=180)),
    # round 5: Or_-of-leaves position + bare-Or_ body through the
    # incremental executor's persisted partial tables
    "group_or": Pattern(Seq(Kleene(Seq(Ev("u", role="user"),
                                       Or_(Ev("w", role="assistant"),
                                           Ev("x", role="tool")))),
                            Ev("t", role="user")),
                        window=timedelta(seconds=180)),
    "bare_or": Pattern(Seq(Kleene(Or_(Ev("b", role="user"),
                                      Ev("c", role="tool"))),
                           Ev("t", role="assistant")),
                       window=timedelta(seconds=120)),
    # round 5, session 2: multi-event (Seq) branch — the mid-branch
    # pointer state must survive the incremental executor's persisted
    # partial tables across micro-batches
    "group_seq_or": Pattern(Seq(Kleene(Seq(Ev("u", role="user"),
                                           Or_(Seq(Ev("w", role="assistant"),
                                                   Ev("x", role="tool")),
                                               Ev("y", role="assistant")))),
                                Ev("t", role="user")),
                            window=timedelta(seconds=180)),
    # nested BOUNDED leaf Kleene (pre-expanded to branch chains b__r_j)
    "group_nested_k": Pattern(Seq(Kleene(Seq(Ev("u", role="user"),
                                             Kleene(Ev("b", role="assistant"),
                                                    max_len=2))),
                                  Ev("t", role="tool")),
                              window=timedelta(seconds=180)),
    # regression (round 5, session 3): PATTERN-trailing Neg parks
    # matches whose Or_-branch vars may be ABSENT (all repetitions chose
    # the sibling) — _park_partials must pack absence, not KeyError
    "group_or_parked": Pattern(Seq(Kleene(Seq(Ev("u", role="user"),
                                              Or_(Ev("w", role="assistant"),
                                                  Ev("x", role="tool")))),
                                   Neg(Ev("n", role="tool"))),
                               window=timedelta(seconds=120)),
    # session 4: Neg strictly BETWEEN two leaves of a Seq branch — the
    # within-repetition gap check must see the same events across
    # micro-batch cuts (partial mid-branch state + sealed-event store)
    "group_br_neg": Pattern(Seq(Kleene(Seq(Ev("u", role="user"),
                                           Or_(Seq(Ev("w", role="assistant"),
                                                   Neg(Ev("n", role="user")),
                                                   Ev("x", role="tool")),
                                               Ev("y", role="assistant")))),
                                Ev("t", role="user")),
                            window=timedelta(seconds=180)),
    # ... and LEADING the branch (gap INTO the branch, enforced at the
    # branch's entry bind — only repetitions that chose it)
    "group_br_lead_neg": Pattern(Seq(Kleene(Seq(Ev("u", role="user"),
                                                Or_(Seq(Neg(Ev("n", role="user")),
                                                        Ev("w", role="assistant"),
                                                        Ev("x", role="tool")),
                                                    Ev("y", role="assistant")))),
                                     Ev("t", role="user")),
                                 window=timedelta(seconds=180)),
    # session 5: Neg TRAILING the branch — the loop-back + bubbled gap
    # specs are branch-gated (NegSpec.br_guard) and must see the same
    # argmax state across micro-batch cuts
    "group_br_trail_neg": Pattern(Seq(Kleene(Seq(Ev("u", role="user"),
                                                 Or_(Seq(Ev("w", role="assistant"),
                                                         Ev("x", role="tool"),
                                                         Neg(Ev("n", role="user"))),
                                                     Ev("y", role="assistant")))),
                                      Ev("t", role="user")),
                                  window=timedelta(seconds=180)),
    # ... with the group ENDING the pattern: the final repetition's gap
    # is a branch-gated window-trailing edge check — matches PARK and
    # the parked re-verification must apply the gate
    "group_br_trail_parked": Pattern(Seq(Ev("s", role="tool"),
                                         Kleene(Seq(Ev("u", role="user"),
                                                    Or_(Seq(Ev("w", role="assistant"),
                                                            Neg(Ev("n", role="user"))),
                                                        Ev("y", role="assistant"))))),
                                     window=timedelta(seconds=120)),
    # session 6: And_ at one POSITION of a Seq repetition — the
    # conjunctive mid pointer (bound-member set) must survive the
    # incremental executor's persisted partial tables across
    # micro-batch cuts, in both arrival orders
    "group_and_pos": Pattern(Seq(Kleene(Seq(Ev("u", role="user"),
                                            And_(Ev("w", role="assistant"),
                                                 Ev("x", role="tool")))),
                                 Ev("t", role="user")),
                             window=timedelta(seconds=180)),
    # ... with a gap Neg INTO the position (closes at the repetition's
    # FIRST member bind — entry-gated across batch cuts) and a
    # pattern-trailing Neg that PARKS matches carrying member tuples
    "group_and_pos_neg": Pattern(Seq(Kleene(Seq(Ev("u", role="user"),
                                                Neg(Ev("n", role="tool")),
                                                And_(Ev("w", role="assistant"),
                                                     Ev("x", role="tool")))),
                                     Neg(Ev("m", role="assistant"))),
                                 window=timedelta(seconds=120)),
    # session 7: a Seq-of-leaves MEMBER inside the And_ position — the
    # per-member progress mid pointer ((br, cnt) pairs) must survive
    # persisted partial tables across micro-batch cuts, with the sibling
    # leaf landing inside the member's own (w, v) gap in some orders
    "group_and_pos_seqmem": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(seconds=180)),
    # session 8: a Neg INSIDE the Seq member — the member-scoped gap
    # (mem_gap spec, fires at a mid-position bind) must hold across
    # micro-batch cuts where the guarded (w, v) interval spans batches
    "group_and_pos_mem_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Neg(Ev("n", role="tool")),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool", tool="python")))),
            Ev("t", role="user")),
        window=timedelta(seconds=180)),
    # ... leading the member (gap into the member from the previous
    # position's bind), with the sibling legally inside the gap
    "group_and_pos_mem_lead_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Neg(Ev("n", tool="sql")),
                                Ev("w", role="assistant"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool", tool="python")))),
            Ev("t", role="user")),
        window=timedelta(seconds=180)),
    # session 9: an Or_ MEMBER of the And_ position — the branch-unit
    # mid pointer and sparse unit tuples must survive persisted partial
    # tables across micro-batch cuts, with different repetitions
    # choosing different branches
    "group_and_pos_or_mem": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Or_(Ev("w", role="assistant"),
                                Ev("y", role="tool", tool="sql")),
                            Ev("x", role="tool", tool="python")))),
            Ev("t", role="user")),
        window=timedelta(seconds=180)),
    # session 10: a BARE And_ body with a Seq member — one conjunctive
    # position whose per-member mid pointer must survive persisted
    # partial tables across micro-batch cuts
    "group_bare_and_mem": Pattern(
        Seq(Kleene(And_(Seq(Ev("w", role="assistant"),
                            Ev("v", role="assistant")),
                        Ev("x", role="tool", tool="python"))),
            Ev("t", role="user")),
        window=timedelta(seconds=180)),
    # session 11: LEADING member Neg in a bare And_ body — the
    # per-transition gap_pre boundary (previous repetition's last
    # event) must hold when the boundary event and the member entry
    # land in different micro-batches
    "group_bare_and_mem_lead_neg": Pattern(
        Seq(Ev("a", role="user"),
            Kleene(And_(Seq(Neg(Ev("n", tool="sql")),
                            Ev("w", role="assistant"),
                            Ev("v", role="assistant")),
                        Ev("x", role="tool", tool="python")))),
        window=timedelta(seconds=180)),
    # session 11: a Neg INSIDE an Or_-member branch — the unit-scoped
    # gap fires only in repetitions choosing the branch, across
    # micro-batch cuts
    "group_or_mem_br_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Or_(Seq(Ev("w", role="assistant"),
                                    Neg(Ev("n", tool="sql")),
                                    Ev("v", role="assistant")),
                                Ev("y", role="tool", tool="sql")),
                            Ev("x", role="tool", tool="python")))),
            Ev("t", role="user")),
        window=timedelta(seconds=180)),
    # session 12: an Or_ NESTED inside a Seq branch — distributed at
    # compile time into __d{k}-renamed units; the sparse per-unit
    # tuples and mid pointers must survive persisted partial tables
    # across micro-batch cuts like any other branch layout
    "group_dist_or": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"),
                               Or_(Ev("x", role="tool", tool="python"),
                                   Ev("y", role="tool", tool="sql"))),
                           Ev("c", role="assistant")))),
            Ev("t", role="user")),
        window=timedelta(seconds=180)),
    # ... and inside a Seq MEMBER of an And_ position (the distributed
    # units become an Or_ member)
    "group_dist_or_mem": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Or_(Ev("x", role="tool", tool="python"),
                                    Ev("y", role="tool", tool="sql"))),
                            Ev("z", role="user")))),
            Ev("t", role="tool")),
        window=timedelta(seconds=180)),
    # session 12 phase C: an all-leaf And_ inside a Seq branch —
    # distributed over orderings (one unit per permutation)
    "group_dist_and": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"),
                               And_(Ev("x", role="tool", tool="python"),
                                    Ev("y", role="tool", tool="sql"))),
                           Ev("c", role="assistant")))),
            Ev("t", role="user")),
        window=timedelta(seconds=180)),
    # session 13: an And_ with a SEQ member AS a branch — distributed
    # over linear extensions (the member's leaves stay ordered, the
    # sibling leaf interleaves); the extension units must survive
    # persisted partial tables across micro-batch cuts
    "group_dist_and_ext": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(And_(Seq(Ev("w", role="assistant"),
                                    Ev("v", role="tool", tool="python")),
                                Ev("x", role="tool", tool="sql")),
                           Ev("c", role="assistant")))),
            Ev("t", role="user")),
        window=timedelta(seconds=180)),
    # session 14: a Neg BETWEEN two leaves of the And_'s Seq member —
    # re-split into each extension's sub-gaps at compile time, so the
    # persisted state is plain gap-Neg units; the gap check must fire
    # identically whether the killer arrives in the same or a later
    # micro-batch than the events flanking it
    "group_dist_and_mem_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(And_(Seq(Ev("w", role="assistant"),
                                    Neg(Ev("n", tool="sql")),
                                    Ev("v", role="tool", tool="python")),
                                Ev("x", role="tool", tool="sql")),
                           Ev("c", role="assistant")))),
            Ev("t", role="user")),
        window=timedelta(seconds=180)),
    # session 16: an UNBOUNDED leaf Kleene nested inside the unbounded
    # repetition — a run must keep extending via loop_cont self-loops
    # on partials restored from persisted state, and a gap Neg OUT of
    # the run must read the flat tuple's last element across cuts
    "group_loop": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Ev("b", role="assistant")),
                       Neg(Ev("n", tool="sql")))),
            Ev("t", role="tool")),
        window=timedelta(seconds=180)),
    # ... and with the trailing Neg bubbled to the PATTERN END: sealed
    # matches PARK until first.ts+W, so the parked rows must pack the
    # loop variable's flat run tuple and the re-verification must read
    # the run's last element as the gap boundary
    "group_loop_parked": Pattern(
        Seq(Ev("s", role="tool"),
            Kleene(Seq(Ev("u", role="user"),
                       Kleene(Ev("b", role="assistant")),
                       Neg(Ev("n", tool="sql"))))),
        window=timedelta(seconds=180)),
    # session 17: the loop STARTS the repetition body — a run opened in
    # one micro-batch must keep extending from persisted state, a
    # loop-back entry (rep_start) must open repetition j+1's run only
    # strictly after repetition j's last bind, and the per-repeat gap
    # between the loop run and the anchor is entry-gated
    "group_loop_first": Pattern(
        Seq(Kleene(Seq(Kleene(Ev("b", role="assistant")),
                       Neg(Ev("n", tool="sql")),
                       Ev("u", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(seconds=180)),
    # session 18: a composite UNIT loop — a unit half-open at a
    # micro-batch cut must restore with its in-position mid entry and
    # complete from persisted state; re-entries extend across cuts
    "group_loop_unit": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Ev("c", role="tool"))))),
            Ev("t", role="user")),
        window=timedelta(seconds=240)),
    # session 19: interior unit Neg — the per-inner-repetition gap
    # must fire on c binds of units restored from persisted state,
    # including re-entered units whose b bound in an earlier batch
    "group_loop_unit_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Neg(Ev("n", tool="sql")),
                                  Ev("c", role="tool"))))),
            Ev("t", role="user")),
        window=timedelta(seconds=240)),
}


def _drive(cp, batches, final_wm_ms):
    """Feed arrival batches through the state fn; watermark after batch i
    = max event ms seen so far (delay 0, applied NEXT batch like Spark);
    then fire timers until drained.  Returns (emitted rows, state)."""
    fn = _make_multi_fn([cp], mode="flat")
    state = FakeState()
    out = []
    wm = 0
    seen_max_ms = 0
    for b in batches:
        state.hasTimedOut = False
        state.wm_ms = wm
        state.timer_ms = None
        for pdf in fn(("k0",), iter([b]), state):
            out.append(pdf)
        if len(b):
            seen_max_ms = max(seen_max_ms,
                              int(b["ts"].max().value // 1_000_000))
        wm = seen_max_ms  # Spark: watermark advances AFTER the batch
    # drain: advance the watermark to the end and fire timers
    wm = final_wm_ms
    for _ in range(64):
        if state.removed or not state.exists:
            break
        if state.timer_ms is None or state.timer_ms > wm:
            break
        state.hasTimedOut = True
        state.wm_ms = wm
        state.timer_ms = None
        for pdf in fn(("k0",), iter([]), state):
            out.append(pdf)
    return out, state


def _canon_rows(pdfs):
    rows = []
    for pdf in pdfs:
        for r in pdf.itertuples(index=False, name=None):
            rows.append(tuple(None if pd.isna(v) else int(v) if isinstance(v, (np.integer, float)) else v
                              for v in r))
    return sorted(rows, key=repr)


@st.composite
def scenario(draw):
    name = draw(st.sampled_from(sorted(PATTERNS)))
    n = draw(st.integers(4, 18))
    seed = draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    ts0 = pd.Timestamp("2026-01-01")
    gaps = rng.integers(0, 45, n)
    g = pd.DataFrame(
        {
            "conv_id": "k0",
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": rng.choice(ROLES, n),
            # session-8 pool entries discriminate member-scoped Negs
            # on the tool column
            "tool": rng.choice(["python", "sql"], n),
            "ts": (ts0 + pd.to_timedelta(np.cumsum(gaps), unit="s")).astype("datetime64[us]"),
            "value": rng.uniform(0, 100, n).round(1),
        }
    )
    # arrival = event-time order (watermark delay 0 admits no disorder
    # behind the max-seen ts; Spark's wm advances per batch the same way)
    n_batches = draw(st.integers(1, 6))
    cuts = sorted(draw(st.lists(st.integers(0, n), min_size=n_batches - 1,
                                max_size=n_batches - 1)))
    return name, g, cuts


@st.composite
def random_pattern_scenario(draw):
    """Random pattern AST (same composition space as
    test_property_random_patterns) + random feed."""
    import test_property_random_patterns as rp

    pat = draw(rp.pattern())
    n = draw(st.integers(4, 14))
    seed = draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    ts0 = pd.Timestamp("2026-01-01")
    gaps = rng.integers(0, 45, n)
    g = pd.DataFrame(
        {
            "conv_id": "k0",
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": rng.choice(ROLES, n),
            "tool": rng.choice(["python", "sql"], n),
            "ts": (ts0 + pd.to_timedelta(np.cumsum(gaps), unit="s")).astype("datetime64[us]"),
            "value": rng.uniform(0, 100, n).round(1),
        }
    )
    n_batches = draw(st.integers(1, 5))
    cuts = sorted(draw(st.lists(st.integers(0, n), min_size=n_batches - 1,
                                max_size=n_batches - 1)))
    return pat, g, cuts


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(sc=random_pattern_scenario())
def test_random_pattern_stream_fn_parity(sc):
    """RANDOM pattern ASTs through BOTH paths of the state function —
    the incremental advance (incl. trailing-neg parking) and, for
    trailing-neg patterns, the rematch fallback too (force_rematch) —
    union of emissions == batch over effective rows, exactly once, for
    each."""
    from cep_spark.stream import _trailing_alt_ids

    pat, g, cuts = sc
    try:
        cp = compile_pattern(pat)
    except ValueError:
        return  # documented compile-time rejection
    trailing = _trailing_alt_ids(cp)
    bounds = [0] + cuts + [len(g)]
    batches = [g.iloc[bounds[i]:bounds[i + 1]] for i in range(len(bounds) - 1)]
    final_wm = int(g["ts"].max().value // 1_000_000) + 10_000_000

    fns = [("incremental", _make_multi_fn([cp], mode="flat"))]
    if trailing:
        fns.append(("rematch", _make_multi_fn([cp], mode="flat", force_rematch=True)))

    eff = _effective_rows(batches)
    want = []
    if len(eff):
        g2 = eff.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        res = match_group_nfa(cp, g2)
        if res:
            want = _canon_rows([matches_to_pdf_flat(cp, g2, "k0", res=res)])

    for label, fn in fns:
        state = FakeState()
        out = []
        wm, seen = 0, 0
        for b in batches:
            state.hasTimedOut, state.wm_ms, state.timer_ms = False, wm, None
            for pdf in fn(("k0",), iter([b]), state):
                out.append(pdf)
            if len(b):
                seen = max(seen, int(b["ts"].max().value // 1_000_000))
            wm = seen
        wm = final_wm
        for _ in range(64):
            if not state.exists or state.timer_ms is None or state.timer_ms > wm:
                break
            state.hasTimedOut, state.wm_ms, state.timer_ms = True, wm, None
            for pdf in fn(("k0",), iter([]), state):
                out.append(pdf)
        got = _canon_rows(out)
        assert got == want, (
            f"{label} {pat.structure!r}: stream={got}\nbatch={want}\ncuts={cuts}\n{g}"
        )


def test_fallback_unbounded_window_keeps_sealing_timer():
    """Pinned regression: after the partial-explosion fallback, limbo
    events must stay split from the sealed buffer — folding them in
    dropped the sealing timer, so an UNBOUNDED-window key never woke to
    emit its pending matches (found by the random-pattern sweep:
    And_(Kleene, Kleene), window=None, explosion mid-stream)."""
    from cep_spark.pattern import And_

    rng = np.random.default_rng(113880359)
    n = int(rng.integers(8, 15))
    rng.choice(ROLES), rng.choice(ROLES)
    pat = Pattern(And_(Kleene(Ev("v1", role="user")), Kleene(Ev("v2", role="tool"))),
                  window=None)
    cp = compile_pattern(pat)
    ts0 = pd.Timestamp("2026-01-01")
    gaps = rng.integers(0, 45, n)
    g = pd.DataFrame(
        {
            "conv_id": "k0",
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": rng.choice(ROLES, n),
            "ts": (ts0 + pd.to_timedelta(np.cumsum(gaps), unit="s")).astype("datetime64[us]"),
            "value": rng.uniform(0, 100, n).round(1),
        }
    )
    cuts = [7, 10, 12]
    bounds = [0] + cuts + [len(g)]
    batches = [g.iloc[bounds[i]:bounds[i + 1]] for i in range(len(bounds) - 1)]
    final_wm = int(g["ts"].max().value // 1_000_000) + 10_000_000
    out, state = _drive(cp, batches, final_wm)
    got = _canon_rows(out)
    g2 = _effective_rows(batches).sort_values(["ts", "turn_idx"]).reset_index(drop=True)
    want = _canon_rows([matches_to_pdf_flat(cp, g2, "k0", res=match_group_nfa(cp, g2))])
    assert len(want) > 3000 and got == want  # 3825 matches, exactly once


def _effective_rows(batches):
    """Apply the engine's documented late rule: an arrival is dropped
    iff its ts <= the watermark STORED AT THE PREVIOUS invocation
    (stream.py: 'arrivals inside the current bracket (prev_wm, W] are
    admitted').  The stored value lags the live watermark by one batch,
    which is exactly-once-safe because the emission bracket uses the
    same lower bound."""
    lo_ms = -1     # last stored emission watermark
    wm_cur = -1    # watermark DURING the current invocation
    seen_max_ms = -1
    keep = []
    for b in batches:
        if len(b):
            ts_ns = b["ts"].to_numpy().astype("datetime64[ns]").astype(np.int64)
            keep.append(b.loc[ts_ns > lo_ms * 1_000_000])
            seen_max_ms = max(seen_max_ms, int(ts_ns.max() // 1_000_000))
        lo_ms = max(lo_ms, wm_cur)
        wm_cur = seen_max_ms
    return pd.concat(keep, ignore_index=True) if keep else pd.DataFrame()


def per_pattern_units(cps):
    """One singleton unit per pattern: the per-pattern reference plan
    that ``merge.plan_units`` is checked against."""
    return [(cp, [i]) for i, cp in enumerate(cps)]


def _drive_multi(cps, batches, final_wm_ms, emit_cols=("turn_idx",),
                 units=None):
    fn = _make_multi_fn(cps, emit_cols, units=units)
    state = FakeState()
    out = []
    wm = 0
    seen_max_ms = 0
    for b in batches:
        state.hasTimedOut = False
        state.wm_ms = wm
        state.timer_ms = None
        for pdf in fn(("k0",), iter([b]), state):
            out.append(pdf)
        if len(b):
            seen_max_ms = max(seen_max_ms, int(b["ts"].max().value // 1_000_000))
        wm = seen_max_ms
    wm = final_wm_ms
    for _ in range(64):
        if state.removed or not state.exists:
            break
        if state.timer_ms is None or state.timer_ms > wm:
            break
        state.hasTimedOut = True
        state.wm_ms = wm
        state.timer_ms = None
        for pdf in fn(("k0",), iter([]), state):
            out.append(pdf)
    return out, state


def _canon_multi(pdfs):
    rows = []
    for pdf in pdfs:
        for r in pdf.to_dict("records"):
            rows.append(
                (r["conv_id"], r["pattern_id"], int(r["alt_id"]),
                 tuple((m["var"], int(m["turn_idx"])) for m in r["matched"]))
            )
    return sorted(rows)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(sc=scenario())
def test_multi_fn_exactly_once_parity(sc):
    """Multi-pattern state fn (mixed incremental + trailing-neg rematch
    executors sharing one buffer) == union of batch runs over the
    effective rows."""
    import dataclasses

    from cep_spark.batch import matches_to_pdf_array

    _, g, cuts = sc
    pats = [
        dataclasses.replace(PATTERNS["seq2"], pattern_id="p_seq"),
        dataclasses.replace(
            Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant"),
                        Neg(Ev("n", role="tool"))), window=timedelta(seconds=120)),
            pattern_id="p_tneg"),
        dataclasses.replace(PATTERNS["kleene"], pattern_id="p_kleene"),
    ]
    cps = [compile_pattern(p) for p in pats]
    bounds = [0] + cuts + [len(g)]
    batches = [g.iloc[bounds[i]:bounds[i + 1]] for i in range(len(bounds) - 1)]
    final_wm = int(g["ts"].max().value // 1_000_000) + 10_000_000
    out, state = _drive_multi(cps, batches, final_wm)
    got = _canon_multi(out)

    eff = _effective_rows(batches)
    want = []
    if len(eff):
        g2 = eff.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        for cp in cps:
            res = match_group_nfa(cp, g2)
            if res:
                want.extend(_canon_multi(
                    [matches_to_pdf_array(cp, g2, "k0", ("turn_idx",), res=res)]
                ))
    assert got == sorted(want), f"stream={got}\nbatch={sorted(want)}\ncuts={cuts}\n{g}"
    assert state.removed or not state.exists


@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(sc=scenario())
def test_incremental_fn_exactly_once_parity(sc):
    name, g, cuts = sc
    pat = PATTERNS[name]
    cp = compile_pattern(pat)
    bounds = [0] + cuts + [len(g)]
    batches = [g.iloc[bounds[i]:bounds[i + 1]] for i in range(len(bounds) - 1)]
    final_wm = int(g["ts"].max().value // 1_000_000) + 10_000_000
    out, state = _drive(cp, batches, final_wm)
    got = _canon_rows(out)

    eff = _effective_rows(batches)
    g2 = eff.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
    res = match_group_nfa(cp, g2) if len(g2) else []
    want = _canon_rows([matches_to_pdf_flat(cp, g2, "k0", res=res)]) if res else []
    assert got == want, f"{name}: stream={got}\nbatch={want}\ncuts={cuts}\n{g}"
    # drained key must free its state-store entry
    assert state.removed or not state.exists


def test_park_absent_branch_var_regression():
    """Pinned from a 500-example hypothesis run (round 5, session 3):
    a trailing Neg at pattern end parks accepted matches; a match whose
    repetitions all chose ONE Or_ branch has NO binding for the sibling
    branch var, and _park_partials raised KeyError packing it.  The
    fix parks absence as an empty tuple and _binding_of reconstructs
    the absent key."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("v1", role="user"),
                       Or_(Ev("v2", role="assistant"),
                           Ev("v3", role="tool")))),
            Neg(Ev("v4", role="assistant"))),
        window=timedelta(seconds=120),
    )
    cp = compile_pattern(pat)
    ts0 = pd.Timestamp("2026-01-01")
    g = pd.DataFrame({
        "conv_id": "k0",
        "turn_idx": np.arange(4, dtype=np.int32),
        "role": ["user", "tool", "user", "tool"],  # v3-only repetitions
        "tool": ["python", "sql", "sql", "sql"],
        "ts": (ts0 + pd.to_timedelta([0, 20, 40, 60], unit="s")
               ).astype("datetime64[us]"),
        "value": [60.7, 72.9, 54.4, 93.5],
    })
    final_wm = int(g["ts"].max().value // 1_000_000) + 10_000_000
    out, state = _drive(cp, [g.iloc[:2], g.iloc[2:]], final_wm)
    got = _canon_rows(out)
    res = match_group_nfa(cp, g)
    want = _canon_rows([matches_to_pdf_flat(cp, g, "k0", res=res)])
    assert got == want and len(got) > 0
    assert state.removed or not state.exists
    # array-mode emission hit the same assumption (binding[v] KeyError
    # in array_match_rows) — the absent branch var contributes no
    # matched-struct entries
    from cep_spark.batch import matches_to_pdf_array

    arr = matches_to_pdf_array(cp, g, "k0", ("turn_idx",), res=res)
    assert len(arr) == len(res)
    assert all(m["var"] != "v2" for row in arr["matched"] for m in row)
