"""The query catalog's contract, checked without Spark: every
``queries()`` entry has an oracle, the whole catalog fits in the 50
entries the correctness check reads, every family is in it, and the
names the benchmark reads still resolve."""

from __future__ import annotations

import __spark_entry__ as E

# the correctness check reads only the first 50 queries() keys
CHECKED = 50
FAMILIES = ("cep_", "cep_udf", "cep_multi", "win_", "doc_", "emb_")
# perfbench/catalog.py ENTRIES
BENCH_ENTRIES = ("cep_seq3_cond", "cep_neg", "cep_kleene_and_group", "cep_multi_shared",
                 "win_session", "doc_simhash_pairs")


def test_every_query_has_an_oracle():
    assert set(E.queries()) == set(E.oracle_sql())


def test_catalog_fits_the_correctness_check():
    assert len(E.queries()) <= CHECKED


def test_every_family_present():
    names = list(E.queries())
    for prefix in FAMILIES:
        assert any(n.startswith(prefix) for n in names), prefix


def test_benchmark_names_resolve():
    q, o = E.queries(), E.oracle_sql()
    for name in BENCH_ENTRIES:
        assert name in q and name in o, name
    for name in ("cep_seq3_cond", "cep_neg"):
        assert E.CEP_PATTERNS[name] is not None
    assert E._KLEENE_AND_GROUP_PAT is E.SINGLE_ENTRIES["cep_kleene_and_group"][0]
    assert [pid for pid, _ in E._shared_family()] == [
        "fun_purchase", "fun_click_up", "fun_error", "fun_noerr_buy"]


def _multi_cps(name):
    import dataclasses

    from cep_spark.compiler import compile_pattern

    family, _ = E.MULTI_ENTRIES[name]
    return [compile_pattern(dataclasses.replace(p, pattern_id=pid)) for pid, p in family()]


def test_multi_entry_plans():
    """The execution units every multi-pattern executor runs for the
    catalog's three families: cep_multi splits into the two patterns
    that share the signup state plus cep_and3 alone; the shared and
    sliced families each run whole as one merged automaton."""
    from cep_spark.batch import run_batch_multi
    from cep_spark.merge import merge_compiled, plan_units

    assert E.MULTI_ENTRIES["cep_multi_shared"][1] is run_batch_multi
    plans = {name: plan_units(_multi_cps(name)) for name in E.MULTI_ENTRIES}
    assert {name: [idxs for _, idxs in units] for name, units in plans.items()} == {
        "cep_multi": [[0, 2], [1]],
        "cep_multi_shared": [[0, 1, 2, 3]],
        "cep_multi_sliced": [[0, 1, 2, 3]],
    }
    # a one-pattern unit is the pattern's own automaton, never a merge
    multi = _multi_cps("cep_multi")
    units = plan_units(multi)
    assert units[1][0] is multi[1]
    # cep_multi_shared's one unit is the whole-family merge: 7 states
    # where the four patterns alone hold 16
    shared = _multi_cps("cep_multi_shared")
    (unit, _), = plan_units(shared)
    assert len(unit.alternatives[0].states) == 7
    assert len(merge_compiled(shared).alternatives[0].states) == 7
    assert sum(len(a.states) for cp in shared for a in cp.alternatives) == 16
