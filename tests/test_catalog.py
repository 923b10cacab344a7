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
