"""Co-located CEP via bucketing: over a bucketed+sorted table BOTH
physical paths — the Catalyst self-join lowering and the NFA executor
with assume_clustered — must run with ZERO shuffle exchanges while the
plain-parquet source shuffles; same 88 matches everywhere.  The 100 TB
pre-partitioning claim, verified against the actual physical plans.

Runs scripts/demo_bucketing.py in a subprocess: the bucketed warehouse
needs its own static Spark conf (warehouse dir, broadcast disabled),
which cannot be changed on the shared test session."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest


@pytest.mark.spark  # starts Spark in a subprocess
def test_bucketed_cep_eliminates_shuffles():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "demo_bucketing.py")],
        capture_output=True, text=True, timeout=420, cwd=repo,
    )
    results = dict(
        re.findall(r"RESULT ([\w/]+) shuffle-exchanges: (\d+)", r.stdout)
    )
    rows = dict(
        re.findall(r"RESULT ([\w/]+) shuffle-exchanges: \d+ rows: (\d+)", r.stdout)
    )
    assert r.returncode == 0, f"demo failed:\n{r.stdout[-2000:]}\n{r.stderr[-2000:]}"
    assert results["bucketed/join"] == "0" and int(results["plain/join"]) > 0
    assert results["bucketed/nfa"] == "0" and int(results["plain/nfa"]) > 0
    assert set(rows.values()) == {"88"}
