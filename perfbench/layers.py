"""Per-layer measurements taken from outside ``cep_spark`` in a traced
run: staged batch plans, a single-threaded matcher replay, the join
lowering, the prefix-shared merge and the compiler."""

from __future__ import annotations

import time

import numpy as np

from harness import timed


def noop_write(df) -> float:
    """Seconds to force every column of ``df`` through a noop sink."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def compile_all(pats) -> tuple:
    """Compile ``pats``; returns (compiled, ms, slot count)."""
    from cep_spark.compiler import compile_pattern

    t = time.perf_counter()
    cps = [compile_pattern(p) for p in pats]
    ms = (time.perf_counter() - t) * 1e3
    return cps, ms, sum(slot_count(cp) for cp in cps)


def slot_count(cp) -> int:
    return sum(len(a.slots) for a in cp.alternatives)


def batch_split(df, cps, repeats: int = 2) -> dict:
    """Staged plans, each adding one layer, forced by a noop write:
    prefilter -> + repartition/sort -> + identity mapInPandas -> full
    run_batch.  A layer's time is the difference between consecutive
    stages (best of ``repeats``), summed over ``cps``."""
    from cep_spark.batch import cpu_parallelism, prefilter, run_batch

    out = {"scan_s": 0.0, "shuffle_sort_s": 0.0, "handoff_s": 0.0, "match_s": 0.0,
           "rows_in": 0, "rows_kept": 0}
    rows_in = df.count()
    for cp in cps:
        pat = cp.pattern
        base = prefilter(df, cp)
        rep = base.repartition(cpu_parallelism(df), pat.key).sortWithinPartitions(
            pat.key, pat.ts_col, pat.tiebreak_col)

        def identity(batches):
            yield from batches

        stages = [base, rep, rep.mapInPandas(identity, schema=rep.schema),
                  run_batch(df, cp, mode="flat")]
        best = [min(noop_write(s) for _ in range(repeats)) for s in stages]
        out["scan_s"] += best[0]
        out["shuffle_sort_s"] += best[1] - best[0]
        out["handoff_s"] += best[2] - best[1]
        out["match_s"] += best[3] - best[2]
        out["rows_in"] += rows_in
        out["rows_kept"] += base.count()
    return out


def replay(df, cps) -> dict:
    """Single-threaded in-process replay of the partition executor's
    Python stages over the prefiltered rows sorted by (key, ts, tiebreak):
    ``unary_masks`` once over all rows, then ``match_core`` and
    ``matches_to_pdf_flat`` per key group."""
    from cep_spark.batch import _ColStore, match_core, matches_to_pdf_flat, prefilter, unary_masks

    out = {"masks_s": 0.0, "advance_s": 0.0, "emit_s": 0.0, "rows": 0, "groups": 0,
           "matches": 0}
    for cp in cps:
        pat = cp.pattern
        pdf = (prefilter(df, cp).toPandas()
               .sort_values([pat.key, pat.ts_col, pat.tiebreak_col], kind="stable")
               .reset_index(drop=True))
        n = len(pdf)
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        keys = cols[pat.key]
        bounds = np.concatenate([[0], np.nonzero(keys[1:] != keys[:-1])[0] + 1, [n]])
        ts_ns = cols[pat.ts_col].astype("datetime64[ns]").astype(np.int64)
        masks_all, dt = timed(unary_masks, cp, cols, n)
        out["masks_s"] += dt
        for gi in range(len(bounds) - 1):
            s, e = int(bounds[gi]), int(bounds[gi + 1])
            store = _ColStore.from_cols({c: a[s:e] for c, a in cols.items()})
            gdf = pdf.iloc[s:e].reset_index(drop=True)
            t0 = time.perf_counter()
            masks = {aid: ({sid: m[s:e] for sid, m in sm.items()}, [m[s:e] for m in nm])
                     for aid, (sm, nm) in masks_all.items()}
            res = match_core(cp, store, ts_ns[s:e], masks)
            t1 = time.perf_counter()
            if res:
                matches_to_pdf_flat(cp, gdf, keys[s], res=res)
            out["advance_s"] += t1 - t0
            out["emit_s"] += time.perf_counter() - t1
            out["matches"] += len(res)
        out["rows"] += n
        out["groups"] += len(bounds) - 1
    return out


def join_layer(df, cps) -> dict:
    """``plan_join`` build time and a noop write of each lowering."""
    from cep_spark.join_planner import plan_join

    plan_ms = exec_s = 0.0
    for cp in cps:
        j, dt = timed(plan_join, df, cp)
        plan_ms += dt * 1e3
        exec_s += noop_write(j)
    return {"plan_ms": plan_ms, "exec_s": exec_s}


def merge_layer(cps) -> dict:
    """``merge_compiled`` time and merged slots / summed per-pattern slots."""
    from cep_spark.merge import merge_compiled

    merged, dt = timed(merge_compiled, cps)
    return {"merge_ms": dt * 1e3,
            "state_share": slot_count(merged) / sum(slot_count(cp) for cp in cps)}


def common_metrics(gen_s, session_s, compile_ms, slots, split, rep, join, merge) -> dict:
    """The per-layer metrics every workload reports, by name."""
    rows = max(rep["rows"], 1)
    return {
        "session.start_s": (session_s, "s"),
        "inputs.gen_s": (gen_s, "s"),
        "compiler.compile_ms": (compile_ms, "ms"),
        "compiler.slots": (slots, "count"),
        "batch.scan_s": (split["scan_s"], "s"),
        "batch.shuffle_sort_s": (split["shuffle_sort_s"], "s"),
        "batch.handoff_s": (split["handoff_s"], "s"),
        "batch.match_s": (split["match_s"], "s"),
        "batch.keep_ratio": (split["rows_kept"] / max(split["rows_in"], 1), "ratio"),
        "batch.masks_s": (rep["masks_s"], "s"),
        "batch.advance_s": (rep["advance_s"], "s"),
        "batch.emit_s": (rep["emit_s"], "s"),
        "batch.advance_us_per_event": (rep["advance_s"] / rows * 1e6, "us"),
        "batch.groups": (rep["groups"], "count"),
        "batch.matches": (rep["matches"], "count"),
        "join_planner.plan_ms": (join["plan_ms"], "ms"),
        "join_planner.exec_s": (join["exec_s"], "s"),
        "merge.merge_ms": (merge["merge_ms"], "ms"),
        "merge.state_share": (merge["state_share"], "ratio"),
    }


def largest_layer(split: dict) -> tuple:
    """(layer, share) of the staged batch split with the largest time."""
    parts = {k: max(split[k], 0.0) for k in ("scan_s", "shuffle_sort_s", "handoff_s", "match_s")}
    total = sum(parts.values()) or 1.0
    k = max(parts, key=parts.get)
    return f"batch.{k}", parts[k] / total
