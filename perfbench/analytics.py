"""``analytics``: the read-only batch path.

A frozen list of registered queries (``workloads.json``) runs over
generated sf0.1 tables, each built with ``plans.QUERIES[name](spark,
sf_dir)`` and materialized with the ``noop`` sink. Untimed passes warm
the session up, the first of them collecting every result for the
DuckDB oracle check; timed passes then repeat the whole list until the
window closes. The results are compared with the oracle afterwards.
"""

from __future__ import annotations

import contextlib
import importlib.util
import math
import os
import statistics
import sys
import time

from perfbench import gen
from perfbench.run import ROOT

# queries whose task counts show whether the AQE coalescing floor
# multiplies tiny tasks
TASK_COUNTED = ("q42", "q53", "q60")


def _short(name: str) -> str:
    return name.split("_", 1)[0]


def _oracle_module():
    """``tools/check_oracle.py``, whose canonicalization this benchmark
    shares. The module reads its own command line at import, so it is
    imported with an empty one."""
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    argv = sys.argv
    sys.argv = [spec.origin]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


def _oracle_results(sf_dir: str, sqls: dict[str, str], tables) -> dict[str, tuple[list, list]]:
    """(columns, rows) of each oracle query, computed by DuckDB."""
    import duckdb

    # one thread: the Spark side of the pass runs at the same time
    con = duckdb.connect(config={"threads": 1})
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, sql in sqls.items():
            rel = con.sql(sql)
            out[name] = (list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def _collect_pass(ctx, names: list[str], sf_dir: str) -> dict[str, tuple[list, list]]:
    """Build and collect every query once: (columns, rows) per query
    that ran; a query that raises is a failed check."""
    from ml_with_spark_streaming_spark.plans import QUERIES

    got = {}
    for name in names:
        try:
            sdf = QUERIES[name](ctx.spark, sf_dir)
            got[name] = (sdf.columns, [tuple(r) for r in sdf.collect()])
        except Exception as e:  # noqa: BLE001 — a failing query is counted, the pass goes on
            ctx.check(f"{_short(name)} runs", False, f"{type(e).__name__}: {str(e)[:200]}")
    return got


def _check_results(ctx, oracle, got: dict, want: dict) -> None:
    """Compare each collected result with its oracle result."""
    for name, (cols, rows) in got.items():
        if name not in want:
            ctx.check(f"{_short(name)} runs", True, f"{len(rows)} rows, no oracle")
            continue
        dcols, drows = want[name]
        same = (
            len(rows) == len(drows)
            and sorted(cols) == sorted(dcols)
            and oracle.rows_multiset(cols, rows) == oracle.rows_multiset(dcols, drows)
        )
        ctx.check(f"{_short(name)} matches the DuckDB oracle", same, f"{len(rows)} rows, oracle {len(drows)}")


def _run_pass(spark, names: list[str], sf_dir: str, span, tag) -> list[float]:
    """Build and noop-materialize every query once; seconds per query."""
    from ml_with_spark_streaming_spark.plans import QUERIES

    secs = []
    for name in names:
        tid = f"{_short(name)}#{tag}"
        a = time.monotonic()
        with span(f"plans.{_short(name)}", tid):
            with span("plans.build", tid):
                df = QUERIES[name](spark, sf_dir)
            with span("plans.exec", tid):
                df.write.format("noop").mode("overwrite").save()
        secs.append(time.monotonic() - a)
    return secs


def _untraced(name, tid):
    return contextlib.nullcontext()


def run(ctx) -> dict:
    from concurrent.futures import ThreadPoolExecutor

    from ml_with_spark_streaming_spark.plans.registry import ORACLES

    spark, spec = ctx.spark, ctx.spec
    names = spec["queries"]
    sf_dir = ctx.path("sf")
    gen.write_tables(sf_dir, ctx.seed, spec["sf"])
    ctx.phase("inputs")

    # untimed warm-up (JIT, Python workers, the noop write path): a pass
    # that collects every result for the oracle check, then noop passes,
    # while DuckDB computes the oracle results on a second thread
    oracle = _oracle_module()
    with ThreadPoolExecutor(max_workers=1) as pool:
        expected = pool.submit(
            _oracle_results, sf_dir, {n: ORACLES[n] for n in names if n in ORACLES}, oracle.TABLES
        )
        got = _collect_pass(ctx, names, sf_dir)
        for i in range(spec["warmup_passes"]):
            _run_pass(spark, names, sf_dir, _untraced, f"warm{i}")
        want = expected.result()
    ctx.phase("warm-up passes")

    tracer = ctx.tracer
    span = tracer.span if tracer is not None else _untraced
    q_s: dict[str, list[float]] = {n: [] for n in names}
    passes: list[float] = []
    ctx.mark_timed_start()
    t0 = time.monotonic()
    while not passes or time.monotonic() - t0 < ctx.seconds:
        p0 = time.monotonic()
        for name, sec in zip(names, _run_pass(spark, names, sf_dir, span, len(passes))):
            q_s[name].append(sec)
        passes.append(time.monotonic() - p0)
    _check_results(ctx, oracle, got, want)

    med = {n: statistics.median(v) for n, v in q_s.items()}
    geomean = math.exp(statistics.fmean(math.log(v) for v in med.values()))
    named = {
        "analytics_pass_s": (statistics.median(passes), "s"),
        "analytics_geomean_s": (geomean, "s"),
        "analytics_passes": (len(passes), "count"),
        **{f"query.{_short(n)}_s": (v, "s") for n, v in med.items()},
    }
    out = {
        "e2e": {
            "throughput_per_s": len(names) / statistics.median(passes),
            "op_geomean_s": geomean,
        },
        "named": named,
        "ops": len(names) * (len(passes) + spec["warmup_passes"] + 1),
        "failed_ops": len(names) - len(got),
        "extra": {"pass_s": passes, "query_s": q_s},
    }
    if tracer is not None:
        out["layers"] = _layers(tracer, names, passes, spark)
    return out


def _layers(tracer, names: list[str], passes: list[float], spark) -> dict:
    tracer.self_times()
    n_passes = len(passes)
    per_query = {s["trace_id"]: s["dur"] for s in tracer.spans if s["name"].startswith("plans.q")}
    # share of each pass's wall time covered by the query spans
    out: dict[str, float] = {
        "trace.span_coverage": statistics.median(
            sum(per_query[f"{_short(n)}#{i}"] for n in names) / wall for i, wall in enumerate(passes)
        )
    }
    totals = {"build_s": 0.0, "exec_s": 0.0, "jobs": 0.0, "stages": 0.0, "tasks": 0.0}
    for name in names:
        q = _short(name)
        per_pass = []
        for i in range(n_passes):
            tid = f"{q}#{i}"
            parts = {s["name"]: s for s in tracer.spans if s["trace_id"] == tid}
            b, e = parts["plans.build"], parts["plans.exec"]
            per_pass.append(
                {
                    "build_s": b["dur"],
                    "exec_s": e["dur"],
                    "jobs": b["jobs"] + e["jobs"],
                    "stages": b["stages"] + e["stages"],
                    "tasks": b["tasks"] + e["tasks"],
                }
            )
        m = {k: statistics.median(p[k] for p in per_pass) for k in totals}
        for k in totals:
            totals[k] += m[k]
        out[f"plans.{q}.build_s"] = m["build_s"]
        out[f"plans.{q}.exec_s"] = m["exec_s"]
        out[f"plans.{q}.jobs"] = m["jobs"]
        if q in TASK_COUNTED:
            out[f"plans.{q}.tasks"] = m["tasks"]
    for k, v in totals.items():
        out[f"plans.{k}"] = v
    import bench

    out["bench.calibration_s"] = bench._calibration_probe(spark)
    return out
