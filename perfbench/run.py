"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (``tweet_train``, ``ingest_door`` or ``analytics``;
each is defined in ``perfbench/workloads.json``) from the root of a
checkout against the engine in that checkout, and prints as its last
stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones
of ``BENCHMARK.json``; with ``--trace 1`` the engine calls are wrapped
in spans and the metrics are the per-layer ones. Lines before the last
one (prefixed ``#``) give the workload's own named metrics.

Everything the run writes stays under ``.bench_run/`` in the checkout:
generated inputs (removed at exit), and per workload and seed the
result record (with nproc, Spark version and session configuration),
the span dump of a traced run, and the ingest door's ledger.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_run")

# settings that change the measured program: the first two change the
# query plans, the third persists ANN artifacts across invocations so a
# first run would differ from later ones
REFUSED_ENV = ("SPARK_GRAFT_NO_CHECKPOINT", "SPARK_GRAFT_AQE_MIN_PARTITION", "SPARK_GRAFT_INDEX_DIR")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env() -> None:
    bad = [k for k in REFUSED_ENV if k in os.environ]
    if bad:
        raise SystemExit(f"refusing to run with {', '.join(bad)} set: it changes the measured program")
    if not os.path.isdir(os.path.join(ROOT, "ml_with_spark_streaming_spark")):
        raise SystemExit(f"no engine package under {ROOT}: run from the root of a checkout")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    # Python workers import the engine (stem UDF, applyInPandas) by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)


class Context:
    """What a workload gets: the session, its arguments, a scratch
    directory, and (traced runs only) the tracer."""

    def __init__(self, spark, workload: str, spec: dict, seed: int, seconds: float, tracer) -> None:
        self.spark = spark
        self.spec = spec
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.run_dir = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.run_dir, exist_ok=True)
        self.checks: list[tuple[str, bool, str]] = []
        self.first_timed: float | None = None
        self.ticks_at_start: tuple[int, int] | None = None
        self.phases: dict[str, float] = {}
        self.extra: dict = {}

    def phase(self, name: str) -> None:
        """Record the time since process start at which ``name`` ended."""
        self.phases[name] = time.monotonic() - T_PROCESS
        print(f"perfbench: {name} done at {self.phases[name]:.1f} s", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def mark_timed_start(self) -> None:
        if self.first_timed is None:
            self.first_timed = time.monotonic()
            self.ticks_at_start = _cpu_ticks()


class ClosedLoop:
    """Wraps a ``process_batch(df, batch_id)`` body: the window opens at
    the first batch and every batch that starts inside it runs and is
    timed. Batches that arrive after the window closes are drained as
    no-ops, so a catch-up replay of pre-written files ends the stream."""

    def __init__(self, ctx: Context, seconds: float) -> None:
        self.ctx = ctx
        self.seconds = seconds
        self.t0: float | None = None
        self.t_end: float | None = None
        self.batch_ids: list[int] = []
        self.batch_s: list[float] = []

    def wrap(self, fn):
        def body(df, batch_id):
            start = time.monotonic()
            if self.t0 is None:
                self.ctx.mark_timed_start()
                self.t0 = start
            elif start - self.t0 >= self.seconds:
                return
            fn(df, batch_id)
            self.t_end = time.monotonic()
            self.batch_ids.append(int(batch_id))
            self.batch_s.append(self.t_end - start)

        return body

    @property
    def wall(self) -> float:
        return (self.t_end or 0.0) - (self.t0 or 0.0)


def replay(spark, body, src: str, checkpoint: str) -> None:
    """Catch-up replay of the text files in ``src``, one file per
    trigger, through ``body`` via the engine's shared foreachBatch
    attachment."""
    from ml_with_spark_streaming_spark.streaming.foreach import attach_foreach_batch

    lines = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
    q = attach_foreach_batch(lines, body, checkpoint, available_now=True)
    try:
        q.awaitTermination()
    finally:
        q.stop()


def order_files(dirpath: str) -> None:
    """Give the files of ``dirpath`` strictly increasing modification
    times in name order: the file source replays by modification time,
    so batch ``i`` is file ``i``."""
    base = time.time() - 10_000
    for i, name in enumerate(sorted(os.listdir(dirpath))):
        os.utime(os.path.join(dirpath, name), (base + i, base + i))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _peak_rss_mb(spark) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _session_record(spark) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    for k in (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.session.timeZone",
    ):
        conf[k] = spark.conf.get(k)
    return {"nproc": _nproc(), "spark_version": spark.version, "session_conf": conf}


def _stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as f:
        spec_all = json.load(f)
    if args.workload not in spec_all["workloads"]:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(spec_all['workloads'])}")
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        declared = json.load(f)
    _prepare_env()
    for d in ("results", "traces", "ledgers"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    from ml_with_spark_streaming_spark.session import get_spark

    from perfbench.trace import Tracer

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(WORK, "tmp", "warehouse")},
    )
    tracer = Tracer(spark) if args.trace else None
    print(f"perfbench: session up at {time.monotonic() - T_PROCESS:.1f} s", file=sys.stderr, flush=True)
    ctx = Context(spark, args.workload, spec_all["workloads"][args.workload], args.seed, args.seconds, tracer)
    try:
        mod = importlib.import_module(f"perfbench.{args.workload}")
        out = mod.run(ctx)
        # CPU time the hypervisor gave to other guests since the window
        # opened: explains a slow run without changing its numbers
        steal, total = (b - a for a, b in zip(ctx.ticks_at_start, _cpu_ticks()))
        out["named"]["cpu_steal_pct"] = (100.0 * steal / total if total else 0.0, "%")
        out["e2e"]["setup_s"] = ctx.first_timed - T_PROCESS
        out["named"]["peak_rss_mb"] = (_peak_rss_mb(spark), "MB")
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            **_session_record(spark),
            "e2e": out["e2e"],
            "named": out["named"],
            "layers": out.get("layers", {}),
            "checks": ctx.checks,
            "phases": ctx.phases,
            "extra": {**out.get("extra", {}), **ctx.extra},
        }
        stem = f"{args.workload}_seed{args.seed}"
        if tracer is not None:
            prev = os.path.join(WORK, "results", f"{stem}_trace0.json")
            if os.path.exists(prev):
                with open(prev, encoding="utf-8") as f:
                    untraced = json.load(f)["e2e"]
                record["tracing_overhead"] = {
                    k: out["e2e"][k] - untraced[k] for k in untraced if k in out["e2e"]
                }
            tracer.dump(os.path.join(WORK, "traces", f"{stem}.json"), {"record": record})
        with open(os.path.join(WORK, "results", f"{stem}_trace{args.trace}.json"), "w", encoding="utf-8") as f:
            json.dump(record, f, indent=1)
    finally:
        _stop_session(spark)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    for name, ok, detail in ctx.checks:
        print(f"# check {'ok  ' if ok else 'FAIL'} {name} {detail}".rstrip())
    for name, (value, unit) in out["named"].items():
        print(f"# {name} = {value} {unit}")
    for k, v in out.get("layers", {}).items():
        print(f"# layer {k} = {v}")
    for k, v in record.get("tracing_overhead", {}).items():
        print(f"# tracing overhead {k} = {v:+.4f}")
    # failed operations and failed correctness checks over attempted ones
    attempted = out["ops"] + len(ctx.checks)
    failed = out["failed_ops"] + sum(1 for _, ok, _ in ctx.checks if not ok)
    print(f"# error_rate = {failed / attempted} ratio")
    units = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    # a layer this workload never enters reports 0 (see workloads.json)
    values = out["e2e"] if not args.trace else {k: out["layers"].get(k, 0.0) for k in units}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
