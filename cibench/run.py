#!/usr/bin/env python3
"""Repository benchmark: three closed-loop workloads on ``local[nproc]``.

    python3 cibench/run.py --workload bi_reports --seed 1 --seconds 6 --trace 0

Run from the repository root. Each run generates its inputs from ``--seed``
under a per-run temp dir (removed at exit), starts one Spark session, runs
the engine's one-time builds and ``WARMUP_PASSES`` untimed passes, then
about ``--seconds`` worth of timed passes, checks every output and prints
one JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A self-describing artifact is written to ``cibench/out/``.
See ``cibench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "tesla_competitive_intelligence_etl_pipeline_spark"
WORKLOADS = ("bi_reports", "corpus_prep", "ingest_maintain")
SF = 0.01
# untimed warm-up passes. The JIT keeps speeding passes up after the first
# (cold) one: on a 4-core host the first pass after two warm-ups still ran
# about 8% above the median of the six after it (13% for ingest_maintain
# after one, whose set-up already runs merge_table and build_ivf_index).
# More warm-up passes do not fit the run budget (README, "Run budget").
WARMUP_PASSES = {"bi_reports": 2, "corpus_prep": 2, "ingest_maintain": 1}
# typical wall time of a pass after the warm-up on a 4-core host; --seconds
# divided by it, rounded, is the number of timed passes, so the count (and
# with it every pooled sample count) does not change with the code's speed
NOMINAL_PASS_S = {"bi_reports": 7.0, "corpus_prep": 5.0, "ingest_maintain": 13.0}
DRIVER_MEMORY = "2g"

REGISTRY_ENTRIES = [
    "flagship_customer_revenue", "q1_pricing_summary", "q3_shipping_priority", "q18_large_orders",
    "x7_cube", "x8_window_frame", "tpch_suite",
    "x1_dedup_exact", "x2_minhash_lsh_portable", "x2_cross_corpus_lsh",
    "x5_quality_score", "x10_pandas_udf_tokens", "x3_ivf", "x3_cosine_topk",
]
E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "read_p50_s": "s", "read_tail_s": "s", "write_p50_s": "s",
    "write_tail_s": "s", "search_p50_s": "s", "jvm_rss_peak_mb": "MB", "write_amp": "ratio",
    "space_amp": "ratio",
}
LAYER_UNITS = {
    "plans.build_s": "s", "plans.eager_jobs": "count",
    "sql.compile_s": "s", "sql.exchanges": "count", "sql.broadcasts": "count",
    "exec.wall_s": "s", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.stages": "count", "exec.tasks": "count", "exec.idle_share": "ratio",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.skew": "ratio",
    "sources.input_mb": "MB", "sources.input_rows": "count", "sources.storage_mem_mb": "MB",
    "pyworker.run_s": "s", "pyworker.share": "ratio",
    **{f"op.{e}_s": "s" for e in REGISTRY_ENTRIES},
    "store.merge_s": "s", "store.delete_s": "s", "store.read_s": "s", "store.optimize_s": "s",
    "store.vacuum_s": "s", "store.bytes_written_mb": "MB", "store.files_written": "count",
    "store.files_live": "count",
    "fs.ops": "count", "fs.put_atomic": "count", "fs.rename": "count", "fs.listdir": "count",
    "fs.rmtree": "count", "fs.put_bytes": "bytes",
    "index.append_s": "s", "index.delete_s": "s", "index.compact_s": "s", "index.search_s": "s",
    "index.files_per_cell": "count",
    "pipeline.run_s": "s",
    "trace.overhead_share": "ratio",
}
# end-to-end metrics with no op behind them on the read-only workloads, and
# what the result line carries for them there (see README, "Not applicable")
NOT_APPLICABLE = {"write_p50_s": "read_p50_s", "write_tail_s": "read_tail_s",
                  "search_p50_s": "read_p50_s", "write_amp": "input_space_amp",
                  "space_amp": "input_space_amp"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def source_stamp() -> str:
    """Git SHA of the checkout, or a hash of the package sources."""
    if (ROOT / ".git").exists():
        try:
            return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                                  text=True, check=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for p in sorted([ROOT / "__spark_entry__.py", *(ROOT / PACKAGE).rglob("*.py")]):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return "sha256:" + h.hexdigest()[:16]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(rundir: str) -> None:
    """Point every scratch path at the run dir (local dirs, JVM and Python
    temp, warehouse, Derby) and put the checkout on the import path of this
    process and of the Python workers. Runs before the package is imported."""
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    n = str(cores())
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": n,
        "SPARK_MASTER": f"local[{n}]",
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        # also read by spark-submit's own launcher JVM
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.local.dir={tmp}",
            f"--conf spark.sql.warehouse.dir={os.path.join(rundir, 'warehouse')}",
            f"--conf spark.executorEnv.PYTHONPATH={ROOT}",
            # a fixed heap size: G1 does not resize it under the timed passes
            f"--driver-java-options '-Xms{DRIVER_MEMORY} -Dderby.system.home={rundir}'",
            "pyspark-shell",
        ]),
    })
    sys.path[:0] = [str(ROOT), str(HERE)]


def start_spark():
    """One session through the package's own builder (``local[nproc]``)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.session import get_spark

    spark = get_spark("cibench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (its Python workers exit with it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


def jvm_live_mb(spark) -> dict[str, float]:
    """Memory the JVM holds after a full GC, in MB: heap and non-heap in use
    (from its memory MXBeans) and its NIO buffer pools. Unlike VmHWM, which
    follows the collector's heap sizing, this moves with what the program
    keeps: cached and checkpointed blocks, the status store, loaded code."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mf = jvm.java.lang.management.ManagementFactory
    mem = mf.getMemoryMXBean()
    pools = mf.getPlatformMXBeans(jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
    parts = {"heap": mem.getHeapMemoryUsage().getUsed(), "non_heap": mem.getNonHeapMemoryUsage().getUsed(),
             "buffers": sum(pools.get(i).getMemoryUsed() for i in range(pools.size()))}
    parts = {k: v / 2**20 for k, v in parts.items()}
    parts["total"] = sum(parts.values())
    return parts


def input_space_amp(data_dir: str) -> float:
    """Bytes on disk of the input tables per byte of their rows (Arrow)."""
    import pyarrow.parquet as pq

    paths = [os.path.join(data_dir, f) for f in sorted(os.listdir(data_dir))]
    return sum(os.path.getsize(p) for p in paths) / sum(pq.read_table(p).nbytes for p in paths)


def tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it: the
    sample ten from the top. With ten samples or fewer, the largest."""
    v = sorted(values)
    if not v:
        return float("nan")
    return v[len(v) - 11] if len(v) > 10 else v[-1]


def med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else float("nan")


def end_to_end(setup_s, passes, samples, live_mb, input_amp) -> tuple[dict, dict, dict]:
    """The end-to-end metrics of the untraced timed passes, the sample
    counts behind them, and the metrics that had no op behind them."""
    ps = [p for p in passes if not p["traced"]]
    timed = {p["pass_no"] for p in ps}
    by_kind = {k: [s.s for s in samples if s.pass_no in timed and s.kind == k]
               for k in ("read", "write", "search")}
    m = {
        "setup_s": setup_s,
        "pass_s": med(p["s"] for p in ps),
        "read_p50_s": med(by_kind["read"]),
        "read_tail_s": tail(by_kind["read"]),
        "write_p50_s": med(by_kind["write"]),
        "write_tail_s": tail(by_kind["write"]),
        "search_p50_s": med(by_kind["search"]),
        "jvm_rss_peak_mb": live_mb,
        "write_amp": med(p["written_bytes"] / p["user_bytes"] for p in ps if p.get("user_bytes")),
        "space_amp": med(p["disk_bytes"] / p["live_bytes"] for p in ps if p.get("live_bytes")),
        "input_space_amp": input_amp,
    }
    n_a = {k: v for k, v in NOT_APPLICABLE.items() if m[k] != m[k]}  # NaN: no samples
    m.update({k: m[v] for k, v in n_a.items()})
    counts = {k: len(v) for k, v in by_kind.items()}
    counts["tail_beyond"] = {k: sum(1 for x in v if x > tail(v)) for k, v in by_kind.items()}
    return m, counts, n_a


def layer_metrics(passes, samples, n_cores) -> tuple[dict, list[dict]]:
    """Per-layer totals of each traced pass, and their median over traced
    passes (the reported value)."""
    per_pass = []
    for p in (p for p in passes if p["traced"]):
        ss = [s for s in samples if s.pass_no == p["pass_no"]]
        tot = lambda key: sum(s.layer_m.get(key, 0) for s in ss)  # noqa: E731
        by_layer = lambda layer: sum(s.s for s in ss if s.layer == layer)  # noqa: E731
        wall = sum(s.s for s in ss)
        run_s = tot("run_s")
        writes = [s for s in ss if s.layer in ("store.merge", "store.delete")]
        per_write = lambda key: med(s.layer_m.get("fs_calls", {}).get(key, 0) for s in writes) if writes else 0  # noqa: E731
        m = {
            "plans.build_s": tot("build_s"), "plans.eager_jobs": tot("eager_jobs"),
            "sql.compile_s": tot("compile_s"), "sql.exchanges": tot("exchanges"),
            "sql.broadcasts": tot("broadcasts"),
            "exec.wall_s": wall, "exec.run_s": run_s, "exec.cpu_s": tot("cpu_s"), "exec.gc_s": tot("gc_s"),
            "exec.stages": tot("stages"), "exec.tasks": tot("tasks"),
            "exec.idle_share": 1 - run_s / (wall * n_cores) if wall else 0,
            "exec.shuffle_read_mb": tot("shuffle_read_mb"), "exec.shuffle_write_mb": tot("shuffle_write_mb"),
            "exec.spill_mb": tot("spill_mb"), "exec.skew": max((s.layer_m.get("skew", 1.0) for s in ss), default=1.0),
            "sources.input_mb": tot("input_mb"), "sources.input_rows": tot("input_rows"),
            "sources.storage_mem_mb": max((s.layer_m.get("storage_mem_mb", 0) for s in ss), default=0),
            "pyworker.run_s": tot("pyworker_run_s"),
            "pyworker.share": tot("pyworker_run_s") / run_s if run_s else 0,
            **{f"op.{e}_s": sum(s.s for s in ss if s.name == e) for e in REGISTRY_ENTRIES},
            "store.merge_s": by_layer("store.merge"), "store.delete_s": by_layer("store.delete"),
            "store.read_s": by_layer("store.read"), "store.optimize_s": by_layer("store.optimize"),
            "store.vacuum_s": by_layer("store.vacuum"),
            "store.bytes_written_mb": p.get("written_bytes", 0) / 2**20,
            "store.files_written": p.get("files_written", 0), "store.files_live": p.get("files_live", 0),
            "fs.ops": med(s.layer_m.get("fs_ops", 0) for s in writes) if writes else 0,
            "fs.put_atomic": per_write("put_atomic"), "fs.rename": per_write("rename"),
            "fs.listdir": per_write("listdir"), "fs.rmtree": per_write("rmtree"),
            "fs.put_bytes": per_write("put_bytes"),
            "index.append_s": by_layer("index.append"), "index.delete_s": by_layer("index.delete"),
            "index.compact_s": by_layer("index.compact"), "index.search_s": by_layer("index.search"),
            "index.files_per_cell": p.get("files_per_cell", 0),
            "pipeline.run_s": by_layer("pipeline.run"),
        }
        per_pass.append(m)
    out = {k: med(pp[k] for pp in per_pass) for k in per_pass[0]}
    untraced = med(p["s"] for p in passes if not p["traced"])
    out["trace.overhead_share"] = med(p["s"] for p in passes if p["traced"]) / untraced - 1
    return out, per_pass


def summarize(samples, metrics: dict, units: dict) -> dict:
    """The result line: every op's output was checked; an op that raised or
    returned a wrong output counts as failed."""
    failed = sum(1 for s in samples if not s.ok)
    return {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def run(args, rundir: str) -> tuple[dict, dict]:
    isolate(rundir)
    import __spark_entry__
    import datagen
    from checks import CachedOracle
    from workloads import REGISTRY_MIXES, Bench, IngestWorkload, RegistryWorkload, steal_and_load, steal_share

    from tesla_competitive_intelligence_etl_pipeline_spark.plans import fixtures

    # inputs are generated once, before any timer starts
    data_dir = os.path.join(rundir, "data")
    datagen.write_tables(data_dir, args.seed, SF)
    input_amp = input_space_amp(data_dir)
    oracle = None
    if args.workload in REGISTRY_MIXES:
        # answer the oracle queries that need no engine-written fixture while
        # the JVM starts; joined before the first pass
        oracle = CachedOracle(data_dir, os.path.join(rundir, "fixtures"), fixtures.FIXTURE_ROOT)
        sqls = [__spark_entry__.oracle_sql().get(name) for name in REGISTRY_MIXES[args.workload]]
        oracle.prefetch([q for q in sqls if q and fixtures.FIXTURE_ROOT not in q])
    t0 = time.perf_counter()
    spark = start_spark()
    session_start_s = time.perf_counter() - t0
    if oracle is not None:
        oracle.join()

    traced_run = bool(args.trace)
    try:
        bench = Bench(spark, rundir)
        if args.workload == "ingest_maintain":
            wl = IngestWorkload(bench, args.seed, data_dir, counting=traced_run)
        else:
            wl = RegistryWorkload(bench, args.workload, data_dir)
        t = time.perf_counter()
        wl.setup()
        build_s = time.perf_counter() - t
        if isinstance(wl, IngestWorkload):
            wl.prepare()

        passes, live_mb = [], []

        def one_pass(pass_no: int, traced: bool) -> None:
            # every pass starts after a full GC, which also reads what the
            # JVM holds at that point
            live_mb.append(jvm_live_mb(spark))
            if isinstance(wl, IngestWorkload):
                wl.reset()
            cpu0, _ = steal_and_load()
            t = time.perf_counter()
            wl.run_pass(pass_no, traced)
            wall = time.perf_counter() - t
            cpu1, load1 = steal_and_load()
            io = wl.finish_pass()
            ss = [s for s in bench.samples if s.pass_no == pass_no]
            if traced:
                bench.collect_stage_metrics(ss)
            wl.check(ss, oracle)
            # a pass's time is its ops' time, without the benchmark's own
            # bookkeeping between them
            passes.append({"pass_no": pass_no, "traced": traced, "s": sum(s.s for s in ss), "wall_s": wall,
                           "steal_share": steal_share(cpu0, cpu1), "loadavg_1m": load1, **io})

        for w in range(WARMUP_PASSES[args.workload]):
            one_pass(-1 - w, False)
        warmup = list(passes)
        passes.clear()
        # trace runs alternate untraced and traced passes, untraced first
        n = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        for p in range(2 * n if traced_run else n):
            one_pass(p, traced_run and p % 2 == 1)
        live_mb.append(jvm_live_mb(spark))
        hwm = jvm_hwm_mb(spark)
        conf = dict(spark.sparkContext.getConf().getAll())
        conf.update({k: spark.conf.get(k, None) for k in (
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled", "spark.sql.ansi.enabled",
            "spark.sql.autoBroadcastJoinThreshold", "spark.sql.session.timeZone")})
    finally:
        if oracle is not None:
            oracle.close()
        stop_spark(spark)

    samples = bench.samples
    if traced_run:
        bench.tracer.write(str(HERE / "out" / f"{args.workload}-seed{args.seed}-trace1.spans.jsonl"))
    untraced = [p for p in passes if not p["traced"]]
    # set-up as a user pays it once per process: session start, the
    # engine's one-time builds and the warm-up passes
    setup_s = session_start_s + build_s + sum(p["s"] for p in warmup)
    e2e, counts, n_a = end_to_end(setup_s, passes, samples, max(m["total"] for m in live_mb), input_amp)
    metrics, layer_passes = layer_metrics(passes, samples, cores()) if traced_run else (e2e, [])
    result = summarize(samples, metrics, LAYER_UNITS if traced_run else E2E_UNITS)
    artifact = {
        "result": result,
        "end_to_end": e2e, "not_applicable": n_a,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "source": source_stamp(), "nproc": cores(), "master": conf.get("spark.master"),
        "spark_conf": {k: v for k, v in conf.items() if not k.startswith("spark.app.")},
        "sf": SF, "session_start_s": session_start_s, "build_s": build_s,
        "warmup_passes": warmup, "passes": passes, "timed_passes": len(untraced),
        "jvm_live_mb": live_mb, "jvm_vmhwm_mb": hwm,
        "sample_counts": counts, "layer_passes": layer_passes,
        "samples": [{"pass": s.pass_no, "name": s.name, "kind": s.kind, "s": s.s, "ok": s.ok,
                     "error": s.error, "problems": s.problems[:3],
                     "layer": {k: v for k, v in s.layer_m.items() if k != "fs_calls"}} for s in samples],
    }
    return result, artifact


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "__spark_entry__.py").is_file() \
            or not (ROOT / "tests" / "oracle_harness.py").is_file():
        print(f"cibench: {ROOT} does not hold the engine ({PACKAGE}/, __spark_entry__.py, "
              "tests/oracle_harness.py); run from a full checkout", file=sys.stderr)
        return 2
    out = HERE / "out"
    out.mkdir(exist_ok=True)
    rundir = tempfile.mkdtemp(prefix="run-", dir=out)
    try:
        result, artifact = run(args, rundir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    stem = out / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    stem.with_suffix(".json").write_text(json.dumps(artifact, indent=1, default=str))
    print(f"cibench: artifact {stem.with_suffix('.json')}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
