"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest cibench/test_cibench.py -q

The wrong-output tests need no Spark session. The determinism test runs the
benchmark itself (traced) several times and takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import datagen  # noqa: E402
import run  # noqa: E402
from checks import CachedOracle, Collected, check_registry_op  # noqa: E402
from workloads import Bench, IngestWorkload, Sample  # noqa: E402


def _spark_type(duck_type: str):
    from pyspark.sql import types as T

    return {"BIGINT": T.LongType, "INTEGER": T.IntegerType, "DOUBLE": T.DoubleType,
            "BOOLEAN": T.BooleanType, "DATE": T.DateType, "TIMESTAMP": T.TimestampType,
            }.get(duck_type.split("(")[0], T.StringType)()


def _oracle_rows(tmp_path, entry):
    """The oracle's own answer for ``entry`` on seeded inputs, shaped as the
    engine's result would be."""
    from pyspark.sql import types as T

    import __spark_entry__

    data = str(tmp_path / "data")
    datagen.write_tables(data, seed=3, sf=0.001)
    sql = __spark_entry__.oracle_sql()[entry]
    oracle = CachedOracle(data, str(tmp_path / "fx"), "/nonexistent")
    res = oracle.execute(sql)
    schema = T.StructType([T.StructField(d[0], _spark_type(str(d[1]))) for d in res.description])
    return oracle, sql, schema, list(res.fetchall())


def test_right_output_passes_and_wrong_output_counts_as_failed(tmp_path):
    oracle, sql, schema, rows = _oracle_rows(tmp_path, "q1_pricing_summary")
    assert rows
    good = Sample(0, "q1_pricing_summary", "read", "op.q1_pricing_summary", 0.1)
    good.problems = check_registry_op(good.name, Collected(schema, rows), sql, oracle, {})
    assert good.problems == [] and good.ok

    bad = Sample(0, "q1_pricing_summary", "read", "op.q1_pricing_summary", 0.1)
    wrong = [rows[0][:-1] + ((rows[0][-1] or 0) + 1,)] + rows[1:]
    bad.problems = check_registry_op(bad.name, Collected(schema, wrong), sql, oracle, {})
    assert bad.problems and not bad.ok

    short = Sample(0, "q1_pricing_summary", "read", "op.q1_pricing_summary", 0.1)
    short.problems = check_registry_op(short.name, Collected(schema, rows[1:]), sql, oracle, {})
    assert short.problems

    result = run.summarize([good, bad, short], {"pass_s": 1.0}, {"pass_s": "s"})
    assert (result["attempted"], result["failed"], result["correct"]) == (3, 2, False)
    oracle.close()


def test_ingest_checks_catch_wrong_outputs():
    wl = IngestWorkload.__new__(IngestWorkload)
    wl.final_rows, wl.rounds = [], [{"after_delete": []}]
    ok = Sample(0, "ivf_topk_indexed", "search", "index.search", 0.1,
                layer_m={"check": ("search", [7, 8], 7, {9})})
    missing = Sample(0, "ivf_topk_indexed", "search", "index.search", 0.1,
                     layer_m={"check": ("search", [8], 7, {9})})
    tombstoned = Sample(0, "ivf_topk_indexed", "search", "index.search", 0.1,
                        layer_m={"check": ("search", [7, 9], 7, {9})})
    wl.check([ok, missing, tombstoned])
    assert ok.ok and not missing.ok and not tombstoned.ok

    wl.gold_keys = [("TSLA", 1), ("RIVN", 1)]
    run_ok = Sample(0, "pipeline_run", "maint", "pipeline.run", 0.1, layer_m={"check": (
        "pipeline", {"status": "success", "transformation_count": 2, "load_count": 2})})
    run_short = Sample(0, "pipeline_run", "maint", "pipeline.run", 0.1, layer_m={"check": (
        "pipeline", {"status": "success", "transformation_count": 3, "load_count": 3})})
    wl.check([run_ok, run_short])
    assert run_ok.ok and not run_short.ok


def test_an_op_that_raises_counts_as_failed():
    class Ctx:
        def setJobGroup(self, *a):
            pass

        _jsc = type("J", (), {"sc": lambda self: None})()

    spark = type("S", (), {"sparkContext": Ctx()})()
    bench = Bench(spark, "/nonexistent")

    def boom(sample):
        raise RuntimeError("wrong")

    sample, out = bench.timed(0, "op", "read", "op.x", boom, traced=False)
    assert out is None and sample.error and not sample.ok


COUNTED = ("fs.ops", "fs.put_atomic", "fs.rename", "fs.listdir", "fs.rmtree",
           "store.files_written", "sql.exchanges", "sql.broadcasts")
# the manifest and lease records carry wall-clock stamps whose printed
# length varies by a few bytes, so fs.put_bytes repeats only within 1 %
NEAR = ("fs.put_bytes",)


def _traced_run(workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["correct"]
    art = json.loads((HERE / "out" / f"{workload}-seed{seed}-trace1.json").read_text())
    return [{k: p[k] for k in COUNTED + NEAR} for p in art["layer_passes"]]


@pytest.mark.parametrize("workload,seconds", [("ingest_maintain", 26), ("bi_reports", 14)])
def test_counted_metrics_repeat_across_passes_and_runs(workload, seconds):
    first = _traced_run(workload, 5, seconds)
    second = _traced_run(workload, 5, 0)
    assert len(first) >= 2
    for p in first[1:] + second:
        assert {k: p[k] for k in COUNTED} == {k: first[0][k] for k in COUNTED}, (first, second)
        for k in NEAR:
            assert abs(p[k] - first[0][k]) <= 0.01 * first[0][k], (k, first, second)
