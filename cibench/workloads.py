"""The benchmark's three closed-loop workloads, one client each.

``bi_reports`` and ``corpus_prep`` call ``__spark_entry__.queries()``
builders and collect the DataFrames they return; every op there is a read.
``ingest_maintain`` calls the merge-table store (``streaming/events.py``),
the IVF index (``operators/similarity.py``) and ``plans/api.Pipeline``.
Every op is timed as one call, with its kind:

- ``read``: a registry report or corpus job collected to the client, or a
  bucket-pruned ``read_merged`` poll;
- ``search``: the indexed ANN search of ``ingest_maintain``;
- ``write``: a merge-table commit (``merge_table``,
  ``delete_from_merge_table``);
- ``maint``: index appends and tombstones, optimize, vacuum, compaction
  and the reference pipeline run. They count in ``pass_s`` only.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from checks import Collected, LwwModel, check_registry_op, same_rows
from tracing import CountingFS, StageReader, Tracer, fs_ops, plan_shape

BI_OPS = ["flagship_customer_revenue", "q1_pricing_summary", "q3_shipping_priority", "q18_large_orders",
          "x7_cube", "x8_window_frame", "tpch_suite"]
CORPUS_OPS = ["x1_dedup_exact", "x2_minhash_lsh_portable", "x2_cross_corpus_lsh", "x5_quality_score",
              "x10_pandas_udf_tokens", "x3_ivf", "x3_cosine_topk"]
REGISTRY_MIXES = {"bi_reports": BI_OPS, "corpus_prep": CORPUS_OPS}


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """Every regular file under ``root``: relpath -> (size, mtime_ns)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) created or rewritten between two dir_files snapshots."""
    new = [v[0] for k, v in after.items() if before.get(k) != v]
    return sum(new), len(new)


@dataclass
class Sample:
    pass_no: int
    name: str
    kind: str
    layer: str
    s: float
    error: str | None = None
    problems: list[str] = field(default_factory=list)
    layer_m: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return self.error is None and not self.problems


class Bench:
    """Per-run state shared by the workloads: the session, the tracer, the
    samples and the per-pass layer metrics."""

    def __init__(self, spark, rundir: str):
        self.spark, self.sc, self.rundir = spark, spark.sparkContext, rundir
        self.tracer = Tracer()
        self.stages = StageReader(spark)
        self.samples: list[Sample] = []
        self._seq = 0

    def untimed_group(self) -> None:
        self.sc.setJobGroup("cibench-untimed", "untimed", False)

    def timed(self, pass_no: int, name: str, kind: str, layer: str, fn, traced: bool):
        """Run ``fn(sample)`` as one timed op under its own job group."""
        self._seq += 1
        group = f"cibench-{self._seq}"
        self.sc.setJobGroup(group, name, False)
        sample = Sample(pass_no, name, kind, layer, 0.0)
        sample.layer_m["group"] = group
        out = None
        t0 = time.perf_counter()
        with self.span(layer, traced, op=name, pass_no=pass_no):
            try:
                out = fn(sample)
            except Exception as e:  # an op that raises is a failed op
                sample.error = f"{type(e).__name__}: {e}"[:400]
        sample.s = time.perf_counter() - t0
        self.samples.append(sample)
        return sample, out

    def span(self, name: str, traced: bool, **attrs):
        """A span in traced passes; nothing in untraced ones."""
        return self.tracer.span(name, **attrs) if traced else contextlib.nullcontext()

    def collect_stage_metrics(self, samples: list[Sample]) -> None:
        self.stages.drain()
        for s in samples:
            s.layer_m.update(self.stages.group_metrics(s.layer_m["group"]))


def steal_and_load() -> tuple[list[int], float]:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return cpu, os.getloadavg()[0]


def steal_share(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    total = sum(d)
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


# ---------------------------------------------------------------- registry


class RegistryWorkload:
    """``bi_reports`` / ``corpus_prep``: one pass runs the op mix in order
    and collects each op's rows."""

    def __init__(self, bench: Bench, name: str, data_dir: str):
        import __spark_entry__ as entry

        from tesla_competitive_intelligence_etl_pipeline_spark.plans import fixtures

        self.b, self.data_dir = bench, data_dir
        self.ops = REGISTRY_MIXES[name]
        self.queries, self.oracles = entry.queries(), entry.oracle_sql()
        # engine-hash fixtures go under the run dir (the oracle SQL is
        # pointed at the same place, see run.py)
        fixtures.FIXTURE_ROOT = os.path.join(bench.rundir, "fixtures")
        self.expected_rows: dict[str, int] = {}

    def setup(self) -> None:
        """Nothing to build: the registry builds its indexes and fixtures
        lazily, in the first (warm-up) pass."""

    def run_pass(self, pass_no: int, traced: bool) -> None:
        for name in self.ops:
            builder = self.queries[name]

            def call(sample, builder=builder):
                t0 = time.perf_counter()
                with self.b.span("plans.build", traced):
                    df = builder(self.b.spark, self.data_dir)
                sample.layer_m["build_s"] = time.perf_counter() - t0
                if traced:
                    sample.layer_m["eager_jobs"] = len(self.b.stages.job_ids(sample.layer_m["group"]))
                    with self.b.span("sql.compile", traced):
                        c, ex, bc = plan_shape(df)
                    sample.layer_m.update(compile_s=c, exchanges=ex, broadcasts=bc)
                with self.b.span("exec", traced):
                    return Collected(df.schema, df.collect())

            sample, out = self.b.timed(pass_no, name, "read", f"op.{name}", call, traced)
            self.b.untimed_group()
            self.b.spark.catalog.clearCache()
            if traced:
                sample.layer_m["storage_mem_mb"] = self.b.stages.storage_mem_mb()
            sample.layer_m["result"] = out

    def finish_pass(self) -> dict:
        return {}

    def check(self, samples: list[Sample], oracle) -> None:
        for s in samples:
            res = s.layer_m.pop("result", None)
            if s.error is None and res is not None:
                s.problems += check_registry_op(s.name, res, self.oracles.get(s.name),
                                                oracle, self.expected_rows)


# ------------------------------------------------------------------ ingest


class IngestWorkload:
    """``ingest_maintain``: every pass starts from an untimed copy of the
    set-up tables and replays the same seeded rounds of writes, polls,
    index maintenance, searches and store maintenance, then one run of the
    reference pipeline (``Pipeline.run``) into a fresh gold table."""

    N_BUCKETS = 16
    ROUNDS = 1
    BATCH_ROWS = 1000
    DELETE_KEYS = 100
    NEAR_COPIES = 20
    TOMBSTONES = 20
    # bucket-pair polls after each write: 30 reads a pass, so that ten lie
    # beyond the read tail
    POLLS = 15
    COLS = ["event_id", "ts_us", "user_id", "event_type", "value", "props"]

    def __init__(self, bench: Bench, seed: int, data_dir: str, counting: bool):
        self.b, self.seed, self.data_dir = bench, seed, data_dir
        self.fs = CountingFS() if counting else None
        self.pristine = os.path.join(bench.rundir, "pristine")
        self.live = os.path.join(bench.rundir, "live")
        self.gold = os.path.join(bench.rundir, "gold")
        ev = pq.read_table(os.path.join(data_dir, "events.parquet"))
        ts_us = pc.cast(ev.column("ts"), pa.timestamp("us"), safe=False).cast(pa.int64())
        self.initial = ev.set_column(ev.schema.get_field_index("ts"), "ts_us", ts_us).select(self.COLS)

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        """The engine's one-time builds: the merge table from ``events``
        and the IVF index from ``embeddings``."""
        from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity
        from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events

        spark = self.b.spark
        self.b.untimed_group()
        events.merge_table(self._df(self.initial), self.pristine + "/table", keys=["event_id"],
                           order_cols=["ts_us"], n_buckets=self.N_BUCKETS)
        emb = spark.read.parquet(os.path.join(self.data_dir, "embeddings.parquet"))
        similarity.build_ivf_index(emb, self.pristine + "/index")

    def prepare(self) -> None:
        """Seed the rounds' inputs (untimed)."""
        self._plan_rounds(self.initial, pq.read_table(os.path.join(self.data_dir, "embeddings.parquet")))

    def _df(self, table: pa.Table):
        return self.b.spark.createDataFrame(table.to_pandas())

    def _plan_rounds(self, initial: pa.Table, emb: pa.Table) -> None:
        """Seed every round's inputs and the expected state after each write."""
        from pyspark.sql import functions as F

        rng = np.random.default_rng(self.seed + 1)
        model = LwwModel(initial)
        live = set(initial.column("event_id").to_pylist())
        next_id = max(live) + 1
        ts_next = int(pc.max(initial.column("ts_us")).as_py()) + 1_000_000
        vectors = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
        next_vec = emb.num_rows
        tombstoned: set[int] = set()
        self.rounds = []
        all_keys = set(live)
        for r in range(self.ROUNDS):
            n_upd = self.BATCH_ROWS // 2
            upd = rng.choice(sorted(live), n_upd, replace=False)
            new = np.arange(next_id, next_id + self.BATCH_ROWS - n_upd)
            next_id += len(new)
            keys = np.concatenate([upd, new])
            n = len(keys)
            batch = pa.table({
                "event_id": pa.array(keys, pa.int64()),
                "ts_us": pa.array(ts_next + np.arange(n) * 1000, pa.int64()),
                "user_id": pa.array(rng.integers(0, 1000, n), pa.int64()),
                "event_type": pa.array(rng.choice(datagen.EVENT_TYPES, n), pa.string()),
                "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
            })
            ts_next += n * 1000 + 1_000_000
            live.update(new.tolist())
            all_keys.update(new.tolist())
            model.merge(batch)
            after_merge = model.rows(self.COLS)
            dels = sorted(rng.choice(sorted(live), self.DELETE_KEYS, replace=False).tolist())
            live.difference_update(dels)
            model.delete(dels)
            after_delete = model.rows(self.COLS)
            # index round: two near copies of the query (one stays, one is
            # tombstoned) plus near copies of other vectors
            q = int(rng.integers(0, emb.num_rows))
            src = np.concatenate([[q, q], rng.integers(0, emb.num_rows, self.NEAR_COPIES - 2)])
            noise = rng.standard_normal((len(src), vectors.shape[1])).astype(np.float32) * 1e-3
            copies = vectors[src] + noise
            copies /= np.linalg.norm(copies, axis=1, keepdims=True)
            ids = np.arange(next_vec, next_vec + len(src))
            next_vec += len(src)
            tomb = [int(ids[1])] + rng.choice(emb.num_rows, self.TOMBSTONES - 1, replace=False).tolist()
            tomb = sorted(set(tomb) - {q})
            tombstoned.update(tomb)
            self.rounds.append({
                "batch": batch, "batch_df": self._df(batch),
                "delete_keys": dels,
                "delete_df": self.b.spark.createDataFrame([(k,) for k in dels], "event_id long"),
                "after_merge": after_merge, "after_delete": after_delete,
                "vectors": pa.table({"vec_id": pa.array(ids, pa.int64()),
                                     "embedding": datagen.embedding_array(copies)}),
                "query": q, "planted": int(ids[0]), "tomb": tomb, "tombstoned": set(tombstoned),
                "tomb_df": self.b.spark.createDataFrame([(t,) for t in tomb], "vec_id long"),
            })
            self.rounds[-1]["vectors_df"] = self._df(self.rounds[-1]["vectors"])
        # Arrow size of the live rows at pass end: the table, plus each live
        # vector's id, cell, float32 values and list offset
        self.final_live_bytes = model.arrow().nbytes
        n_vec_live = emb.num_rows + self.ROUNDS * self.NEAR_COPIES - len(tombstoned)
        self.final_live_bytes += n_vec_live * (8 + 4 + 4 * vectors.shape[1] + 4)
        model.close()
        # bucket of every key, by the merge table's documented routing
        keys_df = self.b.spark.createDataFrame([(k,) for k in sorted(all_keys)], "event_id long")
        self.bucket_of = dict(keys_df.select(
            "event_id", F.pmod(F.xxhash64("event_id"), F.lit(self.N_BUCKETS)).alias("b")).collect())
        for rd in self.rounds:
            touched = sorted({self.bucket_of[k] for k in rd["batch"].column("event_id").to_pylist()})
            rd["polls"] = [sorted(rng.choice(touched, 2, replace=False).tolist()) for _ in range(self.POLLS)]

    # -- passes ---------------------------------------------------------------

    def reset(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.rmtree(self.gold, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)

    def run_pass(self, pass_no: int, traced: bool) -> None:
        from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity
        from tesla_competitive_intelligence_etl_pipeline_spark.plans.api import Pipeline
        from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events
        from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as merge_fs

        spark, fs = self.b.spark, self.fs or merge_fs.LOCAL_FS
        table, index = self.live + "/table", self.live + "/index"
        self.io = io = {"written_bytes": 0, "files_written": 0, "user_bytes": 0}

        def op(name, kind, layer, fn, user_bytes=0):
            before = dir_files(self.live)
            if self.fs is not None:
                self.fs.reset()
            sample, out = self.b.timed(pass_no, name, kind, layer, lambda s: fn(), traced)
            nbytes, nfiles = written(before, dir_files(self.live))
            io["written_bytes"] += nbytes
            io["files_written"] += nfiles
            io["user_bytes"] += user_bytes
            sample.layer_m.update(written_bytes=nbytes, files_written=nfiles)
            if self.fs is not None:
                calls = self.fs.reset()
                sample.layer_m.update(fs_calls=dict(calls), fs_ops=fs_ops(calls))
            if traced:
                sample.layer_m["storage_mem_mb"] = self.b.stages.storage_mem_mb()
            return sample, out

        def poll(buckets):
            df = events.read_merged(spark, table, buckets=buckets, fs=fs)
            return [] if df is None else [tuple(r) for r in df.select(*self.COLS).collect()]

        def polls(state):
            # a warm-up pass (negative pass_no) polls once: its samples are
            # not used, and one call warms the read path
            for buckets in rd["polls"] if pass_no >= 0 else rd["polls"][:1]:
                s, rows = op("read_merged", "read", "store.read", lambda: poll(buckets))
                s.layer_m["check"] = ("poll", rows, state, buckets)

        for rd in self.rounds:
            op("merge_table", "write", "store.merge",
               lambda: events.merge_table(rd["batch_df"], table, keys=["event_id"], order_cols=["ts_us"],
                                          n_buckets=self.N_BUCKETS, fs=fs),
               user_bytes=rd["batch"].nbytes)
            polls(rd["after_merge"])
            op("delete_from_merge_table", "write", "store.delete",
               lambda: events.delete_from_merge_table(spark, table, keys=rd["delete_df"], fs=fs),
               user_bytes=8 * len(rd["delete_keys"]))
            polls(rd["after_delete"])
            op("ivf_index_append", "maint", "index.append",
               lambda: similarity.ivf_index_append(spark, index, rd["vectors_df"], fs=fs),
               user_bytes=rd["vectors"].nbytes)
            op("ivf_index_delete", "maint", "index.delete",
               lambda: similarity.ivf_index_delete(spark, index, rd["tomb_df"], fs=fs),
               user_bytes=8 * len(rd["tomb"]))
            s, hits = op("ivf_topk_indexed", "search", "index.search",
                         lambda: [r["vec_id"] for r in similarity.ivf_topk_indexed(
                             spark, index, rd["query"], k=10, n_probe=2).collect()])
            s.layer_m["check"] = ("search", hits, rd["planted"], rd["tombstoned"])
            op("optimize_merge_table", "maint", "store.optimize",
               lambda: events.optimize_merge_table(spark, table, cluster_by="ts_us", fs=fs))
            op("vacuum_merge_table", "maint", "store.vacuum",
               lambda: events.vacuum_merge_table(table, fs=fs, staged_grace_sec=0.0))
            op("compact_ivf_index", "maint", "index.compact",
               lambda: similarity.compact_ivf_index(spark, index, max_files_per_cell=1, fs=fs))
        s, out = self.b.timed(pass_no, "pipeline_run", "maint", "pipeline.run",
                              lambda _: Pipeline(spark, self.gold).run(), traced)
        s.layer_m["check"] = ("pipeline", out)
        self.b.untimed_group()

    def finish_pass(self) -> dict:
        """Untimed: the state the pass left behind, for the checks and the
        space accounting."""
        from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity
        from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events

        spark = self.b.spark
        table, index = self.live + "/table", self.live + "/index"
        final = events.read_merged(spark, table)
        self.final_rows = [tuple(r) for r in final.select(*self.COLS).collect()]
        self.gold_keys = [tuple(r) for r in spark.read.parquet(self.gold).select("ticker", "quarter_date").collect()] \
            if os.path.isdir(self.gold) else []
        cells = similarity.ivf_cell_file_counts(index)
        files = list(dir_files(table).values()) + list(dir_files(index).values())
        return {**self.io, "disk_bytes": sum(size for size, _ in files), "live_bytes": self.final_live_bytes,
                "files_live": len(files), "files_per_cell": sum(cells.values()) / max(1, len(cells))}

    def check(self, samples: list[Sample], oracle=None) -> None:
        for s in samples:
            chk = s.layer_m.pop("check", None)
            if s.error is not None or chk is None:
                continue
            if chk[0] == "poll":
                _, rows, state, buckets = chk
                want = [r for r in state if self.bucket_of[r[0]] in buckets]
                s.problems += same_rows("read_merged", rows, want)
            elif chk[0] == "search":
                _, hits, planted, tombstoned = chk
                if planted not in hits:
                    s.problems.append(f"search: planted near copy {planted} missing from {hits}")
                dead = sorted(set(hits) & tombstoned)
                if dead:
                    s.problems.append(f"search: tombstoned ids returned {dead}")
            elif chk[0] == "pipeline":
                m = chk[1]
                n = m.get("load_count")
                if m.get("status") != "success" or not n or n != m.get("transformation_count"):
                    s.problems.append(f"pipeline: run returned {m}")
                elif len(self.gold_keys) != n or len(set(self.gold_keys)) != n:
                    s.problems.append(f"pipeline: gold table has {len(self.gold_keys)} rows, "
                                      f"{len(set(self.gold_keys))} distinct keys, load_count {n}")
        store_ops = [s for s in samples if s.layer.startswith("store.")]
        if store_ops:  # the table the pass left behind, charged to its last store op
            store_ops[-1].problems += same_rows("final state", self.final_rows, self.rounds[-1]["after_delete"])
