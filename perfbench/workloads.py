"""The three workloads. Each drives the engine only through its public
functions, as one closed-loop client (one op at a time) on
local[nproc], and returns the run's metrics.

- warm_mix: a fixed slice of bench.py's HEADLINE queries plus the
  BASELINE-anchor decision-tree fit, warm, over the base set.
- cold_heavy: five heavy ops, each cold (Spark cache cleared, no
  session-state fit carried over), over the seeded 10x replica.
- stream_ingest: the replica's documents and current-split orders as
  id-ordered drop files, through three foreachBatch ingests (five
  stores), then compaction and the store folds, each checked against its
  batch twin.

A run is: prepare inputs and expected outputs (untimed), start the
session and warm it (setup_s), then a fixed number of whole passes over
the workload's op list, set by ``seconds`` (see PASS_S). With ``trace``
the passes alternate untraced and traced; per-layer numbers come from
the traced passes and are given per pass.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import threading
import time
import traceback
from collections import defaultdict
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracle
from collect import ARROW_KEYS, EXEC_KEYS, Collector
from spans import Tracer, median, self_time_by_name

# Base set: the sf0.001 shape, but 150 documents and embeddings instead of
# 500, so that the 10x replica's heavy text and vector ops fit the run.
BASE_SF = 0.001
BASE_SEED = 42
BASE_DOCS = 150

# warm_mix: a slice of bench.py's HEADLINE, one op per layer the mix is
# meant to show: q01 the scan-bound control, q03 a five-table star join
# (five schema jobs per build), q36 MinHash-LSH with a heavy plan build,
# q64 an IVF probe served from its session-cached quantizer fit, q88 two
# passes across the Arrow/Python boundary, plus the decision-tree fit.
# Ops are short, so driver-side plan build, per-build schema jobs and job
# scheduling are a large share of each. Tables are the ones each op's
# builder loads.
WARM_OPS = {
    "q01_pricing_summary": ("lineitem",),
    "q03_star_join_revenue": ("lineitem", "orders", "customer", "nation", "region"),
    "q36_minhash_lsh_dedup": ("documents",),
    "q64_ann_ivf_topk": ("embeddings",),
    "q88_tdigest_quantiles": ("lineitem",),
}
DT_OP = "mlfit_decision_tree"
DT_TABLES = ("orders", "customer")

COLD_OPS = {
    "q01_pricing_summary": ("lineitem",),
    "q36_minhash_lsh_dedup": ("documents",),
    "q122_prefix_jaccard": ("documents",),
    "q175_triangle_census": ("lineitem",),
    "q231_pq_retrieval_ndcg": ("embeddings",),
}
# q36 is MinHash-LSH: exact verification of banded candidates, so every
# pair it emits is a true pair, but a true pair can be missed with
# probability 1-(1-j^4)^16 (2.1e-4 at the 0.8 threshold). It is checked
# for precision 1 and recall >= LSH_RECALL against the exact oracle.
LSH_OPS = {"q36_minhash_lsh_dedup"}
LSH_RECALL = 0.999

N_DROPS = 5
MB = 1024.0**2
# Nominal pass length per workload: a run measures max(1, round(seconds /
# PASS_S)) whole passes, the same number on a slow box as on a fast one.
PASS_S = {"warm_mix": 5.0, "cold_heavy": 20.0, "stream_ingest": 20.0}


def n_passes(workload: str, seconds: float) -> int:
    return max(1, round(seconds / PASS_S[workload]))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# The run: session, tracer, collector, samples and checks
# ---------------------------------------------------------------------------


class Listener:
    """Progress events of streaming queries, delivered on py4j's callback
    thread; ``runs_since`` blocks until a query run has terminated."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self._cv = threading.Condition()
        self.progress: dict[str, list] = defaultdict(list)
        self._done: set[str] = set()
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with outer._cv:
                    outer.progress[str(p.runId)].append(
                        (p.batchId, p.timestamp, dict(p.durationMs))
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer._done.add(str(event.runId))
                    outer._cv.notify_all()

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def runs_since(self, known: set[str], timeout_s: float = 60.0) -> list[str]:
        """Run ids that terminated and are not in ``known``."""
        deadline = time.monotonic() + timeout_s
        with self._cv:
            while not (self._done - known):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise RuntimeError("no streaming query terminated")
                self._cv.wait(left)
            return sorted(self._done - known)


class CacheCalls:
    """Counts session_cache get/put calls (and get hits) while ``on``.

    Some engine modules bind session_cache.get/put at import time, so
    ``install`` must run before the query registry is imported."""

    installed: CacheCalls | None = None

    def __init__(self):
        self.on = False
        self.gets = self.hits = self.puts = 0

    def install(self) -> None:
        from big_data_computing_final_project_spark.operators import session_cache

        get, put = session_cache.get, session_cache.put

        def counted_get(key, snapshot):
            value = get(key, snapshot)
            if self.on:
                self.gets += 1
                self.hits += value is not None
            return value

        def counted_put(key, snapshot, payload):
            if self.on:
                self.puts += 1
            return put(key, snapshot, payload)

        session_cache.get, session_cache.put = counted_get, counted_put
        CacheCalls.installed = self


class Run:
    def __init__(self, spark, sf_dir: str, expected: dict, trace: bool, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.expected = expected
        self.tracing = trace
        self.tracer = Tracer(run_id, enabled=False)
        self.collector = Collector(spark) if trace else None
        self.pins: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.samples: list[float] = []
        self.op_times: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, float] = defaultdict(float)
        self.measuring = False
        self._seq = 0
        self.cache_calls = CacheCalls.installed

    # -- job groups and counters -------------------------------------------
    def group(self, phase: str) -> None:
        if self.tracer.enabled:
            self.sc.setJobGroup(f"{self.tracer.run_id}:{self._seq}:{phase}", phase)

    def read_counters(self, jobs_phase: dict[str, str] | None = None) -> None:
        """Add the executor/Arrow counters of every job since the last
        read; ``jobs_phase`` maps a job-group phase to the layer metric
        that counts its jobs."""
        reading = self.collector.read()
        for key in EXEC_KEYS:
            self.layer[f"exec.{key}"] += reading[key]
        for key in ARROW_KEYS:
            self.layer[f"arrow.{key}"] += reading[key]
        for phase, metric in (jobs_phase or {}).items():
            self.layer[metric] += reading["jobs_by_phase"].get(phase, 0)

    def catalog_probe(self, tables) -> None:
        """Time catalog.load_table for each table the next op reads."""
        from big_data_computing_final_project_spark.catalog import load_table

        if not self.tracer.enabled:
            return
        self._seq += 1
        self.group("catalog")
        for t in tables:
            with self.tracer.span("load_table", table=t):
                load_table(self.spark, self.sf_dir, t)
        jobs = self.collector.read()["jobs_by_phase"]
        self.layer["catalog.load_table_jobs"] += jobs.get("catalog", 0)

    # -- ops -----------------------------------------------------------------
    def record(self, name: str, seconds: float, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok
        if self.measuring:
            self.samples.append(seconds)
            self.op_times[name].append(seconds)

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        if name in LSH_OPS:
            return self._check_lsh(name, rows)
        digest = oracle.frame_digest(cols, rows)
        want = self.expected.get(name)
        if want is None:  # rows-only: pinned to its first digest in the run
            want = (len(rows), self.pins.setdefault(name, digest))
        ok = (len(rows), digest) == tuple(want)
        if not ok:
            print(f"check failed: {name}: {len(rows)} rows, digest {digest} != {want}",
                  file=sys.stderr)
        return ok

    def _check_lsh(self, name: str, rows: list[tuple]) -> bool:
        truth = self.expected[name + ":pairs"]
        got = {(a, b): j for a, b, j in rows}
        extra = [p for p, j in got.items() if truth.get(p) != j]
        recall = sum(p in got for p in truth) / max(len(truth), 1)
        ok = not extra and recall >= LSH_RECALL
        if not ok:
            print(f"check failed: {name}: {len(extra)} wrong pairs, recall {recall:.5f}",
                  file=sys.stderr)
        return ok

    def batch_op(self, name: str, build, tables) -> None:
        """Build, execute and deliver one op, then check it after the
        clock stopped."""
        self.catalog_probe(tables)
        self._seq += 1
        tr = self.tracer
        ok, cols, rows = True, [], []
        with tr.span("op", op=name):
            t0 = time.perf_counter()
            try:
                with tr.span("build"):
                    self.group("build")
                    df = build()
                with tr.span("execute"):
                    self.group("execute")
                    result = df.collect()
                with tr.span("deliver"):
                    rows = [tuple(r) for r in result]
                    cols = df.columns
            except Exception:
                traceback.print_exc()
                ok = False
            seconds = time.perf_counter() - t0
        with tr.span("check"):
            ok = ok and self.check(name, cols, rows)
        self.record(name, seconds, ok)
        if tr.enabled:
            self.read_counters({"build": "plans.build_jobs"})

    def dt_op(self) -> None:
        """bench.py's BASELINE-anchor fit: DecisionTree (depth 8, entropy,
        min 25 per leaf) on engineered order features. Its output is the
        fitted tree, pinned to the first one in the run."""
        from pyspark.ml import Pipeline
        from pyspark.sql import functions as F

        from big_data_computing_final_project_spark.catalog import load_table
        from big_data_computing_final_project_spark.functions.expressions import safe_ratio
        from big_data_computing_final_project_spark.ml.models import decision_tree
        from big_data_computing_final_project_spark.ml.pipeline import (
            build_feature_pipeline,
            equal_width_bucketizer,
        )

        self.catalog_probe(DT_TABLES)
        self._seq += 1
        tr = self.tracer
        ok, tree, base = True, "", None
        with tr.span("op", op=DT_OP):
            t0 = time.perf_counter()
            try:
                with tr.span("build"):
                    self.group("build")
                    orders = load_table(self.spark, self.sf_dir, "orders")
                    customer = load_table(self.spark, self.sf_dir, "customer")
                    median_price = orders.agg(
                        F.expr("percentile_approx(o_totalprice, 0.5)")
                    ).first()[0]
                    base = (
                        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
                        .select(
                            "o_orderpriority",
                            "c_mktsegment",
                            "o_totalprice",
                            "c_acctbal",
                            safe_ratio(F.col("c_acctbal"), F.col("o_totalprice")).alias(
                                "affordability"
                            ),
                            F.year("o_orderdate").cast("double").alias("order_year"),
                            (F.col("o_totalprice") > median_price).cast("double").alias("label"),
                        )
                        .cache()
                    )
                    base.count()
                    features = build_feature_pipeline(
                        categorical=["o_orderpriority", "c_mktsegment"],
                        equal_width=[equal_width_bucketizer(base, "c_acctbal", 8)],
                        quantile=["affordability"],
                        passthrough=["order_year"],
                        standardize=False,
                    )
                    pipe = Pipeline(
                        stages=[
                            features,
                            decision_tree(max_depth=8, min_instances_per_node=25, impurity="entropy"),
                        ]
                    )
                with tr.span("execute"), tr.span("fit"):
                    self.group("fit")
                    model = pipe.fit(base)
                with tr.span("deliver"):
                    # drop the first line: it names the model's random uid
                    tree = model.stages[-1].toDebugString.split("\n", 1)[1]
            except Exception:
                traceback.print_exc()
                ok = False
            finally:
                if base is not None:
                    base.unpersist()
            seconds = time.perf_counter() - t0
        with tr.span("check"):
            ok = ok and self.check(DT_OP, ["tree"], [(tree,)])
        self.record(DT_OP, seconds, ok)
        if tr.enabled:
            self.read_counters({"build": "plans.build_jobs", "fit": "ml.fit_jobs"})

    # -- passes ----------------------------------------------------------------
    def measure(self, one_pass, passes: int) -> dict:
        """``passes`` whole passes; with tracing, as many untraced and
        traced ones in ABBA order (untraced, traced, traced, untraced, ...)
        so JVM warming does not favour one side when passes > 1. Returns
        their wall times by traced."""
        self.measuring = True
        walls = {False: [], True: []}
        order = [False] * passes
        if self.tracing:
            order = [t for i in range(passes) for t in ((False, True), (True, False))[i % 2]]
        for traced in order:
            self.tracer.enabled = traced
            if self.cache_calls is not None:
                self.cache_calls.on = traced
            if traced:
                self.collector.skip()
            with self.tracer.span("run"):
                t0 = time.perf_counter()
                one_pass(self)
                walls[traced].append(time.perf_counter() - t0)
            self.tracer.enabled = False
            if self.cache_calls is not None:
                self.cache_calls.on = False
        self.measuring = False
        return walls

    def layer_metrics(self, walls: dict, cores: int) -> dict[str, float]:
        """Per-layer numbers per traced pass."""
        n = len(walls[True])
        by_name = self_time_by_name(self.tracer.spans)
        op_s = sum(s.end - s.start for s in self.tracer.spans if s.name == "op")
        out = {k: v / n for k, v in self.layer.items()}
        out["catalog.load_table_s"] = by_name.get("load_table", 0.0) / n
        out["plans.build_s"] = by_name.get("build", 0.0) / n
        out["plans.build_share"] = by_name.get("build", 0.0) / op_s if op_s else 0.0
        out["ml.fit_s"] = by_name.get("fit", 0.0) / n
        out["streaming.compact_s"] = by_name.get("compact", 0.0) / n
        calls = self.cache_calls
        out["session_cache.gets"] = calls.gets / n
        out["session_cache.puts"] = calls.puts / n
        out["session_cache.hit_ratio"] = calls.hits / calls.gets if calls.gets else 0.0
        run_s = sum(s.end - s.start for s in self.tracer.spans if s.name == "run")
        out["exec.core_busy_ratio"] = self.layer["exec.run_s"] / (cores * run_s)
        out["trace.overhead_ratio"] = median(walls[True]) / median(walls[False]) - 1.0
        return out


# ---------------------------------------------------------------------------
# Session helpers
# ---------------------------------------------------------------------------


def start_session():
    """get_spark, timed; the caller has set SPARK_GRAFT_CPUS already."""
    from big_data_computing_final_project_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    return spark, time.perf_counter() - t0


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM plus this Python process."""

    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return float(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM for pid {pid}")

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return hwm(jvm_pid) + hwm(os.getpid())


def reset_state(spark) -> None:
    """Make the next op cold: drop Spark's cache and every session-state
    fit (there is no public clear-all in session_cache)."""
    from big_data_computing_final_project_spark.operators import session_cache

    spark.catalog.clearCache()
    for key in list(session_cache._CACHE):
        session_cache.evict(key)


def _queries():
    from big_data_computing_final_project_spark.plans import all_queries

    return all_queries()


def _base(work: str) -> tuple[str, dict]:
    path = os.path.join(work, "base")
    return path, gen.ensure_base(path, BASE_SF, BASE_SEED, BASE_DOCS)


def _replica(work: str, base_dir: str, seed: int) -> tuple[str, dict]:
    path = os.path.join(work, f"replica-{seed}")
    for old in os.listdir(work):  # keep one replica in the work dir
        if old.startswith("replica-") and old != f"replica-{seed}":
            shutil.rmtree(os.path.join(work, old), ignore_errors=True)
    return path, gen.ensure_replica(path, base_dir, seed)


def _lsh_truth(sf_dir: str, manifest: dict, cache_dir: str) -> dict:
    """Exact (doc_a, doc_b) -> jac pairs for the LSH ops' recall check."""
    return {
        name + ":pairs": {(a, b): j for a, b, j in oracle.oracle_rows(sf_dir, manifest, name, cache_dir)}
        for name in LSH_OPS
    }


def _order(names: list[str], seed: int) -> list[str]:
    return [names[i] for i in np.random.default_rng(seed).permutation(len(names))]


def _finish(run: Run, get_spark_s: float, setup_s: float, walls: dict, extra: dict) -> dict:
    untraced = walls[False]
    out = {
        "e2e": {
            "setup_s": setup_s,
            "wall_s": median(untraced),
            "peak_rss_mb": peak_rss_mb(run.spark),
        },
        "samples": run.samples,
        "passes": len(untraced),
        "attempted": run.attempted,
        "failed": run.failed,
        "extra": extra,
    }
    if run.tracing:
        out["layer"] = run.layer_metrics(walls, nproc())
        out["layer"]["session.get_spark_s"] = get_spark_s
    return out


# ---------------------------------------------------------------------------
# warm_mix
# ---------------------------------------------------------------------------


def warm_mix(seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, Run]:
    base_dir, manifest = _base(work)
    expected = oracle.expected_digests(base_dir, manifest, list(WARM_OPS), work)
    expected.update(_lsh_truth(base_dir, manifest, work))
    order = _order(list(WARM_OPS) + [DT_OP], seed)

    spark, get_spark_s = start_session()
    queries = _queries()
    run = Run(spark, base_dir, expected, trace, f"warm_mix-{seed}")

    def one_pass(r: Run) -> None:
        for name in order:
            if name == DT_OP:
                r.dt_op()
            else:
                r.batch_op(name, lambda n=name: queries[n](spark, base_dir), WARM_OPS[name])

    t0 = time.perf_counter()
    one_pass(run)  # untimed warm-up pass
    setup_s = get_spark_s + time.perf_counter() - t0
    walls = run.measure(one_pass, n_passes("warm_mix", seconds))
    res = _finish(run, get_spark_s, setup_s, walls, {"op_times": dict(run.op_times)})
    return res, run


# ---------------------------------------------------------------------------
# cold_heavy
# ---------------------------------------------------------------------------


def cold_heavy(seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, Run]:
    base_dir, base_manifest = _base(work)
    rep_dir, manifest = _replica(work, base_dir, seed)
    expected = oracle.expected_digests(rep_dir, manifest, list(COLD_OPS), work)
    expected.update(_lsh_truth(rep_dir, manifest, work))
    warm_expected = oracle.expected_digests(base_dir, base_manifest, list(COLD_OPS), work)
    warm_expected.update(_lsh_truth(base_dir, base_manifest, work))
    order = _order(list(COLD_OPS), seed)

    spark, get_spark_s = start_session()
    queries = _queries()

    def one_pass(r: Run) -> None:
        for name in order:
            reset_state(spark)
            r.batch_op(name, lambda n=name: queries[n](spark, r.sf_dir), COLD_OPS[name])

    # JVM warm-up: the same ops, cold, over the (10x smaller) base set
    warm = Run(spark, base_dir, warm_expected, False, f"cold_heavy-warmup-{seed}")
    t0 = time.perf_counter()
    one_pass(warm)
    setup_s = get_spark_s + time.perf_counter() - t0

    run = Run(spark, rep_dir, expected, trace, f"cold_heavy-{seed}")
    run.attempted, run.failed = warm.attempted, warm.failed
    walls = run.measure(one_pass, n_passes("cold_heavy", seconds))
    res = _finish(run, get_spark_s, setup_s, walls, {"op_times": dict(run.op_times)})
    return res, run


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
CUR_SCHEMA = "o_orderkey bigint, key string, v double"
# each fold and the batch twin it must equal; the keyed store names its
# key column "key" where q160 says "segment"
FOLDS = {
    "suite_flow": "q146_dup_flow_matrix",
    "suite_card": "q157_corpus_report_card",
    "psi": "q151_psi_drift",
    "psi_by_key": "q160_psi_by_segment",
}
# run_stream_dup_flow is left out: run_stream_ingest_suite runs the same
# dup-flow ingest (plus the volume and kept stores) on the same drops
STREAM_FLOWS = ("ingest_suite", "psi", "psi_by_key")
REF_PCT = 80  # q151/q160: md5 bucket < 80 is the reference split


def _md5_bucket(keys) -> np.ndarray:
    """functions.text.md5_bucket in Python: first 60 bits of md5 of the
    key's decimal string, mod 100."""
    return np.array(
        [int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % 100 for k in keys]
    )


def _write_drops(table: pa.Table, key: str, dst: str, n_drops: int, rng) -> int:
    """Cut ``table`` in ``key`` order into ``n_drops`` files at seeded
    cut points (each within 20% of an even cut), mtimes increasing, so a
    one-file-per-trigger stream reads them in key order. Returns bytes."""
    table = table.sort_by(key)
    n = table.num_rows
    step = n / n_drops
    cuts = [0] + [int(i * step + rng.uniform(-0.2, 0.2) * step) for i in range(1, n_drops)] + [n]
    os.makedirs(dst)
    t0 = time.time() - 3600
    size = 0
    for i in range(n_drops):
        path = os.path.join(dst, f"drop_{i:03d}.parquet")
        pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        os.utime(path, (t0 + 10 * i, t0 + 10 * i))
        size += os.path.getsize(path)
    return size


class StreamInputs:
    """Drop files, the reference split's value range and the expected
    twin digests for stream passes over ``sf_dir``; made before the
    session starts."""

    def __init__(self, sf_dir: str, manifest: dict, dst: str, n_drops: int, seed: int, work: str):
        self.sf_dir = sf_dir
        rng = np.random.default_rng(seed)
        shutil.rmtree(dst, ignore_errors=True)
        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
        orders = pq.read_table(
            os.path.join(sf_dir, "orders.parquet"),
            columns=["o_orderkey", "o_orderpriority", "o_totalprice"],
        )
        is_ref = _md5_bucket(orders.column("o_orderkey").to_pylist()) < REF_PCT
        ref_v = orders.column("o_totalprice").filter(pa.array(is_ref))
        self.lo, self.hi = float(pc.min(ref_v).as_py()), float(pc.max(ref_v).as_py())
        cur = orders.filter(pa.array(~is_ref)).rename_columns(["o_orderkey", "key", "v"])
        self.docs_drops = os.path.join(dst, "docs")
        self.cur_drops = os.path.join(dst, "cur")
        self.input_bytes = 2 * _write_drops(docs, "doc_id", self.docs_drops, n_drops, rng)
        self.input_bytes += 2 * _write_drops(cur, "o_orderkey", self.cur_drops, n_drops, rng)
        self.input_rows = 2 * (docs.num_rows + cur.num_rows)
        self.expected = oracle.expected_digests(sf_dir, manifest, set(FOLDS.values()), work)


def _store_stats(root: str) -> tuple[int, int]:
    """(data files, bytes) under the store dirs of one pass (checkpoints
    excluded)."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        if "/ckpt" in dirpath:
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamRun(Run):
    def __init__(self, spark, inputs: StreamInputs, listener: Listener, trace: bool, run_id: str):
        super().__init__(spark, inputs.sf_dir, inputs.expected, trace, run_id)
        self.inputs = inputs
        self.listener = listener
        self.known_runs: set[str] = set()
        self.drain_s: list[float] = []
        self.read_s: list[float] = []

    def stream_op(self, name: str, start) -> float:
        """One availableNow drain; its micro-batches are the op samples."""
        tr = self.tracer
        ok = True
        with tr.span("stream", flow=name) as sid:
            t0 = time.perf_counter()
            try:
                start()
            except Exception:
                traceback.print_exc()
                ok = False
            seconds = time.perf_counter() - t0
        self.attempted += 1
        self.failed += not ok
        if self.measuring:
            self.op_times[name].append(seconds)
        if not ok:
            return seconds
        runs = self.listener.runs_since(self.known_runs)
        self.known_runs.update(runs)
        clock = time.time() - time.perf_counter()
        for run_id in runs:
            for batch_id, ts, dur in self.listener.progress[run_id]:
                total = dur.get("triggerExecution", 0) / 1e3
                if self.measuring:
                    self.samples.append(total)
                if tr.enabled:
                    begin = _iso_to_epoch(ts) - clock
                    tr.add("stream_batch", begin, begin + total, sid, flow=name, batch=batch_id)
                    self.layer["streaming.batches"] += 1
                    self.layer["streaming.batch_s"] += total
                    self.layer["streaming.add_batch_s"] += dur.get("addBatch", 0) / 1e3
                    self.layer["streaming.plan_s"] += (
                        dur.get("queryPlanning", 0) + dur.get("getBatch", 0)
                    ) / 1e3
                    self.layer["streaming.commit_s"] += (
                        dur.get("walCommit", 0) + dur.get("commitOffsets", 0)
                    ) / 1e3
        if tr.enabled:
            self.read_counters()
        return seconds

    def fold(self, name: str, build) -> float:
        tr = self.tracer
        ok, cols, rows = True, [], []
        with tr.span("fold", fold=name):
            t0 = time.perf_counter()
            try:
                df = build().withColumnRenamed("key", "segment")
                rows = [tuple(r) for r in df.collect()]
                cols = df.columns
            except Exception:
                traceback.print_exc()
                ok = False
            seconds = time.perf_counter() - t0
        with tr.span("check"):
            ok = ok and self.check(FOLDS[name], cols, rows)
        self.attempted += 1
        self.failed += not ok
        if self.measuring:
            self.op_times["fold:" + name].append(seconds)
        if tr.enabled:
            self.read_counters()
        return seconds


def _stream_pass(r: StreamRun, tmp: str) -> None:
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.plans.drift import _N_BINS, _obucket, bin_expr
    from big_data_computing_final_project_spark.streaming import events as S

    spark, inp = r.spark, r.inputs
    width = (inp.hi - inp.lo) / _N_BINS  # q151's frozen reference bins
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    def stream(path: str, schema: str):
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)

    docs = stream(inp.docs_drops, DOCS_SCHEMA)
    cur = stream(inp.cur_drops, CUR_SCHEMA)
    seg = (
        load_table(spark, inp.sf_dir, "orders")
        .where(_obucket() < REF_PCT)
        .select(F.col("o_orderpriority").alias("key"), F.col("o_totalprice").alias("v"))
    )
    ref_edges = seg.groupBy("key").agg(F.min("v").alias("lo"), F.max("v").alias("hi")).select(
        "key", "lo", ((F.col("hi") - F.col("lo")) / float(_N_BINS)).alias("width")
    )
    ref_counts_k = (
        seg.join(F.broadcast(ref_edges), "key")
        .select("key", bin_expr(F.col("v"), F.col("lo"), F.col("width")).alias("bin"))
        .groupBy("key", "bin")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    ref_counts = (
        seg.select(bin_expr(F.col("v"), F.lit(inp.lo), F.lit(width)).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    d = {name: os.path.join(tmp, name) for name in ("suite", "psi", "kpsi")}
    suite: list[str] = []
    flows = {
        "ingest_suite": lambda: suite.extend(
            S.run_stream_ingest_suite(docs, d["suite"], os.path.join(tmp, "ckpt_suite"))
        ),
        "psi": lambda: S.run_stream_psi_counts(
            cur.select("v"), inp.lo, width, _N_BINS, d["psi"], os.path.join(tmp, "ckpt_psi")
        ),
        "psi_by_key": lambda: S.run_stream_psi_counts_by_key(
            cur.select("key", "v"), ref_edges, d["kpsi"], os.path.join(tmp, "ckpt_kpsi")
        ),
    }
    drain = sum(r.stream_op(name, flows[name]) for name in STREAM_FLOWS)
    flow_dir, vol_dir, kept_dir = suite

    if r.tracer.enabled:
        files, size = _store_stats(tmp)
        r.layer["streaming.store_files"] += files
        r.layer["streaming.store_mb"] += size / MB
    with r.tracer.span("compact"):
        S.compact_dup_flow_store(spark, flow_dir)
        S.compact_volume_store(spark, vol_dir)
        S.compact_kept_store(spark, kept_dir)
        S.compact_counts_store(spark, d["psi"])
        S.compact_counts_store(spark, d["kpsi"], ["key"])
    if r.tracer.enabled:
        r.read_counters()
        r.layer["streaming.write_amp"] += (size + _store_stats(tmp)[1]) / inp.input_bytes

    folds = {
        "suite_flow": lambda: S.dup_flow_matrix_from_store(spark, flow_dir),
        "suite_card": lambda: S.report_card_from_store(spark, vol_dir, flow_dir),
        "psi": lambda: S.psi_from_store(spark, d["psi"], ref_counts),
        "psi_by_key": lambda: S.psi_by_key_from_store(spark, d["kpsi"], ref_counts_k),
    }
    read = sum(r.fold(name, folds[name]) for name in FOLDS)
    if r.measuring:
        r.drain_s.append(drain)
        r.read_s.append(read)


def stream_ingest(seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, Run]:
    base_dir, base_manifest = _base(work)
    rep_dir, manifest = _replica(work, base_dir, seed)
    inputs = StreamInputs(rep_dir, manifest, os.path.join(work, "drops"), N_DROPS, seed, work)
    warm_inputs = StreamInputs(
        base_dir, base_manifest, os.path.join(work, "drops-warmup"), 1, seed, work
    )
    tmp = os.path.join(work, "stores")

    spark, get_spark_s = start_session()
    listener = Listener(spark)
    # JVM warm-up: one pass over a single drop per stream of the base set
    warm = StreamRun(spark, warm_inputs, listener, False, f"stream_ingest-warmup-{seed}")
    t0 = time.perf_counter()
    _stream_pass(warm, tmp)
    setup_s = get_spark_s + time.perf_counter() - t0

    run = StreamRun(spark, inputs, listener, trace, f"stream_ingest-{seed}")
    run.known_runs = warm.known_runs
    run.attempted, run.failed = warm.attempted, warm.failed
    walls = run.measure(lambda r: _stream_pass(r, tmp), n_passes("stream_ingest", seconds))
    drain = median(run.drain_s)
    res = _finish(
        run,
        get_spark_s,
        setup_s,
        walls,
        {
            "op_times": dict(run.op_times),
            "rows_per_s": inputs.input_rows / drain,
            "read_s": median(run.read_s),
        },
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return res, run


WORKLOADS = {"warm_mix": warm_mix, "cold_heavy": cold_heavy, "stream_ingest": stream_ingest}
