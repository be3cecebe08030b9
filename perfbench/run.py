"""End-to-end benchmark of the didtool_spark engine.

    python3 perfbench/run.py --workload zipf --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark driver on
``local[<cpus>]``, one closed-loop client. From ``--seed`` the run
generates a transcript table and a star-schema table set and stages them
to parquet (set-up), then times, in this order:

1. one cold ``materialize_features`` pass (window plan, noop sink);
2. a fixed mix of registry queries (``__spark_entry__.queries()``), each
   constructed and collected once, after one untimed warm-up query;
3. a ``CheckpointedRun`` of the feature job with parquet writes and
   manifests that crashes once its first bucket has committed, its resume
   with the same input fingerprint, and ``read_result()``;
4. one unmeasured settling pair that writes the outputs checked below,
   then warm ``materialize_features`` passes alternating with
   ``build_training_set`` passes for ``--seconds`` (at least
   ``MIN_WARM_PASSES`` of each).

Outputs are then checked outside the timed sections: materialized
features, the training set and the checkpointed result against DuckDB
restatements over the staged input, the resume against the lost buckets,
``audit_no_leakage`` of the window plan on a slice, and every registry
query against its ``oracle_sql()``. A failed operation or check counts in
``failed``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Lines before it record the
environment, a readable summary, and (traced) the spans.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from spans import Tracer, cpu_times, peak_rss_mb, steal_pct  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Transcript shapes. Regular conversations have Zipf-ish lengths averaging
# ~62 turns; "hot" conversations get avg_turns * hot_factor turns. The
# checkpointed backfill uses the feature plan the engine documents for the
# input: the window plan without a hot key, the bucketed (skew-split) plan
# with one. Both workloads read the same uniform star tables.
WORKLOADS = {
    # the flagship input: ~223k turns, two conversations at 50x the median;
    # large enough that the feature shuffle always spreads over every core
    # (a smaller input flips between one and two post-shuffle partitions
    # from seed to seed)
    "zipf": {
        "transcripts": dict(n_convs=3500, avg_turns=50, n_hot=2, hot_factor=50),
        "backfill_strategy": "window",
        "n_buckets": 4,
    },
    # one conversation holds ~29% of ~87k turns
    "hot_key": {
        "transcripts": dict(n_convs=1000, avg_turns=50, n_hot=1, hot_factor=500),
        "backfill_strategy": "bucketed",
        "n_buckets": 2,
    },
}
STAR_SF = 0.0025
GAP_S = 1800
MIN_WARM_PASSES = 3
# registry mix, in run order: scan spread, a capped driver pull, Arrow
# Levenshtein with its shared memo (build, then hit), a join, and a
# fitted encoder
REGISTRY = [
    "embedding_pool", "winsorize", "fuzzy_pairs", "entity_resolution",
    "negative_samples", "woe_encode",
]
REGISTRY_WARMUP = "sessionize"
MEMOS = ("_NEAR_PAIRS_MEMO", "_FUZZY_PAIRS_MEMO")
# 50 conversations, none of them hot: the leakage audit and the
# bucketed-plan warm-up run on it
AUDIT_SLICE = ("conv-00000010", "conv-00000060")
AUDIT_CUT_TURN = 10

END_TO_END_UNITS = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "backfill_turns_per_s": "turns/s",
    "registry_s": "s",
    "registry_geomean_s": "s",
    "driver_peak_rss_mb": "MB",
}
# Printed in the summary line next to the end-to-end metrics, and reported
# through per-layer metrics, but not end-to-end: they spread across seeds
# as wide as or wider than any bound the benchmark can set. One cold pass
# per process; one resume (a single bucket job on hot_key); training-set
# passes of well under a second; the JVM's peak RSS (G1 grows the 8 GB
# default heap lazily; the live heap is ~85 MB).
SUMMARY_ONLY_UNITS = {
    "cold_pass_s": "s",
    "anchors_per_s": "anchors/s",
    "resume_s": "s",
    "jvm_peak_rss_mb": "MB",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes (Spark, JVM, Python, DuckDB temp)
    under ``work``; must run before the JVM starts."""
    for sub in ("spark-local", "tmp", "warehouse", "duckdb_tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


median = statistics.median


class Crash(Exception):
    """Raised inside the backfill to simulate a driver crash."""


class CountingMemo(dict):
    """A memo dict that counts reads, so a hit shows even when the size
    does not change."""

    reads = 0

    def __getitem__(self, key):
        self.reads += 1
        return super().__getitem__(key)


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.spark = None
        self.con = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.m: dict[str, float] = {}  # per-layer metrics
        self.e2e: dict[str, float] = {}
        self.env: dict = {"steal_pct": {}}
        self.memo_status: dict[str, str] = {}

    # ------------------------------------------------------------ helpers
    def attempt(self, label: str, fn, *a, **kw):
        """Run one operation at the benchmark's error boundary: a raise is
        reported and counted as failed, and the run goes on."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        except Exception:
            self.failed += 1
            self.problems.append(f"{label}: raised")
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            print(f"perfbench: {label}: {time.perf_counter() - t0:.2f} s", file=sys.stderr)

    def check(self, label: str, fn, *a, **kw) -> None:
        problems = self.attempt(label, fn, *a, **kw)
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    @staticmethod
    def noop(df) -> None:
        # the noop sink computes every column; count() would let Catalyst
        # prune the window expressions
        df.write.format("noop").mode("overwrite").save()

    def sink(self, df, out: str | None) -> None:
        if out:
            df.write.mode("overwrite").parquet(out)
        else:
            self.noop(df)

    # -------------------------------------------------------------- setup
    def setup(self) -> None:
        from didtool_spark.session import get_spark

        self.cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.m["session.get_spark_s"] = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, bool(self.args.trace))

        self.staged = os.path.join(self.work, "transcripts")
        self.feats_out = os.path.join(self.work, "features")
        self.train_out = os.path.join(self.work, "training_set")
        self.star = os.path.join(self.work, "star")
        self.stage_inputs()

        from reference import connect

        self.con = connect(self.work)
        n, hottest, users = self.con.sql(
            "SELECT sum(c), max(c), sum(u) FROM (SELECT count(*) AS c,"
            " count(*) FILTER (role = 'user') AS u FROM "
            f"read_parquet('{self.staged}/*.parquet') GROUP BY conv_id)"
        ).fetchone()
        self.n_anchors = int(users)
        self.n_turns = int(n)
        self.m["data.turns"] = self.n_turns
        self.m["data.hot_share"] = hottest / n
        self.tr = self.spark.read.parquet(self.staged)

        import __spark_entry__ as entry
        from didtool_spark.plans import pipeline_queries

        self.queries, self.oracles = entry.queries(), entry.oracle_sql()
        self.memos = {}
        for name in MEMOS:
            memo = CountingMemo(getattr(pipeline_queries, name))
            setattr(pipeline_queries, name, memo)
            self.memos[name] = memo
        # untimed warm-up query outside the mix: first-touch costs
        # (parquet footers, Arrow collect path) belong to the session
        self.queries[REGISTRY_WARMUP](self.spark, self.star).toPandas()
        # the first run of the bucketed plan compiles its code; that belongs
        # to set-up. The window plan is left cold for the cold pass.
        if self.wl["backfill_strategy"] != "window":
            self.noop(self.backfill_features(self.audit_slice()))

    def stage_inputs(self) -> None:
        from didtool_spark.data.transcripts import generate_transcripts

        from stardata import write_star_tables

        t0 = time.perf_counter()
        generate_transcripts(
            self.spark, seed=self.args.seed, session_gap_s=GAP_S,
            **self.wl["transcripts"],
        ).write.mode("overwrite").parquet(self.staged)
        t1 = time.perf_counter()
        write_star_tables(self.star, STAR_SF, self.args.seed)
        self.m["data.generate_s"] = t1 - t0
        self.m["data.star_tables_s"] = time.perf_counter() - t1

    # -------------------------------------------------------- timed parts
    def materialize_pass(
        self, name: str, counters: bool = False, out: str | None = None
    ) -> dict:
        from didtool_spark.plans.materialize import materialize_features

        with self.tracer.span(name, counters=counters) as rec:
            t0 = time.perf_counter()
            feats = materialize_features(self.tr, gap_seconds=GAP_S)
            rec["construct_s"] = time.perf_counter() - t0
            self.sink(feats, out)
        rec["execute_s"] = rec["s"] - rec["construct_s"]
        return rec

    def training_inputs(self):
        from pyspark.sql import functions as F

        from didtool_spark.operators.temporal import FeatureTable

        tr = self.tr
        anchors = tr.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
        tools = (
            tr.where(F.col("tool").isNotNull()).groupBy("conv_id", "ts")
            .agg(F.max("turn_idx").alias("tool_turn"))
        )
        asst = (
            tr.where(F.col("role") == "assistant").groupBy("conv_id", "ts")
            .agg(F.max(F.length("text")).alias("alen"))
        )
        return anchors, {"tl": FeatureTable(tools), "al": FeatureTable(asst, strict=True)}

    def training_set(self):
        from didtool_spark.operators.temporal import build_training_set

        anchors, tables = self.training_inputs()
        return build_training_set(anchors, tables, keys="conv_id", ts_col="ts")

    def training_pass(self, counters: bool = False, out: str | None = None) -> dict:
        with self.tracer.span("temporal.build_training_set", counters=counters) as rec:
            self.sink(self.training_set(), out)
        return rec

    def backfill_features(self, df):
        from didtool_spark.plans.materialize import materialize_features

        return materialize_features(
            df, gap_seconds=GAP_S, strategy=self.wl["backfill_strategy"]
        )

    def backfill(self) -> None:
        """Checkpointed backfill that crashes after its first bucket
        commits, then resumes; both runs count in the backfill time."""
        from didtool_spark.plans.checkpoint import CheckpointedRun

        self.ck_dir = os.path.join(self.work, "checkpointed")
        n = self.wl["n_buckets"]
        fp = f"{self.args.workload}-{self.args.seed}-{self.n_turns}"
        calls = 0

        def crashing(df):
            nonlocal calls
            calls += 1
            if calls > 1:
                raise Crash
            return self.backfill_features(df)

        with self.tracer.span("checkpoint.run", counters=True) as first:
            run = CheckpointedRun(self.spark, self.ck_dir, n_buckets=n)
            try:
                run.run(self.tr, crashing, input_fingerprint=fp)
            except Crash:
                pass
        committed = run.manifest()
        self.lost = n - len(committed)
        with self.tracer.span("checkpoint.resume", counters=True) as rec:
            resumed = CheckpointedRun(self.spark, self.ck_dir, n_buckets=n)
            self.resume_totals = resumed.run(
                self.tr, self.backfill_features, input_fingerprint=fp
            )
        self.e2e["backfill_turns_per_s"] = self.n_turns / (first["s"] + rec["s"])
        self.e2e["resume_s"] = self.m["checkpoint.resume_s"] = rec["s"]
        manifest = resumed.manifest()
        walls = [e["wall_sec"] for e in manifest]
        self.ck_rows = sum(e["rows"] for e in manifest)
        self.m["checkpoint.stage_s"] = first["s"] - sum(e["wall_sec"] for e in committed)
        self.m["checkpoint.bucket_s.p50"] = median(walls)
        self.m["checkpoint.bucket_s.max"] = max(walls)
        self.m["checkpoint.bytes_written"] = sum(e["bytes"] for e in manifest)
        self.m["checkpoint.rerun_ratio"] = self.resume_totals["buckets_run"] / self.lost
        if self.tracer.enabled:
            per = self.resume_totals["buckets_run"] or 1
            self.m["checkpoint.jobs_per_bucket"] = rec["jobs"] / per
            self.m["checkpoint.stages_per_bucket"] = rec["stages"] / per
        with self.tracer.span("checkpoint.read_result") as rec:
            self.noop(resumed.read_result())
        self.m["checkpoint.read_result_s"] = rec["s"]
        self.completed = sorted(resumed.completed_buckets())

    def registry(self) -> None:
        self.registry_out = {}
        times = []
        for name in REGISTRY:
            before = {k: (len(v), v.reads) for k, v in self.memos.items()}
            with self.tracer.span(f"registry.{name}", counters=True) as rec:
                t0 = time.perf_counter()
                df = self.queries[name](self.spark, self.star)
                rec["construct_s"] = time.perf_counter() - t0
                self.registry_out[name] = df.toPandas()
            self.spark.catalog.clearCache()
            rec["execute_s"] = rec["s"] - rec["construct_s"]
            times.append(rec["s"])
            status = "none"
            for k, memo in self.memos.items():
                size, reads = before[k]
                if len(memo) > size:
                    status = "build"
                elif memo.reads > reads and status == "none":
                    status = "hit"
            self.memo_status[name] = status
            for key in ("construct_s", "execute_s", "jobs"):
                if key in rec:
                    self.m[f"registry.{name}.{key}"] = rec[key]
            if "shuffle_write_bytes" in rec:
                self.m["registry.shuffle_write_bytes"] = (
                    self.m.get("registry.shuffle_write_bytes", 0)
                    + rec["shuffle_write_bytes"]
                )
        self.e2e["registry_s"] = sum(times)
        self.e2e["registry_geomean_s"] = math.exp(
            sum(math.log(t) for t in times) / len(times)
        )
        self.m["registry.construct_s"] = sum(
            self.m[f"registry.{q}.construct_s"] for q in REGISTRY
        )
        self.m["registry.execute_s"] = sum(
            self.m[f"registry.{q}.execute_s"] for q in REGISTRY
        )
        statuses = list(self.memo_status.values())
        self.m["registry.memo_builds"] = statuses.count("build")
        self.m["registry.memo_hits"] = statuses.count("hit")

    def warm_loop(self) -> None:
        """Warm materialize passes, each followed by a training-set pass,
        for ``--seconds``. Traced runs alternate counted and uncounted
        materialize passes; the median difference is the tracing
        overhead."""
        # the first pair after the registry and backfill phases runs slow:
        # it writes the outputs the checks read and is not measured
        self.materialize_pass("materialize.settle", out=self.feats_out)
        self.training_pass(out=self.train_out)
        deadline = time.perf_counter() + self.args.seconds
        mat: list[dict] = []
        bare: list[float] = []
        train: list[dict] = []
        while (
            time.perf_counter() < deadline
            or len(mat) < MIN_WARM_PASSES
            or len(train) < MIN_WARM_PASSES
        ):
            traced = self.tracer.enabled and len(bare) >= len(mat)
            if self.tracer.enabled and not traced:
                self.tracer.enabled = False
                bare.append(self.materialize_pass("materialize.warm")["s"])
                self.tracer.enabled = True
            else:
                mat.append(self.materialize_pass("materialize.warm", counters=True))
            train.append(self.training_pass(counters=True))
        warm = median([r["s"] for r in mat])
        self.e2e["turns_per_s"] = self.n_turns / warm
        self.e2e["anchors_per_s"] = self.n_anchors / median([r["s"] for r in train])
        self.m["temporal.build_training_set_s"] = median([r["s"] for r in train])
        for key in ("construct_s", "execute_s"):
            self.m[f"materialize.{key}"] = median([r[key] for r in mat])
        if self.tracer.enabled:
            for key in ("jobs", "stages", "shuffle_write_bytes", "spill_bytes", "task_skew"):
                self.m[f"materialize.{key}"] = median([r[key] for r in mat])
            self.m["temporal.build_training_set.shuffle_write_bytes"] = median(
                [r["shuffle_write_bytes"] for r in train]
            )
            self.m["trace.overhead_s"] = warm - median(bare)

    def timed(self) -> None:
        start = time.perf_counter()
        self.e2e["setup_s"] = start - T_START
        phases = {
            "cold pass": self.cold_pass,
            "registry": self.registry,
            "backfill": self.backfill,
            "warm passes": self.warm_loop,
        }
        for label, phase in phases.items():
            cpu0 = cpu_times()
            self.attempt(label, phase)
            # recorded only: a run is never dropped for steal
            self.env["steal_pct"][label] = steal_pct(cpu0, cpu_times())
        self.env["timed_s"] = time.perf_counter() - start

    def cold_pass(self) -> None:
        rec = self.materialize_pass("materialize.cold")
        self.e2e["cold_pass_s"] = self.m["materialize.cold_pass_s"] = rec["s"]

    # ------------------------------------------------------------- checks
    def checks(self) -> None:
        import reference

        from didtool_spark.plans.audit import audit_no_leakage
        from didtool_spark.plans.materialize import materialize_features
        from pyspark.sql import functions as F

        staged = f"{self.staged}/*.parquet"
        self.check(
            "materialize features", reference.check_features, self.con, staged,
            f"{self.feats_out}/*.parquet", self.n_turns, GAP_S, "materialize",
        )
        self.check(
            "training set", reference.check_training_set, self.con, staged,
            f"{self.train_out}/*.parquet",
        )
        self.check(
            "checkpointed result", reference.check_features, self.con, staged,
            f"{self.ck_dir}/bucket=*/*.parquet", self.n_turns, GAP_S, "read_result",
        )
        self.check("resume", self.resume_problems)

        # the window plan: each run of the bucketed plan has a fixed cost of
        # 5-10 s on 4 cores, and the bucketed backfill's output is checked
        # row for row against the point-in-time reference above
        with self.tracer.span("audit.no_leakage") as rec:
            res = self.attempt(
                "audit", audit_no_leakage, self.audit_slice(),
                lambda df: materialize_features(df, gap_seconds=GAP_S),
                F.col("turn_idx") <= AUDIT_CUT_TURN,
            )
        self.m["audit.no_leakage_s"] = rec["s"]
        if res is not None:
            clean, offenders = res
            self.m["audit.offending_cols"] = len(offenders)
            self.check("audit", lambda: [] if clean else [f"leaky: {offenders}"])

        cmp = reference.OracleCompare(self.con, ROOT, self.star, self.oracles)
        for name in REGISTRY:
            if name in self.registry_out:
                self.check(f"registry {name}", cmp.check, name, self.registry_out[name])

    def audit_slice(self):
        from pyspark.sql import functions as F

        return self.tr.where(F.col("conv_id").between(*AUDIT_SLICE))

    def resume_problems(self) -> list[str]:
        n, t = self.wl["n_buckets"], self.resume_totals
        out = []
        if self.lost != n - 1:
            out.append(f"{n - self.lost} buckets committed before the crash")
        if t["buckets_run"] != self.lost or t["buckets_skipped"] != n - self.lost:
            out.append(f"resume re-ran {t['buckets_run']} buckets for {self.lost} lost")
        if self.completed != list(range(n)):
            out.append(f"completed buckets after resume: {self.completed}")
        if self.ck_rows != self.n_turns:
            out.append(f"backfill wrote {self.ck_rows} of {self.n_turns} rows")
        return out

    def temporal_ops(self) -> None:
        """Each temporal operator alone on the input (traced runs only)."""
        from pyspark.sql import functions as F

        from didtool_spark.operators import temporal

        kw = dict(keys="conv_id", order=("ts", "turn_idx"))
        base = self.tr.withColumn("text_len", F.length("text"))
        ops = {
            "sessionize": lambda: temporal.sessionize(base, gap_seconds=GAP_S, **kw),
            "with_lags": lambda: temporal.with_lags(base, ["text_len"], lags=[1, 2], **kw),
            "with_rolling": lambda: temporal.with_rolling(
                base, [("text_len", "sum", 5), ("text_len", "avg", 5)], **kw
            ),
            "forward_fill": lambda: temporal.forward_fill(base, ["tool"], **kw),
        }
        for name, op in ops.items():
            walls = []
            for _ in range(2):
                with self.tracer.span(f"temporal.{name}") as rec:
                    self.noop(op())
                walls.append(rec["s"])
            self.m[f"temporal.{name}_s"] = median(walls)

    # ----------------------------------------------------------- lifecycle
    def run(self) -> None:
        self.setup()
        self.timed()
        # the driver's own peak, before the checks load DuckDB results
        self.e2e["driver_peak_rss_mb"] = peak_rss_mb(os.getpid())
        if self.tracer.enabled:
            self.attempt("temporal ops", self.temporal_ops)
        self.checks()
        self.e2e["jvm_peak_rss_mb"] = self.m["jvm_peak_rss_mb"] = self.jvm_rss()
        self.record_env()

    def jvm_rss(self) -> float:
        return peak_rss_mb(self.spark.sparkContext._gateway.proc.pid)

    def record_env(self) -> None:
        import pyspark

        sc = self.spark.sparkContext
        self.env.update(
            workload=self.args.workload,
            seed=self.args.seed,
            seconds=self.args.seconds,
            trace=self.args.trace,
            nproc=self.cores,
            master=sc.master,
            sf=STAR_SF,
            transcripts=self.wl["transcripts"],
            spark=self.spark.version,
            pyspark=pyspark.__version__,
            java=sc._jvm.java.lang.System.getProperty("java.version"),
            python=sys.version.split()[0],
            driver_memory=sc.getConf().get("spark.driver.memory"),
            shuffle_partitions=self.spark.conf.get("spark.sql.shuffle.partitions"),
            SPARK_LOCAL_DIRS=os.environ.get("SPARK_LOCAL_DIRS"),
            console_progress=sc.getConf().get("spark.ui.showConsoleProgress"),
            memo=self.memo_status,
        )

    def close(self) -> None:
        """Close DuckDB, stop Spark and wait for the driver JVM to exit."""
        if self.con is not None:
            self.con.close()
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        self.spark.sparkContext._gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        self.spark = None

    def result(self) -> dict:
        if self.args.trace:
            metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in self.m.items()}
        else:
            metrics = {
                k: {"value": self.e2e[k], "unit": u}
                for k, u in END_TO_END_UNITS.items() if k in self.e2e
            }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def per_layer_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".p50") or name.endswith(".max"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("task_skew", "rerun_ratio", "hot_share")):
        return "ratio"
    if name == "data.turns":
        return "turns"
    return "count"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import didtool_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as err:
        print(f"perfbench: the program is not importable from {ROOT}: {err}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    bench = Bench(args, work)
    try:
        bench.run()
    finally:
        t0 = time.perf_counter()
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: close: {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    print(json.dumps({"env": bench.env}))
    units = {**END_TO_END_UNITS, **SUMMARY_ONLY_UNITS}
    summary = {k: f"{bench.e2e[k]:.6g} {u}" for k, u in units.items() if k in bench.e2e}
    summary["error_rate"] = f"{bench.failed / max(bench.attempted, 1):.6g} ratio"
    print(json.dumps({"summary": {args.workload: summary}, "problems": bench.problems}))
    if args.trace:
        print(json.dumps({"spans": bench.tracer.spans}))
    print(json.dumps(bench.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
