"""End-to-end benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. One Python process drives one client in a
closed loop (each op starts when the previous one returns) against
Spark on ``local[nproc]``. Workloads (see NOTES.md for why each exists):

- ``daily_batch``: four headline keys at sf0.1, each run once, as a
  scheduled job runs its reports in a fresh process.
- ``interactive``: fifteen varied oracled keys at sf0.01, each run once,
  as an analyst's first execution of each query.
- ``ingest``: ``streaming.run_exactly_once_sink`` drains sf0.1 events,
  split into time-ordered parquet files, into a fresh serving table.

A query op is a registry builder call plus a collect of the result rows
to the driver; a query's first execution in a process happens once, so
the query workloads time one pass and ``--seconds`` only sets how many
drains ``ingest`` times.

Inputs are generated from ``--seed`` inside ``.perfbench_work/`` and
every answer is checked, outside the timed ops. The last stdout line is
one JSON object; ``--trace 1`` reports per-layer metrics instead of the
end-to-end ones and writes its spans under ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import concurrent.futures  # noqa: E402
import datetime  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: the pin-heavy builders (pipeline_multimodal_curation has the largest
#: driver-side build of the headline), the scale_rank family, a rewrite
#: the roadmap wants timed, and a per-byte headline key
DAILY_KEYS = (
    "pipeline_multimodal_curation", "pipeline_token_budget_curriculum",
    "agg_weighted_median", "agg_count_distinct",
)

#: The first 16 oracled keys not tagged streaming, iterative, rows-only or
#: approx, in SHA-256-of-name order, less pipeline_returned_top_customers
#: (see NOTES.md). Fixed, so that runs with different seeds time the same
#: queries.
INTERACTIVE_KEYS = (
    "evt_transition_matrix", "llm_dedup_near_minhash",
    "scan_merge_on_read_delete_sim", "evt_gap_filled_series",
    "fn_levenshtein_fuzzy_match", "evt_survival_km", "evt_segment_transitions",
    "llm_dedup_embed_cosine_bruteforce", "agg_mann_whitney_u",
    "evt_sliding_window", "agg_anova_oneway", "llm_dataset_mixture_weights",
    "join_asof_forward", "llm_doc_chunking", "dedup_exact",
)

#: run untimed before a query pass, so JVM-wide first-use costs do not
#: land on whichever key the seed puts first
WARMUP_KEY = "filter_compound"

WORKLOADS = {
    "daily_batch": {"sf": 0.1, "keys": DAILY_KEYS},
    "interactive": {"sf": 0.01, "keys": INTERACTIVE_KEYS},
    "ingest": {"sf": 0.1, "files": 4, "min_drains": 4},
}

#: set-up phase that is repeated and reported by its median
SETUP_REPEATS = 3

#: a traced op's build, plan and exec spans must add up to its wall
#: time within max(SPAN_TOL_S, SPAN_TOL_FRAC * wall)
SPAN_TOL_S, SPAN_TOL_FRAC = 0.02, 0.02

E2E_UNITS = {
    "setup_s": "s", "batch_s": "s", "batch_cpu_s": "s",
    "query_p50_s": "s",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "registry.build_s": "s", "registry.build_jobs": "count",
    "tables.parquet_opens": "count", "tables.parquet_open_s": "s",
    "materialize.pins": "count", "materialize.persisted_rdds": "count",
    "materialize.storage_bytes": "bytes",
    "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "udf.python_cpu_s": "s",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.trigger_p50_s": "s", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s", "sink.bytes_written": "bytes",
    "box.calib_s": "s", "box.steal_s": "s",
    "trace.overhead_s": "s", "trace.span_gap_s": "s",
}

#: exec.* metric -> its field in ``layers.Jvm.group_jobs``
_EXEC_KEYS = {
    "exec.s": "s", "exec.jobs": "jobs", "exec.stages": "stages",
    "exec.tasks": "tasks", "exec.executor_run_s": "run_s",
    "exec.executor_cpu_s": "cpu_s", "exec.gc_s": "gc_s",
    "exec.shuffle_read_bytes": "shuffle_read",
    "exec.shuffle_write_bytes": "shuffle_write",
    "exec.spill_bytes": "spill",
}


def _prepare_env(work: str, data_dir: str) -> None:
    """Keep every file Spark, DuckDB and the engine write inside ``work``
    and size Spark to this machine. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(cpus)),
        # bench.py's rule: below 1 GiB of input AQE has nothing to re-plan
        "SPARK_GRAFT_AQE": "false",
        # oracles that template a fixture path read the generated one
        "SPARK_GRAFT_TEST_SF_DIR": data_dir,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false "
            "pyspark-shell"
        ),
    })
    sys.path.insert(0, ROOT)


def _sum_of_medians(samples: dict[str, list[float]]) -> float:
    """Sum over op names of the median of that op's samples."""
    return sum(statistics.median(v) for v in samples.values())


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.rng = random.Random(args.seed)
        self.traced = bool(args.trace)
        self.ops: list[dict] = []
        self.failed_keys: dict[str, str] = {}
        self.pass_stats: list[dict] = []
        self.problems: list[str] = []
        self.setup: dict[str, float] = {}
        self.rdd_level: int | None = None

    # --- set-up ---------------------------------------------------------

    def start(self) -> None:
        names = ("events",) if self.args.workload == "ingest" else gen.TABLES
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.input_bytes = gen.write(
                self.data_dir, self.args.seed, self.cfg["sf"], names
            )
            gen_s.append(time.perf_counter() - t0)
        self.setup["gen_s"] = statistics.median(gen_s)

        from noaa_etl_daily_spark.registry import load_all
        from noaa_etl_daily_spark.session import get_spark
        from noaa_etl_daily_spark.tables import TABLE_NAMES

        self.registry = load_all()
        if self.args.workload != "ingest":
            # DuckDB answers the oracles while the JVM starts
            self.pool = concurrent.futures.ThreadPoolExecutor(1)
            self.oracle = self.pool.submit(
                check.oracle_digests, self.data_dir, TABLE_NAMES,
                len(os.sched_getaffinity(0)),
                {k: self.registry[k].oracle for k in self.cfg["keys"]},
            )
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.setup["session_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        # bench.py's sizing: ~64 MB of input per partition, floor min(8, 2*cores)
        self.shuffle_partitions = max(
            min(8, 2 * cores), min(2 * cores, self.input_bytes // (64 << 20))
        )
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(self.shuffle_partitions)
        )
        self.jvm = layers.Jvm(self.spark)
        self.cpu = layers.Cpu(self.jvm.pid())
        self.spans = layers.Spans()
        self.counters = layers.Counters()
        self.listener = None
        if self.traced:
            self.counters.install()
        self.steal0 = layers.steal_s()

    def warm_up(self) -> None:
        """Untimed: one drain, or one query outside the workload's keys."""
        t0 = time.perf_counter()
        if self.args.workload == "ingest":
            self._ingest_setup()
            self._drain(traced=False, timed=False)
        else:
            self.checked: set[str] = set()
            self.registry[WARMUP_KEY].builder(self.spark, self.data_dir).toPandas()
        self._reset()
        self.setup["warm_up_s"] = time.perf_counter() - t0

    # --- ingest -------------------------------------------------------------

    def _ingest_setup(self) -> None:
        """Split the events into time-ordered files at seeded cut points,
        then compute the per-user aggregate every drain must reproduce."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from noaa_etl_daily_spark.tables import load

        events = pq.read_table(os.path.join(self.data_dir, "events.parquet"))
        n, k = events.num_rows, self.cfg["files"]
        cuts = [0] + sorted(
            int(n * (i + self.rng.uniform(-0.25, 0.25)) / k) for i in range(1, k)
        ) + [n]
        self.src = os.path.join(self.work, "stream-src")
        os.makedirs(self.src)
        now = time.time()
        for i in range(k):
            path = os.path.join(self.src, f"batch{i:02d}.parquet")
            pq.write_table(events.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
            # the file source lists by mtime: files replay in event-time order
            os.utime(path, (now - 600 + 60 * i,) * 2)
        agg = (
            load(self.spark, self.data_dir, "events")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.max("ts").alias("last_ts"),
                F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                    "value_cents"
                ),
            )
        )
        self.want = {r[0]: tuple(r[1:]) for r in agg.collect()}
        self.drain_no = 0
        if self.traced:
            self.listener = layers.streaming_listener(self.spark)

    def _drain(self, traced: bool, timed: bool, pass_span=None) -> None:
        from noaa_etl_daily_spark import streaming

        self.drain_no += 1
        base = os.path.join(self.work, f"drain{self.drain_no}")
        target, ckpt = base + "-serving", base + "-ckpt"
        seen = len(self.listener.batches) if self.listener else 0
        c0 = self.counters.snapshot()
        cpu0 = self.cpu.sample()
        t0 = time.perf_counter()
        try:
            commits = streaming.run_exactly_once_sink(
                self.spark, self.src, target, ckpt, files_per_batch=1
            )
            error = None
        except Exception:  # noqa: BLE001 — counted as a failed op
            traceback.print_exc()
            commits, error = [], "raised"
        t1 = time.perf_counter()
        cpu1 = self.cpu.sample()
        if error is None:
            got = {
                r[0]: tuple(r[1:])
                for r in self.spark.read.parquet(target).select(
                    "user_id", "n_events", "last_ts", "value_cents"
                ).collect()
            }
            if len(commits) != self.cfg["files"]:
                error = f"{len(commits)} micro-batches, not {self.cfg['files']}"
            elif got != self.want:
                error = "serving table differs from the batch aggregate"
        sink_bytes = layers.dir_bytes(target, target + ".versions")
        for d in (target, target + ".versions", ckpt):
            shutil.rmtree(d, ignore_errors=True)
        if error:  # only this drain's op fails
            self.failed_keys[f"drain{self.drain_no}"] = error
        if not timed:
            return
        op = {
            "key": "drain", "traced": traced, "wall": t1 - t0,
            "cpu": cpu1[0] - cpu0[0], "ok": error is None,
        }
        if traced:
            op_id = len(self.ops)
            self.jvm.drain_listener_bus()
            batches = self.listener.batches[seen:]
            c1 = self.counters.snapshot()
            run = {k: 0 for k in _EXEC_KEYS.values()}
            for run_id in {b["run_id"] for b in batches}:
                for k, v in self.jvm.group_jobs(run_id).items():
                    run[k] += v
            op["layers"] = {
                **{m: run[k] for m, k in _EXEC_KEYS.items()},
                "udf.python_cpu_s": cpu1[1] - cpu0[1],
                "tables.parquet_opens": c1[0] - c0[0],
                "tables.parquet_open_s": c1[1] - c0[1],
                "materialize.pins": c1[2] - c0[2],
                "streaming.batches": len(batches),
                "streaming.input_rows": sum(b["rows"] for b in batches),
                "sink.bytes_written": sink_bytes,
            }
            for name, phase in (
                ("streaming.add_batch_s", "addBatch"),
                ("streaming.wal_commit_s", "walCommit"),
                ("streaming.commit_offsets_s", "commitOffsets"),
                ("streaming.latest_offset_s", "latestOffset"),
            ):
                op["layers"][name] = sum(b["ms"].get(phase, 0) for b in batches) / 1e3
            op["triggers"] = [b["ms"].get("triggerExecution", 0) / 1e3 for b in batches]
            sid = self.spans.add("drain", t0, t1, pass_span, op_id, key="drain")
            # progress timestamps are wall-clock trigger starts
            offset = time.perf_counter() - time.time()
            for b in batches:
                start = datetime.datetime.fromisoformat(b["timestamp"]).timestamp() + offset
                self.spans.add(
                    "trigger", start, start + b["ms"].get("triggerExecution", 0) / 1e3,
                    sid, op_id, rows=b["rows"],
                )
        self.ops.append(op)

    # --- query ops ------------------------------------------------------------

    def _query_op(self, key: str, traced: bool, pass_span) -> None:
        spark, sc = self.spark, self.spark.sparkContext
        op_id = len(self.ops)
        c0 = self.counters.snapshot()
        cpu0 = self.cpu.sample()
        # the op's own clock (t0, t3) is read apart from its spans' clocks
        # (build b0-b1, plan b1-p1, exec e0-e1), so spans that miss part
        # of the op show as a gap
        t0 = time.perf_counter()
        if traced:
            sc.setJobGroup(f"op{op_id}.build", key)
        pdf, plan, error = None, None, None
        b0 = b1 = p1 = e0 = e1 = time.perf_counter()
        try:
            df = self.registry[key].builder(spark, self.data_dir)
            b1 = p1 = time.perf_counter()
            if traced:
                plan = layers.plan_phases(df)
                p1 = time.perf_counter()
                sc.setJobGroup(f"op{op_id}.exec", key)
            e0 = time.perf_counter()
            pdf = df.toPandas()
            e1 = time.perf_counter()
            del df
        except Exception:  # noqa: BLE001 — counted as a failed op
            traceback.print_exc()
            error = "raised"
        t3 = time.perf_counter()
        cpu1 = self.cpu.sample()
        if error:
            self.failed_keys.setdefault(key, error)
        elif key not in self.checked:  # once per run
            self.checked.add(key)
            why = check.mismatch(pdf, self.oracle.result()[key])
            if why:
                self.failed_keys[key] = why
        op = {
            "key": key, "traced": traced, "wall": t3 - t0,
            "cpu": cpu1[0] - cpu0[0], "ok": error is None,
        }
        if traced:
            sc.setJobGroup("perfbench.idle", "between ops")
            self.jvm.drain_listener_bus()
            build = self.jvm.group_jobs(f"op{op_id}.build")
            run = self.jvm.group_jobs(f"op{op_id}.exec")
            c1 = self.counters.snapshot()
            plan = plan or {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
            op["layers"] = {
                "registry.build_s": b1 - b0,
                "registry.build_jobs": build["jobs"],
                "tables.parquet_opens": c1[0] - c0[0],
                "tables.parquet_open_s": c1[1] - c0[1],
                "materialize.pins": c1[2] - c0[2],
                "plan.analysis_s": plan["analysis"],
                "plan.optimization_s": plan["optimization"],
                "plan.planning_s": plan["planning"],
                "udf.python_cpu_s": cpu1[1] - cpu0[1],
                **{m: run[k] for m, k in _EXEC_KEYS.items()},
            }
            sid = self.spans.add("op", t0, t3, pass_span, op_id, key=key)
            self.spans.add("build", b0, b1, sid, op_id, jobs=build["jobs"])
            self.spans.add("plan", b1, p1, sid, op_id, **plan)
            self.spans.add("exec", e0, e1, sid, op_id, jobs=run["jobs"])
            op["span_gap"] = (t3 - t0) - ((b1 - b0) + (p1 - b1) + (e1 - e0))
        self.ops.append(op)

    # --- passes ---------------------------------------------------------------

    def _reset(self) -> dict:
        """Drop op references and collect garbage on both sides, until the
        persisted RDDs are back at their level after the first pass (or 5 s)."""
        target = self.rdd_level
        deadline = time.perf_counter() + 5.0
        while True:
            gc.collect()
            self.jvm.gc()
            time.sleep(0.1)
            level = self.jvm.persisted_rdds()
            if target is None or level <= target or time.perf_counter() > deadline:
                break
        return {"persisted_rdds": level, "storage_bytes": self.jvm.storage_bytes()}

    def _pass(self, traced: bool) -> None:
        t0 = time.perf_counter()
        pass_span = None
        if traced:
            pass_span = self.spans.add("pass", t0, t0, None, pass_no=len(self.pass_stats))
        if self.args.workload == "ingest":
            self._drain(traced, timed=True, pass_span=pass_span)
        else:
            # a fixed order: in a fresh JVM a key's first execution costs
            # more the earlier it runs, so a seeded order would move the
            # sum and the median from seed to seed
            for key in self.cfg["keys"]:
                self._query_op(key, traced, pass_span)
        t1 = time.perf_counter()
        if traced:
            self.spans.rows[pass_span]["end"] = round(t1, 6)
        stats = self._reset()
        stats["calib_s"] = layers.calib_s()
        stats["wall"] = t1 - t0
        self.pass_stats.append(stats)
        if self.rdd_level is None:
            # the level once every op has run; the latest op's pin may stay
            # referenced until the next op runs, hence the one extra
            self.rdd_level = stats["persisted_rdds"] + 1
        elif stats["persisted_rdds"] > self.rdd_level:
            self.problems.append(
                f"persisted RDDs {stats['persisted_rdds']} after pass "
                f"{len(self.pass_stats)}, {self.rdd_level - 1} after the first"
            )

    def measure(self) -> None:
        """One pass over the query keys, or drains until the next one would
        end more than half a drain past ``--seconds`` (at least
        ``min_drains``). A traced run alternates traced and untraced
        passes, starting with a traced one, and runs twice as many."""
        self.setup["setup_s"] = time.perf_counter() - _T0
        t0 = time.perf_counter()
        step = 2 if self.traced else 1
        least = step * self.cfg.get("min_drains", 1)
        n = 0
        while True:
            self._pass(traced=self.traced and n % 2 == 0)
            n += 1
            if n < least or n % step:
                continue
            if "min_drains" not in self.cfg:
                break
            elapsed = time.perf_counter() - t0
            if elapsed + 0.5 * self.pass_stats[-1]["wall"] > self.args.seconds:
                break

    # --- results --------------------------------------------------------------

    def _by_key(self, ops, field):
        out: dict[str, list[float]] = {}
        for op in ops:
            out.setdefault(op["key"], []).append(op[field])
        return out

    def end_to_end(self) -> dict[str, float]:
        ops = [op for op in self.ops if not op["traced"]]
        walls = [op["wall"] for op in ops]
        sm = _sum_of_medians
        return {
            "setup_s": self.setup["setup_s"] - self.setup["gen_s"] * (SETUP_REPEATS - 1),
            "batch_s": sm(self._by_key(ops, "wall")),
            "batch_cpu_s": sm(self._by_key(ops, "cpu")),
            "query_p50_s": statistics.median(walls),
        }

    def per_layer(self) -> dict[str, float]:
        traced = [op for op in self.ops if op["traced"]]
        untraced = [op for op in self.ops if not op["traced"]]
        sm = _sum_of_medians
        out = {name: 0.0 for name in LAYER_UNITS}
        per_key: dict[str, dict[str, list[float]]] = {}
        for op in traced:
            for name, v in op["layers"].items():
                per_key.setdefault(name, {}).setdefault(op["key"], []).append(v)
        for name, samples in per_key.items():
            out[name] = sm(samples)
        triggers = [t for op in traced for t in op.get("triggers", ())]
        if triggers:
            out["streaming.trigger_p50_s"] = statistics.median(triggers)
        out["session.start_s"] = self.setup["session_s"]
        out["materialize.persisted_rdds"] = max(p["persisted_rdds"] for p in self.pass_stats)
        out["materialize.storage_bytes"] = max(p["storage_bytes"] for p in self.pass_stats)
        out["box.calib_s"] = statistics.median(p["calib_s"] for p in self.pass_stats)
        out["box.steal_s"] = layers.steal_s() - self.steal0
        out["trace.overhead_s"] = (
            sm(self._by_key(traced, "wall")) - sm(self._by_key(untraced, "wall"))
        )
        out["trace.span_gap_s"] = max((op.get("span_gap", 0.0) for op in traced), default=0.0)
        return out

    def box(self) -> dict:
        import duckdb
        import pyspark

        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
            "mem_total_kib": layers.mem_total_kib(),
            "spark": pyspark.__version__, "duckdb": duckdb.__version__,
            "shuffle_partitions": self.shuffle_partitions,
            "aqe": self.spark.conf.get("spark.sql.adaptive.enabled"),
            "sf": self.cfg["sf"], "input_bytes": self.input_bytes,
            "calib_s": round(statistics.median(p["calib_s"] for p in self.pass_stats), 4),
            "steal_s": round(layers.steal_s() - self.steal0, 3),
            "setup": {k: round(v, 3) for k, v in self.setup.items()},
            "passes": len(self.pass_stats),
            "op_walls": [round(op["wall"], 3) for op in self.ops],
        }

    def stop(self) -> None:
        if getattr(self, "pool", None) is not None:
            self.pool.shutdown()
        if getattr(self, "spark", None) is not None:
            from pyspark import SparkContext

            jvm = SparkContext._gateway.proc
            self.spark.stop()
            # the gateway JVM exits when its stdin closes; wait for it
            jvm.stdin.close()
            jvm.wait(timeout=60)


def _span_problems(bench: Bench) -> list[str]:
    return [
        f"op {i} ({op['key']}): spans miss {op['span_gap']:.4f} s of {op['wall']:.4f} s"
        for i, op in enumerate(bench.ops)
        if op["traced"] and op.get("span_gap", 0.0)
        > max(SPAN_TOL_S, SPAN_TOL_FRAC * op["wall"])
    ]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, os.path.join(work, "data"))
    bench = Bench(args, work)
    try:
        bench.start()
        bench.warm_up()
        bench.measure()
        metrics = bench.per_layer() if bench.traced else bench.end_to_end()
        box = bench.box()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    failed_keys = bench.failed_keys
    attempted = len(bench.ops)
    failed = sum(1 for op in bench.ops if not op["ok"] or op["key"] in failed_keys)
    problems = bench.problems + (_span_problems(bench) if bench.traced else [])
    if bench.traced:
        traces = os.path.join(WORK_ROOT, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
        with open(path, "w") as f:
            f.write(json.dumps({"box": box, "setup": bench.setup}) + "\n")
            for row in bench.spans.rows:
                f.write(json.dumps(row) + "\n")
            for op in bench.ops:
                f.write(json.dumps({"op": op}) + "\n")
    units = LAYER_UNITS if bench.traced else E2E_UNITS
    print("box " + json.dumps(box))
    for key, why in sorted(failed_keys.items()):
        print(f"wrong {key}: {why}")
    for p in problems:
        print(f"problem {p}")
    for name, v in metrics.items():
        print(f"{name} {v:.6g} {units[name]}")
    print(f"ops_failed_frac {failed / attempted:.6g} frac ({failed}/{attempted})")
    print(json.dumps({
        "correct": not failed and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
