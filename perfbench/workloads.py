"""The two workloads and the run that measures one of them.

A run: set the program up several times (``setup_s`` is the median),
compute every expected output, run the workload's calls for the
requested seconds, then check every call's output.  Each call is
``QUERIES[key](spark, fixture_dir)`` (the build) followed by
``collect()`` of the returned DataFrame (the materialization).
"""

from __future__ import annotations

import glob
import shutil
import statistics
import sys
import time
import traceback

from perfbench import checks, gen, host
from perfbench.trace import ProgressLog, Tracer, batch_record, job_counters

STREAM_KEYS = ["tweet_filter_stream", "stream_dedup", "sink_jdbc_batch"]
CORPUS_KEYS = ["dedup_minhash_verdicts", "dedup_exact", "corpus_curate",
               "corpus_token_budget", "corpus_pack", "text_tf_idf",
               "sim_topk_cosine"]
READ_KEYS = ["agg_grouped", "q3_top_orders", "join_multiway",
             "win_rank_topk", "events_sessionize", "events_tumbling",
             "fn_map_json", "tweet_pipeline_normalize", "tweet_filter_track"]

# the program layer each key's time is spent in
KEY_LAYER = {
    **dict.fromkeys(STREAM_KEYS, "streaming"),
    **dict.fromkeys(CORPUS_KEYS, "llm"),
    **dict.fromkeys(READ_KEYS, "operators"),
}
# the input table a key's throughput counts, where not the default of
# its layer
INPUT_TABLE = {"tweet_filter_stream": "documents",
               "sim_topk_cosine": "embeddings"}
LAYER_INPUT = {"streaming": "events", "llm": "documents"}

# name -> one pass over its keys, in this order; the layer whose calls
# make the throughput; what one latency sample is; the headline key
WORKLOADS = {
    "ingest": dict(keys=STREAM_KEYS, throughput="streaming",
                   latency="micro-batch", headline="stream_dedup"),
    "batch": dict(keys=CORPUS_KEYS + READ_KEYS, throughput="llm",
                  latency="query", headline="dedup_minhash_verdicts"),
}
LAYERS = ("operators", "llm", "streaming")
SETUP_CYCLES = 3


def _purge_program_modules() -> None:
    for name in [m for m in sys.modules if m.split(".")[0] == "tweetdb_spark"]:
        del sys.modules[name]


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 fixture_dir: str, tmp_dir: str, scale: float = 1.0,
                 deadline: float = float("inf")):
        self.workload = workload
        self.deadline = deadline  # time.monotonic() at which the run must end
        self.seed = seed
        self.seconds = seconds
        self.fixture = fixture_dir
        self.tmp = tmp_dir
        self.scale = scale
        spec = WORKLOADS[workload]
        self.keys, self.headline = spec["keys"], spec["headline"]
        self.throughput_layer, self.latency_unit = spec["throughput"], spec["latency"]
        self.tracer = Tracer(traced)
        self.progress = ProgressLog()
        self.spark = None
        self.calls: list[dict] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.setup: list[dict] = []

    # -- set-up ---------------------------------------------------------
    def _setup_cycle(self, i: int) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            _purge_program_modules()
            for d in glob.glob(f"{self.tmp}/tweetdb_stream_src_*"):
                shutil.rmtree(d, ignore_errors=True)
        sp = self.tracer.span
        rec = {}
        t0 = time.perf_counter()
        with sp("setup", "bench", call_id=f"setup-{i}"):
            t = time.perf_counter()
            with sp("get_spark", "session"):
                from tweetdb_spark.session import get_spark

                spark = get_spark("perfbench")
            rec["get_spark_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with sp("load_all_operators", "session"):
                import tweetdb_spark

                tweetdb_spark.load_all_operators()
            rec["load_operators_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with sp("load_tables", "catalog"):
                from tweetdb_spark.catalog import load_tables

                self.tables = load_tables(spark, self.fixture)
            rec["load_tables_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with sp("stage_events_json", "streaming"):
                from tweetdb_spark.streaming.sources import stage_events_json

                stage_events_json(spark, self.fixture)
            rec["stage_s"] = time.perf_counter() - t
        rec["setup_s"] = time.perf_counter() - t0
        self.setup.append(rec)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.queries = tweetdb_spark.QUERIES
        self.oracles = tweetdb_spark.ORACLES

    def set_up(self) -> None:
        for i in range(SETUP_CYCLES):
            self._setup_cycle(i)
        self.spark.streams.addListener(self.progress)
        jvm = self.spark._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    # -- expected outputs -----------------------------------------------
    def expect(self) -> None:
        self.expected: dict[str, tuple[str, int] | None] = {}
        self.expect_s: dict[str, float] = {}
        for key in self.keys:
            t = time.perf_counter()
            self.expected[key] = self._expected(key)
            self.expect_s[key] = round(time.perf_counter() - t, 3)

    def _expected(self, key: str) -> tuple[str, int] | None:
        if key in self.oracles:
            return checks.oracle_digest(self.fixture, self.oracles[key], self.tmp)
        twin = checks.batch_twin(self.spark, self.tables, key)
        if twin is not None:
            return checks.digest(twin.columns, twin.collect())
        if key == "dedup_minhash_verdicts":
            return None  # the first call's digest, then pinned
        raise KeyError(f"no output check for {key}")

    # -- the measured loop ----------------------------------------------
    def _call(self, key: str, n: int) -> dict:
        spark, traced = self.spark, self.tracer.enabled
        call_id = f"{key}#{n}"
        layer = KEY_LAYER[key]
        sc = spark.sparkContext
        with self.tracer.span("call", "bench", call_id=call_id, key=key):
            if traced:
                sc.setJobGroup(f"{call_id}/build", key)
            t0 = time.perf_counter()
            with self.tracer.span("registry.build", layer):
                df = self.queries[key](spark, self.fixture)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"{call_id}/exec", key)
            with self.tracer.span("exec", layer):
                rows = df.collect()
                cols = df.columns
            t2 = time.perf_counter()
        # progress events reach the listener asynchronously
        spark._jsc.sc().listenerBus().waitUntilEmpty()
        rec = {"key": key, "build_s": t1 - t0, "exec_s": t2 - t1,
               "wall_s": t2 - t0, "cols": cols, "rows": rows,
               "batches": [batch_record(p) for p in self.progress.take()]}
        if traced:
            with self.tracer.span("trace.read", "trace", call_id=call_id):
                sc.setJobGroup("perfbench", "between calls")
                rec["build"] = job_counters(spark, [f"{call_id}/build"])
                rec["exec"] = job_counters(spark, [f"{call_id}/exec"])
                runs = {b["run_id"] for b in rec["batches"]}
                rec["stream"] = job_counters(spark, sorted(runs))
        return rec

    def _attempt(self, key: str, n: int) -> dict | None:
        """One counted call.  A call that raises is a failed operation:
        it is recorded and left out of the timings, and the run goes on."""
        self.attempted += 1
        try:
            return self._call(key, n)
        except Exception as exc:  # the program failed this call
            if time.monotonic() >= self.deadline:
                # the run's time limit interrupted it (py4j may have
                # wrapped the TimeoutError): stop the run, not the call
                raise TimeoutError("run time limit reached") from exc
            traceback.print_exc(file=sys.stderr)
            msg = str(exc).strip().splitlines()
            self.failures.append(
                f"{key}: raised {type(exc).__name__}: {msg[0][:200] if msg else ''}"
            )
            self.progress.take()  # its batches belong to no later call
            return None

    def measure(self) -> None:
        """Passes over the workload's keys in their fixed order, the
        first one right after set-up, until ``seconds`` have run; the
        window ends with a whole pass."""
        self.progress.take()
        n = 0
        t0 = time.perf_counter()
        with self.tracer.span("window", "bench", call_id="window"):
            passes = 0
            while passes == 0 or time.perf_counter() - t0 < self.seconds:
                passes += 1
                for key in self.keys:
                    rec = self._attempt(key, n)
                    if rec is not None:
                        rec["pass"] = passes
                        self.calls.append(rec)
                    n += 1
        self.window_s = time.perf_counter() - t0
        self.passes = passes

    # -- checks -----------------------------------------------------------
    def _check(self, rec: dict) -> None:
        key = rec["key"]
        got = checks.digest(rec["cols"], rec["rows"])
        ok = True
        if key == "dedup_minhash_verdicts":
            problems = checks.verdict_problems(
                rec["rows"], self.doc_ids, self.exact_groups
            )
            for p in problems:
                self.failures.append(f"{key}: {p}")
            ok = not problems
            if self.expected[key] is None:
                self.expected[key] = got
        if ok and got != self.expected[key]:
            self.failures.append(
                f"{key}: {got[1]} rows, digest {got[0][:12]} != expected "
                f"{self.expected[key][1]} rows, {self.expected[key][0][:12]}"
            )
            ok = False
        rec["ok"] = ok
        rec["rows_out"] = got[1]
        if key == "dedup_minhash_verdicts":
            rec["doc_removed"] = sum(1 for r in rec["rows"] if not r["keep"])
        del rec["rows"]

    def check_all(self) -> None:
        for rec in self.calls:
            self._check(rec)

    # -- whole run --------------------------------------------------------
    def execute(self) -> dict:
        self.phases: dict[str, float] = {}

        def phase(name, fn):
            t = time.perf_counter()
            out = fn()
            self.phases[name] = round(time.perf_counter() - t, 3)
            return out

        self.inputs_info = phase("generate", lambda: gen.generate(
            self.workload, self.seed, self.fixture, self.scale))
        self.exact_groups = self.inputs_info.pop("exact_groups")
        self.doc_ids = set(range(self.inputs_info["tables"]["documents"]["rows"]))
        phase("set_up", self.set_up)
        phase("expect", self.expect)
        phase("measure", self.measure)
        phase("check", self.check_all)
        self.peak_rss_mb = host.peak_rss_mb(self.jvm_pid)
        return self.result()

    def items(self, key: str) -> int:
        table = INPUT_TABLE.get(key, LAYER_INPUT[KEY_LAYER[key]])
        return self.inputs_info["tables"][table]["rows"]

    def result(self) -> dict:
        calls = self.calls
        mine = [c for c in calls if KEY_LAYER[c["key"]] == self.throughput_layer]
        if self.latency_unit == "micro-batch":
            lat = [b["trigger_ms"] for c in calls for b in c["batches"]]
        else:
            lat = [c["wall_s"] * 1000.0 for c in calls
                   if KEY_LAYER[c["key"]] == "operators"]
        setup = statistics.median(r["setup_s"] for r in self.setup)
        e2e = {
            "setup_s": (setup, "s"),
            "throughput_per_s": (sum(self.items(c["key"]) for c in mine)
                                 / sum(c["wall_s"] for c in mine), "1/s"),
            "latency_ms_mean": (statistics.fmean(lat), "ms"),
            "headline_s": (statistics.median(
                c["wall_s"] for c in calls if c["key"] == self.headline), "s"),
        }
        attempted = self.attempted
        failed = len(self.failures)
        context = {
            "workload": self.workload,
            "seed": self.seed,
            "traced": self.tracer.enabled,
            "window_s": round(self.window_s, 3),
            "passes": self.passes,
            "calls": len(calls),
            "latency_unit": self.latency_unit,
            "latency_samples": len(lat),
            "latency_ms_p50": round(statistics.median(lat), 1),
            "latency_ms_max": round(max(lat), 1),
            "failed_ops_ratio": failed / attempted,
            "peak_rss_mb": round(self.peak_rss_mb, 1),
            "failures": self.failures[:20],
            "setup_cycles": [{k: round(v, 3) for k, v in r.items()}
                             for r in self.setup],
            "phases_s": self.phases,
            "expect_s": self.expect_s,
            "inputs": self.inputs_info,
            "batches_per_call": [
                [c["key"], len(c["batches"]), sum(b["trigger_ms"] for b in c["batches"])]
                for c in calls if c["batches"]
            ],
            "per_key_median_s": {
                k: round(statistics.median(
                    c["wall_s"] for c in calls if c["key"] == k), 4)
                for k in self.keys if any(c["key"] == k for c in calls)
            },
        }
        return {"e2e": e2e, "attempted": attempted, "failed": failed,
                "context": context}

    # -- traced run: per-layer metrics -----------------------------------
    def layer_metrics(self) -> dict:
        """Per-layer metrics: set-up spans as medians over the set-ups,
        counters as means per timed call of the layer's own calls (0 for
        the layers this workload does not call), micro-batch times as
        medians over batches."""
        calls, med = self.calls, statistics.median

        def total(c, field):
            return c["build"][field] + c["exec"][field] + c["stream"][field]

        def gap(c):
            return c["wall_s"] - total(c, "job_wall_s")

        per_call = {  # name -> (value of one call, unit)
            "build_s": (lambda c: c["build_s"], "s"),
            "exec_s": (lambda c: c["exec_s"], "s"),
            "jobs": (lambda c: total(c, "jobs"), "count"),
            "stages": (lambda c: total(c, "stages"), "count"),
            "tasks": (lambda c: total(c, "tasks"), "count"),
            "driver_gap_s": (gap, "s"),
            "executor_run_s": (lambda c: total(c, "run_s"), "s"),
            "executor_cpu_s": (lambda c: total(c, "cpu_s"), "s"),
            "shuffle_bytes": (lambda c: total(c, "shuffle_bytes"), "bytes"),
            "spill_bytes": (lambda c: total(c, "spill_bytes"), "bytes"),
            "gc_s": (lambda c: total(c, "gc_s"), "s"),
            "outside_trigger_s": (lambda c: c["wall_s"] - sum(
                b["trigger_ms"] for b in c["batches"]) / 1000.0, "s"),
            "sink_rows": (lambda c: c["rows_out"], "count"),
            "batches": (lambda c: len(c["batches"]), "count"),
            "late_rows_dropped": (lambda c: sum(
                b["late_rows_dropped"] for b in c["batches"]), "count"),
        }
        layer_counters = {
            "operators": ["exec_s", "jobs", "tasks", "driver_gap_s",
                          "executor_cpu_s", "shuffle_bytes", "gc_s"],
            "llm": ["build_s", "exec_s", "jobs", "stages", "tasks",
                    "driver_gap_s", "executor_run_s", "executor_cpu_s",
                    "shuffle_bytes", "spill_bytes", "gc_s"],
            "streaming": ["batches", "outside_trigger_s", "late_rows_dropped",
                          "tasks", "shuffle_bytes", "sink_rows", "gc_s"],
        }
        batch_medians = {  # streaming name -> (batch field, unit)
            "trigger_ms_p50": ("trigger_ms", "ms"),
            "add_batch_ms_p50": ("add_batch_ms", "ms"),
            "query_planning_ms_p50": ("planning_ms", "ms"),
            "commit_ms_p50": ("commit_ms", "ms"),
            "offset_ms_p50": ("offset_ms", "ms"),
            "state_rows": ("state_rows", "count"),
            "state_bytes": ("state_bytes", "bytes"),
            "state_partitions": ("state_partitions", "count"),
        }

        def setup_med(field):
            return med(r[field] for r in self.setup)

        def mean(fn, rows):
            return sum(fn(c) for c in rows) / len(rows) if rows else 0.0

        m: dict[str, tuple[float, str]] = {
            "session.get_spark_s": (setup_med("get_spark_s"), "s"),
            "session.load_operators_s": (setup_med("load_operators_s"), "s"),
            "session.peak_rss_mb": (self.peak_rss_mb, "MB"),
            "catalog.load_tables_s": (setup_med("load_tables_s"), "s"),
            "catalog.input_bytes": (
                mean(lambda c: total(c, "input_bytes"), calls), "bytes"),
            "registry.build_s": (mean(per_call["build_s"][0], calls), "s"),
            "registry.build_jobs": (mean(lambda c: c["build"]["jobs"], calls), "count"),
            "streaming.stage_s": (setup_med("stage_s"), "s"),
        }
        for layer, names in layer_counters.items():
            mine = [c for c in calls if KEY_LAYER[c["key"]] == layer]
            for name in names:
                fn, unit = per_call[name]
                m[f"{layer}.{name}"] = (mean(fn, mine), unit)
        batches = [b for c in calls for b in c["batches"]]
        for name, (field, unit) in batch_medians.items():
            # state figures come from the stateful batches only
            rows = [b for b in batches
                    if b["state_partitions"] or not name.startswith("state")]
            m[f"streaming.{name}"] = (med(b[field] for b in rows) if rows else 0.0, unit)
        docs = sum(self.items(c["key"]) for c in calls
                   if c["key"] == "dedup_minhash_verdicts")
        m["llm.docs_removed_ratio"] = (
            sum(c.get("doc_removed", 0) for c in calls) / docs if docs else 0.0,
            "ratio")

        self.per_key_trace = {
            key: {name: round(med(per_call[name][0](c) for c in calls
                                  if c["key"] == key), 4)
                  for name in ("build_s", "exec_s", "jobs", "tasks", "driver_gap_s")}
            for key in self.keys if any(c["key"] == key for c in calls)
        }
        # where the window's wall time went: the program's layers should
        # account for all of it but the tracing itself
        self_t = self.tracer.self_times("window")
        traced = self.window_s - self_t.get("trace", 0.0)
        m["trace.overhead_s"] = (self_t.get("trace", 0.0) / len(calls), "s")
        m["trace.layer_coverage"] = (
            sum(v for k, v in self_t.items() if k in LAYERS) / traced, "ratio")
        return m
