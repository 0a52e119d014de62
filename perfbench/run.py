"""Benchmark of the transcript-validation engine: one workload at sf0.1 on
local[nproc]; end-to-end metrics from an untraced run, per-layer metrics
from a traced one.

    python3 perfbench/run.py --workload suite_batch --seed 1 --seconds 5 --trace 0

Load shape: a closed loop with one client. This one driver process runs
the workload's steps in sequence, each step's result written to the
`noop` sink before the next step starts. Spark gets nproc task threads.
The input is the fixed seed-42 sf0.1 tables under perfbench/data
(600,000 turns in 83 `part_month` partitions); the seed only permutes
step order within a pass and picks `resume_stream`'s crash point.
perfbench/README.md says why each workload exists.

A run: set-up (session start, input staging and, on suite_batch, one
warm-up pass), then passes until `--seconds` have elapsed (at least
one), then the outputs kept from the first pass run are compared
byte-strict with their DuckDB twins. Every pass starts with the
engine's per-process memos empty. The last stdout line is the JSON
result; the lines before it are a readable report. Everything a run
writes goes under `.perfbench/` at the repository root.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from typing import Callable, NamedTuple

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data", "sf0.1")
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, BENCH)

from spans import Tracer, dur, read_event_log  # noqa: E402

# the 83 part_month partitions: the crash lands near the middle, so the
# resume does about half the table whatever the seed
CRASH_POINTS = range(36, 48)
# conversation-complete stream files consumed 8 per trigger: two
# micro-batches, as in the engine's streaming_verdicts entry
STREAM_FILES, FILES_PER_TRIGGER = 16, 8
FINGERPRINT = "perfbench"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- workloads
#
# A workload's pass is a list of steps (name, layer, sinks, call). `call`
# invokes one public entry point of `layer`; when `sinks` its DataFrame
# result is then written to the noop sink. Layer None marks bookkeeping
# between steps, which is not a step.


def suite_batch(b: "Bench", rng: random.Random) -> list:
    """The flagship constraint suite over the full table (`checks/`),
    plus one Arrow-UDF operator step (`operators/` pairs and the
    `sparse.py` blocked kernel) so the Python boundary is measured."""
    steps = [
        (name, layer, True, lambda name=name: b.queries[name](b.spark, DATA))
        for name, layer in (
            ("verdicts", "checks"),
            ("sim_pearson_complete_strata", "operators"),
        )
    ]
    rng.shuffle(steps)
    return steps


def resume_state(b: "Bench", rng: random.Random) -> list:
    """The same checks through `state/` on fresh state: a run that
    crashes after k partitions, the resume, and a no-op re-run on the
    completed state."""
    from matric_spark.state import run_incremental

    sd = b.scratch("state_")

    def incremental(run_id, crash=None):
        return run_incremental(
            b.spark, b.transcripts(), sd, run_id, FINGERPRINT,
            fail_after_partitions=crash,
        )

    return [
        # a crashed run yields no table, so nothing is sunk
        ("crash", "state", False, lambda: incremental("crash", b.crash_k)),
        ("resume", "state", True, lambda: incremental("resume")),
        ("noop_rerun", "state", True, lambda: incremental("rerun")),
        ("state_size", None, False, lambda: b.record_state_size(sd)),
    ]


def resume_streaming(b: "Bench", rng: random.Random) -> list:
    """The same checks through `streaming/`: the pre-staged
    conversation-complete files consumed by `validated_stream`, then the
    cross-batch assembly `stream_verdicts`, on fresh state."""
    from matric_spark.streaming.validate import (
        await_or_raise,
        stream_verdicts,
        validated_stream,
    )

    sb = b.scratch("stream_")

    def stream_run():
        q = validated_stream(
            b.spark,
            b.stream_input,
            state_dir=f"{sb}/state",
            checkpoint_dir=f"{sb}/ckpt",
            max_files_per_trigger=FILES_PER_TRIGGER,
        )
        # micro-batch jobs run under the query's run id as job group
        b.tracer.alias[str(q.runId)] = b.tracer.current("streaming.build")["id"]
        await_or_raise(q, 150)
        b.tracer.current("step.stream_run")["batch_s"] = [
            p["durationMs"]["triggerExecution"] / 1e3
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]

    return [
        ("stream_run", "streaming", False, stream_run),
        ("stream_assemble", "streaming", True,
         lambda: stream_verdicts(b.spark, f"{sb}/state")),
    ]


class Workload(NamedTuple):
    steps: Callable[["Bench", random.Random], list]
    # steps that only traced runs make, after the timed steps of a pass:
    # their per-layer metrics are reported, and the pass time without
    # them stays comparable with the untraced pass_s
    traced_steps: Callable[["Bench", random.Random], list] | None
    # a warm-up pass in set-up; without one, the first measured pass
    # keeps the outputs for verification
    warmup: bool
    # the steps that turn the raw table into its verdict table: the
    # divisor of verdicts_turns_per_s
    verdict_steps: tuple[str, ...]


# Set-up plus one pass of every resume_stream step is ~90 s at sf0.1 on
# 4 cores, more than the benchmark's run budget allows (4 + 22 runs per
# workload in 3420 s); so resume_stream has no warm-up pass and its
# streaming block runs in traced runs only.
WORKLOADS = {
    "suite_batch": Workload(suite_batch, None, True, ("verdicts",)),
    "resume_stream": Workload(resume_state, resume_streaming, False, ("crash", "resume")),
}
# step -> the oracle_sql() entry its output must equal
ORACLE_OF = {
    "verdicts": "verdicts",
    "sim_pearson_complete_strata": "sim_pearson_complete_strata",
    "resume": "verdicts",
    "noop_rerun": "verdicts",
    "stream_assemble": "verdicts",
}
ALL_STEPS = (
    "verdicts", "sim_pearson_complete_strata", "crash", "resume",
    "noop_rerun", "stream_run", "stream_assemble",
)

# ---------------------------------------------------------------- metrics

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "verdicts_turns_per_s": "1/s",
}
LAYERS = ("checks", "operators", "state", "streaming")
LAYER_KEYS = (
    "build_s", "build_jobs", "exec_s", "jobs", "stages", "tasks",
    "exec_run_s", "exec_cpu_s", "gc_s", "core_busy_frac",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "peak_exec_mem_bytes",
)
PER_LAYER = (
    ["session.start_s", "sources.materialize_s", "streaming.stage_s",
     "setup.warmup_pass_s"]
    + [f"{L}.{k}" for L in LAYERS for k in LAYER_KEYS]
    + ["sources.scan_rows", "sources.scan_bytes", "sources.table_passes",
       "udf.python_s", "udf.python_bytes",
       "state.crash_run_s", "state.resume_s", "state.noop_rerun_s",
       "state.noop_scan_rows", "state.resume_scan_ratio",
       "state.bytes_written", "state.files_written", "state.write_amp",
       "streaming.run_s", "streaming.batches", "streaming.batch_s_p50",
       "streaming.assemble_s", "memory.peak_rss_mb"]
    + [m for s in ALL_STEPS for m in (f"step.{s}_s", f"step.{s}.jobs")]
    + ["trace.pass_s"]
)
# per-layer metrics that must repeat exactly between runs at one seed
COUNTS = tuple(
    m for m in PER_LAYER
    if m.endswith(("jobs", ".stages", ".tasks", "shuffle_write_bytes",
                   "shuffle_read_bytes", "scan_rows", "scan_bytes",
                   "files_written", ".batches"))
)


def unit(metric: str) -> str:
    if metric in END_TO_END:
        return END_TO_END[metric]
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s") or metric.endswith("_p50"):
        return "s"
    if metric.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if metric.endswith(("_frac", "_passes", "_ratio", "_amp")):
        return "ratio"
    return "count"


def staged_rows(path: str) -> tuple[int, dict[int, int], int]:
    """(rows, rows per part_month, bytes) of the staged transcript table,
    from parquet footers."""
    import pyarrow.parquet as pq

    parts: dict[int, int] = defaultdict(int)
    nbytes = 0
    for f in glob.glob(f"{path}/part_month=*/*.parquet"):
        part = int(f.split("part_month=")[1].split("/")[0])
        parts[part] += pq.ParquetFile(f).metadata.num_rows
        nbytes += os.path.getsize(f)
    return sum(parts.values()), dict(parts), nbytes


def data_digest() -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(DATA)):
        with open(os.path.join(DATA, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def oracle_frame(key: str, sql: str, digest: str, tmp: str):
    """The DuckDB result of `sql` (oracle_sql()[key]) over perfbench/data.
    It is a pure function of the SQL text, the input files (`digest`)
    and the library versions, so it is kept under .perfbench/oracle
    keyed by their hash and computed once per checkout."""
    import duckdb
    import pandas as pd

    h = hashlib.sha256(
        f"{sql}\0{digest}\0{duckdb.__version__}\0{pd.__version__}".encode()
    )
    path = os.path.join(WORK, "oracle", f"{key}-{h.hexdigest()[:24]}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp}/duckdb'")
        for name in sorted(os.listdir(DATA)):
            table = name.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{DATA}/{name}'")
        df = con.execute(sql).fetch_df()
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".part")
    os.replace(path + ".part", path)
    return df


def quartiles(values: list[float]) -> tuple[float, float]:
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


# ---------------------------------------------------------------- the run


class RssPeak(threading.Thread):
    """Peak RSS of the Spark JVM (its VmHWM) and of the largest Python
    worker below it, polled from /proc."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.worker_kb = 0
        self._done = threading.Event()

    @staticmethod
    def hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError):
            pass
        return 0

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (FileNotFoundError, ProcessLookupError):
                    continue
                children[ppid].append(int(d))
        out, todo = [], [self.jvm_pid]
        while todo:
            kids = children.get(todo.pop(), [])
            out += kids
            todo += kids
        return out

    def run(self) -> None:
        while not self._done.wait(0.25):
            for pid in self.descendants():
                self.worker_kb = max(self.worker_kb, self.hwm_kb(pid))

    def peak_mb(self) -> float:
        self._done.set()
        self.join()
        return (self.hwm_kb(self.jvm_pid) + self.worker_kb) / 1024.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.rng = random.Random(seed)
        self.crash_k = self.rng.choice(CRASH_POINTS)
        self.run_id = f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}"
        self.tracer = Tracer(self.run_id, traced)
        self.tmp = os.path.join(WORK, "tmp", self.run_id)
        self.event_dir = os.path.join(self.tmp, "eventlog")
        self.spark = None
        self.rss = None
        self.stream_input = None
        self.outputs: dict = {}
        self.failures: list[str] = []
        self.attempted = 0
        self._n = 0

    # -- environment ---------------------------------------------------

    def prepare_env(self) -> None:
        """Confine the run to the checkout and make it independent of the
        caller's cwd, environment and terminal."""
        os.makedirs(self.tmp)
        for var in ("SPARK_GRAFT_TRANSCRIPTS_PARQUET", "SPARK_GRAFT_CATALOG",
                    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_DRIVER_MEM",
                    "PYSPARK_SUBMIT_ARGS"):
            os.environ.pop(var, None)
        # Python workers import matric_spark: put the repo on their path
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(self.tmp, "spark-local")
        os.environ["TMPDIR"] = self.tmp
        # every JVM Spark starts, the launcher's too: no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        )
        import tempfile

        tempfile.tempdir = None
        sys.path.insert(0, ROOT)
        os.chdir(self.tmp)

    def scratch(self, prefix: str) -> str:
        self._n += 1
        path = os.path.join(self.tmp, f"{prefix}{self._n}")
        os.makedirs(path)
        return path

    def start_session(self) -> None:
        from matric_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.traced:
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.tracer.bind(self.spark.sparkContext)
        self.rss = RssPeak(self.spark.sparkContext._gateway.proc.pid)
        self.rss.start()

    def stop_session(self) -> None:
        """Stop Spark and wait until its JVM, and with it every Python
        worker, has exited."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits on stdin EOF
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- engine entry points -------------------------------------------

    def transcripts(self):
        from matric_spark.sources.transcripts_view import transcript_df

        return transcript_df(self.spark, DATA)

    def reset_memos(self) -> None:
        """Production pays these once per run, so every pass starts with
        them empty."""
        import __spark_entry__ as e
        from matric_spark.sources import transcripts_view

        for memo in (e._LEVEL10_CACHE, e._IVF_CENT_CACHE,
                     e._DRIFT_SKETCH_CACHE, e._EVENTS_SKETCH_CACHE,
                     transcripts_view._PLAN_MEMO):
            memo.clear()

    def record_state_size(self, state_dir: str) -> None:
        span = self.tracer.current("pass")
        if span is None:
            return
        files = [
            f for f in glob.glob(f"{state_dir}/**/*.parquet", recursive=True)
            if not os.path.basename(f).startswith((".", "_"))
        ]
        span["state_files"] = len(files)
        span["state_bytes"] = sum(os.path.getsize(f) for f in files)

    # -- passes --------------------------------------------------------

    def run_pass(self, capture: bool) -> None:
        """One pass of the workload. With `capture`, sunk results are
        collected for verification instead of written to noop."""
        wl = WORKLOADS[self.workload]
        self.reset_memos()
        for step in wl.steps(self, self.rng):
            self.run_step(*step, capture=capture)
        if self.traced and wl.traced_steps:
            span = self.tracer.current("pass")
            if span is not None:
                span["timed_end"] = time.perf_counter()
            for step in wl.traced_steps(self, self.rng):
                self.run_step(*step, capture=capture)

    def run_step(self, name, layer, sinks, call, capture: bool) -> None:
        import __spark_entry__ as e

        if layer is None:
            call()
            return
        self.attempted += 1
        with self.tracer.span(f"step.{name}", step=name, layer=layer):
            try:
                with self.tracer.span(f"{layer}.build"):
                    df = call()
                if sinks:
                    with self.tracer.span(f"{layer}.exec"):
                        if not capture:
                            df.write.format("noop").mode("overwrite").save()
                        else:
                            if name not in self.queries:
                                # a library call: apply the verdicts
                                # entry's rounding, as the gate does
                                df = e._round6(df, ["metric"])
                            self.outputs[name] = df.toPandas()
            except Exception as exc:  # counted in failed, not fatal
                traceback.print_exc()
                print(f"  [{name}] FAILED: {type(exc).__name__}: {exc}"[:2000])
                self.failures.append(name)
            finally:
                self.spark.catalog.clearCache()

    def run(self) -> None:
        wl = WORKLOADS[self.workload]
        with self.tracer.span("setup") as setup:
            with self.tracer.span("session.start"):
                import __spark_entry__ as e
                import bench

                self.start_session()
                self.queries = e.queries()
            with self.tracer.span("sources.materialize"):
                self.staged = bench.setup_transcripts(self.spark, DATA)
            if self.traced and wl.traced_steps:
                with self.tracer.span("streaming.stage"):
                    from pyspark.sql import functions as F

                    self.stream_input = os.path.join(self.scratch("in_"), "incoming")
                    self.transcripts().repartition(
                        STREAM_FILES, F.crc32(F.col("conv_id"))
                    ).write.parquet(self.stream_input)
            if wl.warmup:
                with self.tracer.span("setup.warmup_pass"):
                    self.run_pass(capture=True)
        self.setup_span = setup
        self.passes: list[dict] = []
        t0 = time.perf_counter()
        while not self.passes or time.perf_counter() - t0 < self.seconds:
            with self.tracer.span("pass", index=len(self.passes)) as p:
                self.run_pass(capture=not (wl.warmup or self.passes))
            self.passes.append(p)
        self.peak_rss_mb = self.rss.peak_mb()
        self.stop_session()
        self.n_turns, self.part_rows, self.staged_bytes = staged_rows(self.staged)
        self.verify()

    def verify(self) -> None:
        """Compare each kept output byte-strict with its DuckDB twin
        through tools/check_oracle.compare. Runs after the timed passes,
        against the cached oracle result when there is one."""
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracle import compare

        import __spark_entry__ as e

        sql, digest = e.oracle_sql(), data_digest()
        for name, out in sorted(self.outputs.items()):
            key = ORACLE_OF[name]
            want = oracle_frame(key, sql[key], digest, self.tmp)
            if not compare(f"{name} vs {key} oracle", out, want):
                self.failures.append(name)

    # -- results -------------------------------------------------------

    def owners(self) -> dict[str, tuple[int, dict, str]]:
        """span id -> (measured pass index, step span, phase) for every
        span inside a step of a measured pass."""
        by_id = {s["id"]: s for s in self.tracer.spans}
        out = {}
        for s in self.tracer.spans:
            chain, cur = [], s
            while cur is not None:
                chain.append(cur)
                cur = by_id.get(cur["parent"])
            step = next((c for c in chain if "step" in c), None)
            top = next((c for c in chain if c["name"] == "pass"), None)
            if step is not None and top is not None:
                phase = s["name"].rsplit(".", 1)[-1] if s is not step else "step"
                out[s["id"]] = (top["index"], step, phase)
        return out

    def pass_samples(self) -> dict[str, list[float]]:
        """Per measured pass: step wall times and the pass wall time."""
        samples: dict[str, list[float]] = defaultdict(list)
        owners = self.owners()
        for i, p in enumerate(self.passes):
            samples["pass_s"].append(dur(p))
            steps = {st["step"]: dur(st) for j, st, ph in owners.values()
                     if j == i and ph == "step"}
            for name, t in steps.items():
                samples[f"step.{name}_s"].append(t)
        return samples

    def end_to_end(self) -> dict[str, list[float]]:
        """Every end-to-end metric as its list of samples."""
        samples = self.pass_samples()
        per_pass = zip(*(samples[f"step.{s}_s"] for s in WORKLOADS[self.workload].verdict_steps))
        return {
            "setup_s": [dur(self.setup_span)],
            "pass_s": samples["pass_s"],
            "verdicts_turns_per_s": [self.n_turns / sum(t) for t in per_pass],
        }

    def per_layer(self) -> dict[str, float]:
        """Every per-layer metric: the median over measured passes of its
        per-pass value (set-up metrics are single readings)."""
        jobs, stages = read_event_log(self.event_dir)
        owners = self.owners()
        alias = self.tracer.alias
        acc = [defaultdict(float) for _ in self.passes]
        for group in jobs:
            hit = owners.get(alias.get(group, group))
            if hit:
                i, step, phase = hit
                acc[i][f"step.{step['step']}.jobs"] += 1
                acc[i][f"{step['layer']}.jobs"] += 1
                if phase == "build":
                    acc[i][f"{step['layer']}.build_jobs"] += 1
        for st in stages:
            hit = owners.get(alias.get(st["group"], st["group"]))
            if not hit:
                continue
            i, step, _ = hit
            m, L = acc[i], step["layer"]
            m[f"{L}.stages"] += 1
            m[f"{L}.tasks"] += st["tasks"]
            m[f"{L}.exec_run_s"] += st["run_ms"] / 1e3
            m[f"{L}.exec_cpu_s"] += st["cpu_ns"] / 1e9
            m[f"{L}.gc_s"] += st["gc_ms"] / 1e3
            for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
                m[f"{L}.{k}"] += st[k]
            m[f"{L}.peak_exec_mem_bytes"] = max(
                m[f"{L}.peak_exec_mem_bytes"], st["peak_exec_mem_bytes"]
            )
            m["sources.scan_rows"] += st["scan_rows"]
            m["sources.scan_bytes"] += st["scan_bytes"]
            m[f"step.{step['step']}.scan_rows"] += st["scan_rows"]
            if L != "operators":  # operators read the embeddings table
                m["transcript_scan_rows"] += st["scan_rows"]
            m["udf.python_s"] += st["python_ms"] / 1e3
            m["udf.python_bytes"] += st["python_bytes"]
        wall = [defaultdict(float) for _ in self.passes]
        by_id = {s["id"]: s for s in self.tracer.spans}
        for sid, (i, step, phase) in owners.items():
            s = by_id[sid]
            if phase == "step":
                acc[i][f"step.{step['step']}_s"] += dur(s)
                wall[i][step["layer"]] += dur(s)
            elif phase in ("build", "exec"):
                acc[i][f"{step['layer']}.{phase}_s"] += dur(s)

        remaining = sum(
            self.part_rows[p] for p in sorted(self.part_rows)[self.crash_k:]
        )
        for i, p in enumerate(self.passes):
            m = acc[i]
            for L in LAYERS:
                busy = m[f"{L}.exec_run_s"]
                m[f"{L}.core_busy_frac"] = busy / (wall[i][L] * nproc()) if wall[i][L] else 0
            m["sources.table_passes"] = m["transcript_scan_rows"] / self.n_turns
            m["state.crash_run_s"] = m["step.crash_s"]
            m["state.resume_s"] = m["step.resume_s"]
            m["state.noop_rerun_s"] = m["step.noop_rerun_s"]
            m["state.noop_scan_rows"] = m["step.noop_rerun.scan_rows"]
            m["state.resume_scan_ratio"] = m["step.resume.scan_rows"] / remaining
            m["state.files_written"] = p.get("state_files", 0)
            m["state.bytes_written"] = p.get("state_bytes", 0)
            m["state.write_amp"] = m["state.bytes_written"] / self.staged_bytes
            m["streaming.run_s"] = m["step.stream_run_s"]
            m["streaming.assemble_s"] = m["step.stream_assemble_s"]
            batch_s = next(
                (s.get("batch_s", []) for s in self.tracer.spans
                 if s["name"] == "step.stream_run" and owners.get(s["id"], (None,))[0] == i),
                [],
            )
            m["streaming.batches"] = len(batch_s)
            m["streaming.batch_s_p50"] = statistics.median(batch_s) if batch_s else 0
            m["trace.pass_s"] = p.get("timed_end", p["end"]) - p["start"]
        out = {k: statistics.median(m.get(k, 0) for m in acc) for k in PER_LAYER}
        out["memory.peak_rss_mb"] = self.peak_rss_mb
        for s in self.tracer.spans:
            if s["parent"] == self.setup_span["id"]:
                out[f"{s['name']}_s"] = dur(s)
        return out

    def result(self) -> dict:
        e2e = self.end_to_end()
        if self.traced:
            metrics = self.per_layer()
        else:
            metrics = {k: statistics.median(v) for k, v in e2e.items()}
        failed = len(self.failures)
        self.report(e2e, metrics, failed)
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
        }

    def report(self, e2e: dict, metrics: dict, failed: int) -> None:
        """Readable lines before the JSON result; also appended, with
        the seed, to .perfbench/results.jsonl, and the spans of a traced
        run go to .perfbench/spans/."""
        print(
            f"perfbench workload={self.workload} seed={self.seed} "
            f"trace={int(self.traced)} loop=closed clients=1 cores={nproc()} "
            f"crash_k={self.crash_k} passes={len(self.passes)}"
        )
        for k, v in e2e.items():
            q1, q3 = quartiles(v)
            print(f"  {k:24s} {statistics.median(v):14.4f} {unit(k):5s} "
                  f"n={len(v)} q1={q1:.4f} q3={q3:.4f}")
        print(f"  {'peak_rss_mb':24s} {self.peak_rss_mb:14.4f} MB    n=1")
        print(f"  {'failed_frac':24s} {failed / self.attempted:14.4f} ratio "
              f"n={self.attempted} ({failed} of {self.attempted} steps failed)")
        resume = self.pass_samples().get("step.resume_s")
        if resume:
            q1, q3 = quartiles(resume)
            print(f"  {'resume_s':24s} {statistics.median(resume):14.4f} s     "
                  f"n={len(resume)} q1={q1:.4f} q3={q3:.4f}")
        if self.traced:
            for k in PER_LAYER:
                if metrics[k]:
                    print(f"  {k:40s} {metrics[k]:16.4f} {unit(k)}")
            self.tracer.write(os.path.join(WORK, "spans", f"{self.run_id}.jsonl"))
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, "results.jsonl"), "a") as f:
            f.write(json.dumps({
                "workload": self.workload, "seed": self.seed,
                "trace": int(self.traced), "seconds": self.seconds,
                "crash_k": self.crash_k, "failed": failed,
                "attempted": self.attempted, "samples": e2e,
                "metrics": metrics,
            }) + "\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    b.prepare_env()
    try:
        b.run()
        result = b.result()
    finally:
        b.stop_session()
        os.chdir(ROOT)
        shutil.rmtree(b.tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
