"""The two workloads, their set-up, the timed loop and the metrics.

Set-up (timed as ``setup_s``): start the session (the driver JVM) and
its Python worker daemon, generate the seeded input; for ``resume_tail``
also make the crash state, which warms the session up.  ``fresh`` has
no warm-up: its timed run is the first pipeline run of a new driver,
which is what every ``python -m logparse_spark.main`` invocation pays.
Then iterations run back to back until ``seconds`` have passed (at
least one); each is followed by untimed checks, and none is discarded.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

import checks

ROWS = 20_000    # one Arrow batch (spark.sql.execution.arrow.maxRecordsPerBatch)
INPUT_FILES = 8  # the corpus is split so the scan runs as parallel tasks
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
TAIL_RANK = 40   # sources node-040..node-049: the zipf tail, ~3% of rows


# --- input ---------------------------------------------------------------


def make_corpus(path: str, rows: int, seed: int) -> pa.Table:
    """`rows` seeded events, zipf-skewed over 50 source nodes, in the
    `sequences` shape, written as INPUT_FILES parquet files."""
    from logparse_spark.sources.datagen import make_event

    ev = [make_event(i, seed) for i in range(rows)]
    tbl = pa.table({
        "doc_id": pa.array([e[0] for e in ev], pa.string()),
        "tokens": pa.array([e[1] for e in ev], pa.list_(pa.int32())),
        "n_tok": pa.array([e[2] for e in ev], pa.int32()),
        "source": pa.array([e[3] for e in ev], pa.string()),
    })
    os.makedirs(path)
    step = -(-rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(tbl.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))
    return tbl


def input_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in checks.data_files(path))


# --- resources -----------------------------------------------------------


class MemSampler:
    """Peak memory of the processes this one started: the driver JVM (by
    RSS) and the Python worker daemon with its forked workers (by PSS,
    which splits each shared page among its sharers; summed RSS would
    count the daemon's pages again for every worker).  Sampled every
    `interval` seconds; reading PSS of the JVM would walk its page
    tables on every sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = {"total": 0, "jvm": 0, "workers": 0}  # kB
        self._forked: dict[int, bool] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _is_worker(self, pid: int) -> bool:
        if pid not in self._forked:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                self._forked[pid] = b"pyspark.daemon" in f.read()
        return self._forked[pid]

    def sample(self) -> None:
        kb = {"jvm": 0, "workers": 0}
        for pid in descendants(os.getpid()):
            try:
                if self._is_worker(pid):
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        kb["workers"] += next(int(line.split()[1]) for line in f
                                              if line.startswith("Pss:"))
                else:
                    with open(f"/proc/{pid}/statm") as f:
                        kb["jvm"] += int(f.read().split()[1]) * PAGE_KB
            except (OSError, StopIteration):
                continue  # the process ended while we looked
        kb["total"] = kb["jvm"] + kb["workers"]
        for k, v in kb.items():
            self.peak[k] = max(self.peak[k], v)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue  # the process ended while we looked
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


# --- session -------------------------------------------------------------


def start_spark(confs: dict):
    from logparse_spark.session import get_spark

    return get_spark(app_name="lpbench", extra=confs)


def stop_spark(spark, shutdown_jvm: bool) -> None:
    """Stop the session (if any); with `shutdown_jvm`, also end the
    gateway JVM and wait until every process this run started has
    exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if not shutdown_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def worker_identity(spark) -> dict:
    """Where the Python workers import logparse_spark from, and whether
    they write bytecode: one tiny Spark job."""
    def probe(_):
        import sys

        import logparse_spark
        yield (os.path.dirname(os.path.abspath(logparse_spark.__file__)),
               bool(sys.dont_write_bytecode))

    path, no_bytecode = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    return {"worker_package_path": path, "worker_dont_write_bytecode": no_bytecode,
            "java_io_tmpdir": spark.sparkContext._jvm.System.getProperty("java.io.tmpdir"),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "master": spark.sparkContext.master}


# --- the kernel, called directly -----------------------------------------


def kernel_phases(spark, corpus: pa.Table, repeats: int = 3) -> dict:
    """engine.* sub-phase times on the corpus as one Arrow batch, called
    in this process through the public kernel functions (median of
    `repeats`).  build_ms is the rest of parse_batch_arrow: the Arrow
    output build."""
    import pandas as pd
    from pyspark.sql.pandas.types import to_arrow_schema

    from logparse_spark import engine
    from logparse_spark.rulebook import compile_rulebook

    batch = corpus.combine_chunks().to_batches()[0]
    compiled = compile_rulebook()
    schema = to_arrow_schema(spark.createDataFrame([], engine.PARSED_SCHEMA).schema)
    schema = schema.set(schema.get_field_index("ts"),
                        pa.field("ts", pa.timestamp("us", tz="UTC")))
    tokens = batch.column(batch.schema.get_field_index("tokens"))
    engine.parse_batch_arrow(batch, compiled, schema)  # compile regexes once
    dec, par, tot = [], [], []
    for _ in range(repeats):
        t = time.perf_counter()
        texts = engine.decode_tokens_arrow(tokens)
        dec.append(time.perf_counter() - t)
        t = time.perf_counter()
        engine.parse_texts(pd.Series(texts, dtype=object), compiled)
        par.append(time.perf_counter() - t)
        t = time.perf_counter()
        engine.parse_batch_arrow(batch, compiled, schema)
        tot.append(time.perf_counter() - t)
    d, p, b = (statistics.median(x) * 1e3 for x in (dec, par, tot))
    return {"engine.decode_ms": d, "engine.parse_texts_ms": p,
            "engine.build_ms": max(0.0, b - d - p), "engine.batch_ms": b}


# --- workloads -----------------------------------------------------------


class Workload:
    """One workload's inputs, expected outputs and iteration."""

    def __init__(self, name: str, spark, work: str, rows: int, seed: int):
        self.name, self.spark, self.work = name, spark, work
        self.input = os.path.join(work, "input")
        self.corpus = make_corpus(self.input, rows, seed)
        self.input_bytes = input_bytes(self.input)
        t = time.perf_counter()
        self.expect = checks.expectations(self.corpus)
        self.expect_s = time.perf_counter() - t
        self._n = 0

    def _sequences(self):
        return self.spark.read.parquet(self.input)

    def setup(self) -> None:
        """resume_tail: a run that crashed after committing every
        partition but the zipf-tail sources'.  run_pipeline processes
        pending (source, bucket) partitions in sorted order, and sources
        are named by zipf rank, so the first K partitions are the head
        sources."""
        from logparse_spark.main import run_pipeline

        if self.name != "resume_tail":
            return
        sources = sorted(self.expect["rows_by_source"])
        head = [s for s in sources if int(s.split("-")[1]) < TAIL_RANK]
        self.tail = [s for s in sources if s not in head]
        self._n += 1
        self.crash = os.path.join(self.work, f"crash{self._n}")
        run_pipeline(self.spark, self._sequences(), self.crash, resume=True,
                     fail_after_partitions=len(head))
        committed = {r["source"] for r in pq.read_table(
            os.path.join(self.crash, "ledger"), columns=["source"]).to_pylist()}
        if committed != set(head):
            raise RuntimeError(
                "crash state did not commit exactly the head sources "
                f"(committed {sorted(committed)}; the benchmark assumes one "
                "resume bucket per source at this input size)")
        self.tail_rows = sum(self.expect["rows_by_source"][s] for s in self.tail)

    def prepare(self) -> str:
        """Untimed: an empty output dir, or a copy of the crash state.
        Then write back dirty pages, so the timed run's file commits do
        not queue behind the writes of the set-up or the last run."""
        self._n += 1
        out = os.path.join(self.work, f"out{self._n}")
        if self.name == "resume_tail":
            shutil.copytree(self.crash, out)
        os.sync()
        return out

    def iterate(self, out: str, tracer=None) -> dict:
        """One timed run_pipeline call; with `tracer`, inside a root span."""
        from logparse_spark.main import run_pipeline

        seq = self._sequences()
        it: dict = {}
        with tracer.span("main.run_pipeline") if tracer else contextlib.nullcontext() as sp:
            t = time.perf_counter()
            m = run_pipeline(self.spark, seq, out, resume=self.name == "resume_tail")
            it["wall_s"] = time.perf_counter() - t
        it["rows"] = int(m["routed_rows"])
        if tracer:
            it["span"] = sp
        return it

    def check(self, out: str, it: dict) -> list[str]:
        fails, stats = checks.check_sinks(os.path.join(out, "sinks"), self.expect)
        want = self.tail_rows if self.name == "resume_tail" else self.expect["rows"]
        if it["rows"] != want:
            fails.append(f"run routed {it['rows']} rows, expected {want}")
        if stats:
            tbl = stats.pop("table")
            parts = None
            if self.name == "resume_tail":
                parts = {(s, int(b)) for s, b in zip(tbl.column("source").to_pylist(),
                                                      tbl.column("bucket").to_pylist())
                         if s in self.tail}
            stats["grain_rows"] = checks.grain_rows(tbl, parts)
            stats["sink_bytes_per_input_byte"] = stats["sink_bytes"] / self.input_bytes
        stats.update(checks.metric_shortfall(out, self.expect["rows"]))
        it.update(stats)
        return fails


def run_loop(wl: Workload, seconds: float, tracer=None) -> list[dict]:
    """Timed iterations until `seconds` have passed (at least one)."""
    iters = []
    t_end = time.perf_counter() + seconds
    while not iters or time.perf_counter() < t_end:
        out = wl.prepare()
        it: dict = {}
        try:
            it.update(wl.iterate(out, tracer))
            it["failures"] = wl.check(out, it)
        except Exception as e:  # noqa: BLE001 - a raising run counts as failed
            it["failures"] = [f"{type(e).__name__}: {e}"]
        shutil.rmtree(out, ignore_errors=True)
        iters.append(it)
    return iters


def run(name: str, seed: int, seconds: float, trace: bool, work: str,
        confs: dict) -> dict:
    untraced = {k: v for k, v in confs.items() if not k.startswith("spark.eventLog")}
    t0 = time.perf_counter()
    spark = start_spark(untraced)
    try:
        session_start_s = time.perf_counter() - t0
        wl = Workload(name, spark, work, ROWS, seed)
        wl.setup()
        # starts the Python worker daemon (a once-per-session cost) unless
        # the set-up's crash run already did
        identity = worker_identity(spark)
        # the reference parser's expectations are the benchmark's own cost
        setup_s = time.perf_counter() - t0 - wl.expect_s

        with MemSampler() as mem:
            iters = run_loop(wl, seconds)
        report = summarize(iters, setup_s, mem.peak)
        report.update(workload=name, seed=seed, rows=ROWS, identity=identity,
                      session_start_s=session_start_s, expect_s=wl.expect_s)
        if trace:
            kernel = kernel_phases(spark, wl.corpus)
            # the traced iterations start from the state the untraced ones
            # had: a new driver JVM for fresh, a warm one for resume_tail
            new_jvm = name == "fresh"
            stop_spark(spark, shutdown_jvm=new_jvm)
            spark = None
            layers = traced_phase(wl, seconds, confs, report, warm_up=not new_jvm)
            spark = wl.spark
            layers.update(kernel)
            layers["session.start_s"] = session_start_s
            layers["session.peak_jvm_mb"] = report["peak_mb"]["jvm"]
            report["metrics"] = {k: {"value": v, "unit": unit_of(k)}
                                 for k, v in layers.items()}
    finally:
        stop_spark(spark, shutdown_jvm=True)
    return report


def quartiles(values: list[float]) -> dict:
    if len(values) >= 2:
        q1, med, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = med = q3 = values[0]
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


def summarize(iters: list[dict], setup_s: float, peak_kb: dict) -> dict:
    ok = [it for it in iters if not it["failures"]]
    walls = [it["wall_s"] for it in iters if "wall_s" in it]
    if not walls:
        raise RuntimeError(f"no pipeline run completed: {iters[0]['failures']}")
    wall = quartiles(walls)
    rows = statistics.median(it["rows"] for it in iters if "wall_s" in it)
    failed = len(iters) - len(ok)
    last = iters[-1]
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": wall["median"], "unit": "s"},
        "rows_per_s": {"value": rows / wall["median"], "unit": "1/s"},
        "peak_worker_mb": {"value": peak_kb["workers"] / 1024, "unit": "MB"},
    }
    return {
        "metrics": metrics,
        "result": {"attempted": len(iters), "failed": failed},
        "wall_s": wall,
        "peak_mb": {k: v / 1024 for k, v in peak_kb.items()},
        "failed_frac": failed / len(iters),
        "sink_bytes_per_input_byte": last.get("sink_bytes_per_input_byte"),
        "metric_rows_missing": last.get("metric_rows_missing"),
        "iterations": [{k: v for k, v in it.items() if k != "span"} for it in iters],
    }


def traced_phase(wl: Workload, seconds: float, confs: dict, report: dict,
                 warm_up: bool) -> dict:
    """Start a session with the event log on, optionally warm it up with
    one untraced iteration, run the traced iterations, stop the session
    (which closes the log) and read the per-layer numbers back."""
    import spans

    wl.spark = start_spark(confs)
    worker_identity(wl.spark)
    if warm_up:
        out = wl.prepare()
        wl.iterate(out)
        shutil.rmtree(out, ignore_errors=True)
    tracer = spans.Tracer(wl.spark)
    tracer.install()
    try:
        iters = run_loop(wl, seconds, tracer)
    finally:
        tracer.uninstall()
    wl.spark.stop()
    wl.spark = None
    log = spans.EventLog(confs["spark.eventLog.dir"].replace("file://", "", 1))

    per_iter = []
    for it in iters:
        sp = it.get("span")
        if sp is None:
            continue
        idx = tracer.spans.index(sp)
        summary = spans.span_summary(tracer.spans, idx)
        lm = spans.layer_metrics(log, summary, sp["start"], sp["end"])
        lm.update({
            "route.sink_files": it.get("sink_files", 0),
            "route.sink_bytes_per_input_byte": it.get("sink_bytes_per_input_byte", 0.0),
            "aggregate.grain_rows": it.get("grain_rows", 0),
            "aggregate.metric_rows_missing": it.get("metric_rows_missing", 0),
        })
        per_iter.append(lm)
    if not per_iter:
        raise RuntimeError("no traced iteration completed")
    layers = {k: statistics.median(x[k] for x in per_iter) for k in per_iter[0]}
    traced_wall = statistics.median(it["wall_s"] for it in iters if "wall_s" in it)
    layers["trace.overhead_frac"] = traced_wall / report["wall_s"]["median"] - 1
    report["trace"] = {"iterations": [{k: v for k, v in it.items() if k != "span"}
                                      for it in iters],
                       "traced_wall_s": traced_wall, "layers_per_iteration": per_iter,
                       "spans": tracer.spans, "missing_targets": tracer.missing}
    report["result"]["attempted"] += len(iters)
    report["result"]["failed"] += sum(1 for it in iters if it["failures"])
    return layers


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_frac") or name.endswith("_per_input_byte") or name.endswith("_skew"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"
