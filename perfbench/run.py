"""KG-build benchmark: production entry points on seeded inputs.

    python3 perfbench/run.py --workload build_full --seed 1 --seconds 10 \
        --trace 0

One process, one local Spark session sized for the host
(``local[<nproc>]``, ``nproc`` shuffle partitions, a driver heap of a
quarter of RAM capped at 4 GiB, the JVM's C1 JIT compiler only), one
workload call at a time (a closed loop with one client). Set-up is
timed as ``setup_s``: session start,
input generation (in a child process, while the session starts) and, for
build_full, one untimed warm-up call on a small input (it pays the JIT,
code generation, Python worker and model start-up a fresh session
costs; see workloads.py for why report_structure has none). Then the
workload's entry point is called, whole calls until ``--seconds`` have
passed (at least one), and every output is checked; ``job_s`` is the
median call.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics instead: after the same set-up, one call traced
(``trace.job_s``, to be compared with the untraced ``job_s``) and split
by layer (``layer.*_s``, the kg_graph and components ``*_s`` metrics and
``unattributed_s``), the tracer's own time inside it
(``trace.overhead_s``), operator counters from Spark's status stores,
for build_full a traced incremental refresh of the built output, and a
replay of the Python kernel. A human-readable report goes to stderr; the
last line of stdout is one JSON object.

All files (inputs, outputs, Spark scratch, the JVM log) live under
``.bench_data/perfbench/`` in the checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MODEL = os.path.join(ROOT, "models", "kg_model.pkl")
PR_GATE = 0.95

END_TO_END = {
    "job_s": "s", "cpu_s": "s", "rows_per_s": "1/s",
    "triple_precision": "ratio", "triple_recall": "ratio", "ok_frac": "ratio",
    "setup_s": "s",
}

PER_LAYER = {
    "setup.session_s": "s", "setup.input_gen_s": "s", "setup.warmup_s": "s",
    "trace.job_s": "s", "trace.overhead_s": "s", "unattributed_s": "s",
    "peak_rss_mb": "MB",
    "layer.sources_s": "s", "layer.tagger_s": "s", "layer.pipeline_s": "s",
    "layer.checkpoint_s": "s", "layer.incremental_kg_s": "s",
    "sources.scan_ms": "ms", "sources.rows_read": "count",
    "sources.bytes_read": "B",
    "tagger.python_init_ms": "ms", "tagger.python_total_ms": "ms",
    "tagger.python_bytes_sent": "B", "tagger.python_bytes_received": "B",
    "tagger.rows_in": "count", "tagger.rows_out": "count",
    "tagger.task_ms_max": "ms", "tagger.task_ms_median": "ms",
    "tokenizer.tokenize_ms": "ms/1k_turns",
    "features_fast.pos_features_ms": "ms/1k_turns",
    "perceptron.pos_decode_ms": "ms/1k_turns",
    "features_fast.lemma_ms": "ms/1k_turns",
    "features_fast.ner_features_ms": "ms/1k_turns",
    "perceptron.ner_decode_ms": "ms/1k_turns",
    "spans.assemble_ms": "ms/1k_turns",
    "kernel.turns_per_s_core": "1/s",
    "pipeline.link_rows_in": "count", "pipeline.broadcast_build_ms": "ms",
    "checkpoint.shuffle_write_bytes": "B", "checkpoint.shuffle_write_ms": "ms",
    "checkpoint.write_task_ms_max": "ms",
    "checkpoint.write_task_ms_median": "ms",
    "checkpoint.files_written": "count",
    "checkpoint.output_bytes_per_triple": "B",
    "checkpoint.parts_skipped": "count",
    "incremental_kg.refresh_s": "s",
    "incremental_kg.affected_part_keys_s": "s",
    "incremental_kg.parts_recomputed": "count",
    "incremental_kg.turns_reannotated_per_changed_turn": "ratio",
    "kg_graph.materialize_graph_s": "s", "kg_graph.audits_s": "s",
    "components.kcore_s": "s", "components.clustering_s": "s",
    "components.hits_s": "s", "components.ktruss_s": "s",
    "components.jobs": "count",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
    "spark.failed_tasks": "count",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# host, session, processes
# ---------------------------------------------------------------------------

def host_sizing() -> tuple[int, int]:
    """(task slots, driver heap MiB) for this host."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) // 1024 for line in f
                      if line.startswith("MemTotal:"))
    return nproc, max(1024, min(4096, mem_mb // 4))


class JvmLog:
    """fd 2 of the JVM goes to a file (it inherits fd 2 at launch), so
    ERROR lines inside a timed window can be counted; Python keeps its
    own stderr."""

    def __init__(self, path: str) -> None:
        self.path = path

    def __enter__(self):
        sys.stderr.flush()
        self._saved = os.dup(2)
        fd = os.open(self.path, os.O_CREAT | os.O_WRONLY | os.O_TRUNC)
        os.dup2(fd, 2)
        os.close(fd)
        return self

    def __exit__(self, *exc):
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        return False

    def size(self) -> int:
        return os.path.getsize(self.path) if os.path.exists(self.path) else 0

    def errors_since(self, offset: int) -> int:
        with open(self.path, "rb") as f:
            f.seek(offset)
            return f.read().count(b" ERROR ")


def start_session(work: str, jvm_log: JvmLog):
    nproc, heap_mb = host_sizing()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # executors' Python workers import morra_spark from the checkout,
    # whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = None
    from morra_spark.session import get_spark

    with jvm_log:
        spark = get_spark(
            "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
            extra_conf={
                "spark.driver.memory": f"{heap_mb}m",
                # no hsperfdata: HotSpot writes it to /tmp, outside the
                # checkout, whatever java.io.tmpdir says. C1 only: in a
                # session that lives about a minute on a few cores, C2's
                # compiler threads take more CPU than the report's tasks
                # (~78 of ~139 CPU s in a cold report call on 4 vCPUs)
                # and how much they compile, and when, swings the call's
                # time and CPU from run to run
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    "-XX:TieredStopAtLevel=1",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # keep every job, stage and execution of a run readable
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "10000000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
    log(f"session local[{nproc}], {nproc} shuffle partitions, "
        f"driver heap {heap_mb} MiB")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM, the Python daemon and workers), counting reaped
    children. Time the host steals from the VM is not in it."""
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    tick = os.sysconf("SC_CLK_TCK")
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / tick
    return total


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (driver
    JVM, Python daemon and workers), sampled every 0.2 s."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            total = sum(_rss_bytes(p) for p in [me] + descendants(me))
            self.peak = max(self.peak, total)
            self._stop_evt.wait(0.2)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak / 2 ** 20


def _timed(fn):
    t = time.perf_counter()
    return fn(), time.perf_counter() - t


class Background:
    """Runs ``fn`` in one forked child process (true parallelism, unlike
    a thread). Create it before the JVM starts. ``result`` waits for the
    child to end and returns ``fn``'s value, or raises its exception;
    ``seconds`` is how long ``fn`` ran."""

    def __init__(self, fn) -> None:
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor

        self.pool = ProcessPoolExecutor(
            1, mp_context=multiprocessing.get_context("fork"))
        self.future = self.pool.submit(_timed, fn)
        self.seconds = 0.0

    def result(self):
        try:
            value, self.seconds = self.future.result()
        finally:
            self.pool.shutdown(wait=True)
        return value


def stop_session(spark) -> None:
    """Stop Spark, then its JVM, then wait for every process this run
    started to end (killing any still there after 30 s)."""
    import signal

    procs = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=30)
        except Exception:  # subprocess.TimeoutExpired
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not procs:
            return
        time.sleep(0.2)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------

def window_health(spark, job_ids, jvm_log: JvmLog, log_off: int) -> list[str]:
    """The bench.timed_clean rule: failed tasks, stage re-attempts or JVM
    ERROR lines inside the window make the call a failure."""
    store = spark.sparkContext._jsc.sc().statusStore()
    failed_tasks = failed_stages = 0
    for j in job_ids:
        jd = store.job(j)
        failed_tasks += jd.numFailedTasks()
        failed_stages += jd.numFailedStages()
    errors = jvm_log.errors_since(log_off)
    out = []
    if failed_tasks:
        out.append(f"{failed_tasks} failed tasks")
    if failed_stages:
        out.append(f"{failed_stages} failed stage attempts")
    if errors:
        out.append(f"{errors} JVM ERROR lines")
    return out


class Caller:
    """Runs workload calls under the benchmark's rules: each call in its
    own job group (or traced spans), the timed_clean health check on its
    window, then the output check (untimed)."""

    def __init__(self, spark, jvm_log: JvmLog, tracer=None, stats=None):
        self.spark, self.jvm_log = spark, jvm_log
        self.tracer, self.stats = tracer, stats
        self.attempted = self.failed = 0
        self.correct = True
        self.precision: list[float] = []
        self.recall: list[float] = []

    def call(self, label: str, fn, check, traced: bool = False):
        """(seconds, CPU seconds, result) of ``fn()``, or None if the
        call failed."""
        sc = self.spark.sparkContext
        self.attempted += 1
        log_off = self.jvm_log.size()
        group = f"perfbench-call-{self.attempted}"
        try:
            if traced:
                self.tracer.reset()
                self.tracer.enabled = True
                try:
                    c0, t0 = tree_cpu_s(), time.perf_counter()
                    with self.tracer.span("workload"):
                        res = fn()
                    dt, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
                finally:
                    self.tracer.enabled = False
                job_ids = sorted({j for s in self.tracer.spans
                                  for j in self.stats.jobs_of(s.group)})
            else:
                sc.setJobGroup(group, label)
                try:
                    c0, t0 = tree_cpu_s(), time.perf_counter()
                    res = fn()
                    dt, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        except Exception:
            log(f"{label} raised:\n{traceback.format_exc()}")
            self.failed += 1
            self.correct = False
            return None
        dirty = window_health(self.spark, job_ids, self.jvm_log, log_off)
        chk = check(res)
        self.precision.append(chk["precision"])
        self.recall.append(chk["recall"])
        wrong = list(chk["problems"])
        if chk["precision"] < PR_GATE or chk["recall"] < PR_GATE:
            wrong.append(f"P/R {chk['precision']:.4f}/{chk['recall']:.4f}"
                         f" below {PR_GATE}")
        if wrong or dirty:
            self.failed += 1
            self.correct = self.correct and not wrong
            log(f"{label} failed: {'; '.join(wrong + dirty)}")
        log(f"{label}{' (traced)' if traced else ''}: {dt:.3f} s "
            f"({cpu:.1f} CPU s), P/R {chk['precision']:.4f}/"
            f"{chk['recall']:.4f}")
        return dt, cpu, res


def measure(caller: Caller, wl, seconds: float) -> dict:
    """Untraced: call the warmed-up workload until ``seconds`` have passed
    (whole calls, at least one); ``job_s`` is the median call."""
    times, cpus = [], []
    t_start = time.perf_counter()
    while True:
        wl.prepare()
        out = caller.call(f"call {len(times) + 1}", wl.run, wl.check)
        if out is not None:
            times.append(out[0])
            cpus.append(out[1])
        if time.perf_counter() - t_start >= seconds:
            break
    job_s = statistics.median(times) if times else 0.0
    log(f"{wl.name}: job_s median {job_s:.3f} s over {len(times)} calls, "
        f"{wl.rows} input rows")
    return {
        "job_s": job_s,
        "cpu_s": statistics.median(cpus) if cpus else 0.0,
        "rows_per_s": wl.rows / job_s if job_s else 0.0,
        "triple_precision": min(caller.precision or [0.0]),
        "triple_recall": min(caller.recall or [0.0]),
        "ok_frac": 1.0 - caller.failed / caller.attempted,
    }


def measure_traced(caller: Caller, wl) -> dict:
    """Traced: after the warm-up, one call traced and split by layer
    (``trace.job_s``; the untraced runs' ``job_s`` is the same call
    untraced, so the two medians give traced minus untraced), and the
    time the tracer itself spent inside it (``trace.overhead_s``). For
    build_full also a traced refresh of the built output, and a replay of
    the Python kernel."""
    import layertrace as T

    spark = caller.spark
    tracer, stats = T.Tracer(spark), T.SparkStats(spark)
    caller.tracer, caller.stats = tracer, stats
    values: dict = {}
    sampler = RssSampler()
    sampler.start()
    tracer.install()
    try:
        wl.prepare()
        out = caller.call("call 1", wl.run, wl.check, traced=True)
        if out is not None:
            values.update(T.attribute(tracer, T.collect(tracer, stats),
                                      stats, out[0]))
            values["trace.job_s"] = out[0]
            values["trace.overhead_s"] = tracer.overhead_s
        if hasattr(wl, "refresh"):
            wl.prepare_refresh()
            out = caller.call("refresh", wl.refresh, wl.check_refresh,
                              traced=True)
            if out is not None:
                r = T.attribute(tracer, T.collect(tracer, stats), stats,
                                out[0])
                values["incremental_kg.refresh_s"] = out[0]
                values["incremental_kg.affected_part_keys_s"] = \
                    r["incremental_kg.affected_part_keys_s"]
                values["layer.incremental_kg_s"] = r["layer.incremental_kg_s"]
                values.update(wl.refresh_counts(out[2], r["tagger.rows_in"]))
        else:
            values.update({"incremental_kg.refresh_s": 0.0,
                           "checkpoint.parts_skipped": 0,
                           "incremental_kg.parts_recomputed": 0,
                           "incremental_kg.turns_reannotated_per_changed_turn": 0})
    finally:
        tracer.uninstall()
        values["peak_rss_mb"] = sampler.stop()
    batches = wl.kernel_batches()
    if batches:
        values.update(T.kernel_replay(MODEL, batches))
    else:
        values.update({k: 0.0 for k in T.KERNEL_LAYERS})
        values["kernel.turns_per_s_core"] = 0.0
    log_layer_table(wl.name, values)
    return values


def log_layer_table(name: str, v: dict) -> None:
    """The traced call's job_s split by layer, on stderr."""
    job = v.get("trace.job_s", 0.0)
    keys = [k for k in PER_LAYER if k != "layer.incremental_kg_s" and (
        k.startswith("layer.") or (k.endswith("_s") and k.split(".")[0]
                                   in ("kg_graph", "components")))]
    lines = [f"{name}: traced job_s {job:.3f} s, of which the tracer's "
             f"own time {v.get('trace.overhead_s', 0.0):.3f} s"]
    for k in keys + ["unattributed_s"]:
        s = v.get(k, 0.0)
        lines.append(f"  {k:<34} {s:8.3f} s  "
                     f"{100.0 * s / job if job else 0.0:5.1f}%")
    if v.get("incremental_kg.refresh_s"):
        lines.append(f"  refresh (run_incremental, a separate call) "
                     f"{v['incremental_kg.refresh_s']:.3f} s, of which "
                     f"incremental_kg {v['layer.incremental_kg_s']:.3f} s "
                     f"(affected_part_keys "
                     f"{v['incremental_kg.affected_part_keys_s']:.3f} s)")
    log("\n".join(lines))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default",
                    help="input size preset (default, tiny)")
    args = ap.parse_args(argv)

    from workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS or args.size not in SIZES:
        log(f"unknown workload or size; workloads: {sorted(WORKLOADS)}")
        return 2
    if not (os.path.isfile(os.path.join(ROOT, "morra_spark", "__init__.py"))
            and os.path.isfile(MODEL)):
        log(f"no morra_spark package and model under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".bench_data", "perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_log = JvmLog(os.path.join(work, "jvm.log"))
    spark = None
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](work, MODEL, args.seed,
                                      SIZES[args.size])
        # inputs are generated while the session's JVM starts
        gen = Background(wl.generate)
        try:
            spark = start_session(work, jvm_log)
        finally:
            t1 = time.perf_counter()
            wl.inp, wl.warm = gen.result()
        t2 = time.perf_counter()
        wl.spark = spark
        caller = Caller(spark, jvm_log)
        if wl.warm is not None:
            wl.prepare()
            caller.call("warm-up", wl.warmup, wl.check)
        t3 = time.perf_counter()
        setup = {"session_s": t1 - t0, "input_gen_s": gen.seconds,
                 "warmup_s": t3 - t2}
        log("setup: " + ", ".join(f"{k} {v:.2f} s" for k, v in setup.items())
            + " (session start and input generation overlap)")
        if args.trace:
            values = {f"setup.{k}": v for k, v in setup.items()}
            values.update(measure_traced(caller, wl))
            units = PER_LAYER
        else:
            values = {"setup_s": t3 - t0}
            values.update(measure(caller, wl, args.seconds))
            units = END_TO_END
        missing = sorted(set(units) - set(values))
        if missing and not caller.failed:
            raise RuntimeError(f"metrics not measured: {missing}")
        for k in missing:  # a failed call measured nothing; reported below
            values[k] = 0.0
        result = {"correct": caller.correct, "attempted": caller.attempted,
                  "failed": caller.failed,
                  "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                              for k in units}}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
