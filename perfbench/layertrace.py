"""Per-layer tracing for the KG-build benchmark, from outside the program.

Three sources, none of which edits the engine:

* ``Tracer`` — wall-clock spans around calls into each layer's public
  functions. It replaces the function object in every loaded
  ``morra_spark`` module that refers to it, plus
  ``DataFrameWriter.parquet`` (one span per written artifact). Each span
  also sets its own Spark job group, so every job, stage and SQL
  execution is owned by the innermost span that was open when it ran.
* Spark's status stores (``AppStatusStore`` for jobs, stages and tasks;
  ``SQLAppStatusStore`` for per-operator SQL metrics), read after the
  traced call.
* ``kernel_replay`` — the workload's own turn batches run through the
  Python annotate kernel in this process with its public functions
  wrapped by timers.

``attribute`` turns a traced call into seconds per layer; whatever no
layer span covers is reported as ``unattributed_s``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import re
import statistics
import sys
import time
from dataclasses import dataclass, field

# function -> span name; the layer each span counts towards is in LAYER_OF
TRACED = [
    ("morra_spark.plans.pipeline", "load_transcripts", "sources.load_transcripts"),
    ("morra_spark.plans.pipeline", "run_pipeline", "pipeline.run_pipeline"),
    ("morra_spark.plans.checkpoint", "run_stage", "checkpoint.run_stage"),
    ("morra_spark.plans.checkpoint", "read_done_parts", "checkpoint.read_done_parts"),
    ("morra_spark.plans.checkpoint", "write_checkpoint", "checkpoint.write_checkpoint"),
    ("morra_spark.plans.incremental_kg", "affected_part_keys",
     "incremental_kg.affected_part_keys"),
    ("morra_spark.plans.incremental_kg", "run_incremental",
     "incremental_kg.run_incremental"),
    ("morra_spark.plans.kg_report", "run_kg_report", "kg_report.run_kg_report"),
    ("morra_spark.operators.kg_graph", "materialize_graph",
     "kg_graph.materialize_graph"),
    ("morra_spark.operators.components", "kcore", "components.kcore"),
    ("morra_spark.operators.components", "clustering_coefficient",
     "components.clustering"),
    ("morra_spark.operators.components", "hits_scores", "components.hits"),
    ("morra_spark.operators.components", "ktruss", "components.ktruss"),
]

# artifact directory name -> the layer its write job belongs to
WRITE_LAYER = {
    "source=content": "sink",  # split further by operator task time
    "source=tool": "pipeline",  # tool-turn alignment stage
    "checkpoint": "checkpoint",
    "edges": "kg_graph.materialize_graph", "nodes": "kg_graph.materialize_graph",
    "signatures": "kg_graph.audits", "cardinality": "kg_graph.audits",
    "type_conflicts": "kg_graph.audits", "profiles": "kg_graph.audits",
    "degree_hist": "kg_graph.audits", "summary": "kg_graph.audits",
    "kcore2": "components.kcore", "clustering": "components.clustering",
    "hits": "components.hits", "truss3": "components.ktruss",
}

LAYER_OF = {
    "sources.load_transcripts": "sources",
    "pipeline.run_pipeline": "pipeline",
    "checkpoint.run_stage": "checkpoint",
    "checkpoint.read_done_parts": "checkpoint",
    "checkpoint.write_checkpoint": "checkpoint",
    "incremental_kg.affected_part_keys": "incremental_kg",
    "kg_graph.materialize_graph": "kg_graph.materialize_graph",
    "components.kcore": "components.kcore",
    "components.clustering": "components.clustering",
    "components.hits": "components.hits",
    "components.ktruss": "components.ktruss",
}

# the layers job_s is split into (per-layer metric "layer.<name>_s")
LAYERS = ["sources", "tagger", "pipeline", "checkpoint", "incremental_kg",
          "kg_graph.materialize_graph", "kg_graph.audits", "components.kcore",
          "components.clustering", "components.hits", "components.ktruss"]

_TIME_MS = {"ns": 1e-6, "µs": 1e-3, "us": 1e-3, "ms": 1.0, "s": 1e3,
            "m": 6e4, "min": 6e4, "h": 3.6e6}
_NUMBER = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-zµ]*)")
_SIZE_B = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
           "TiB": 1024 ** 4}


def parse_metric(text: str) -> float:
    """A SQL metric as the status store renders it -> number (time in ms,
    size in bytes). Multi-task metrics read 'total (min, med, max ...)\\n
    <total> (...)'; the total is taken."""
    m = _NUMBER.search(text.rsplit("\n", 1)[-1])
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _TIME_MS.get(m.group(2), _SIZE_B.get(m.group(2), 1))


@dataclass
class Span:
    name: str
    parent: int | None
    group: str
    t0: float
    t1: float = 0.0
    children_s: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def self_s(self) -> float:
        return (self.t1 - self.t0) - self.children_s


class Tracer:
    """Span recorder bound to one SparkSession; ``install`` once, then
    ``enabled`` toggles recording (disabled wrappers only forward)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._ids = itertools.count()
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.enabled = False
        self._cost_s = 0.0
        self._restore: list[tuple[object, str, object]] = []

    # -- wrapping ------------------------------------------------------
    def install(self) -> None:
        import importlib

        from pyspark.sql.readwriter import DataFrameWriter

        for mod_name, attr, span_name in TRACED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, lambda *_a, _n=span_name, **_k: _n)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith("morra_spark")
                        and getattr(m, attr, None) is orig):
                    self._restore.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        orig_parquet = DataFrameWriter.parquet
        self._restore.append((DataFrameWriter, "parquet", orig_parquet))
        DataFrameWriter.parquet = self._wrap(
            orig_parquet,
            lambda _self, path, *_a, **_k: "write:" + str(path).rstrip("/")
            .rsplit("/", 1)[-1])

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            setattr(obj, attr, orig)
        self._restore.clear()

    def _wrap(self, fn, name_of):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)

        return wrapper

    @property
    def overhead_s(self) -> float:
        """Time the tracer itself spent inside traced calls (opening and
        closing spans, setting job groups) since the last reset: what
        tracing adds to ``job_s``. Status-store reads happen after the
        call and are not part of it."""
        return self._cost_s

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def _open(self, name: str) -> int:
        t = time.perf_counter()
        idx = len(self.spans)
        group = f"perfbench-span-{next(self._ids)}"
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, parent, group, time.perf_counter()))
        self.stack.append(idx)
        self._set_group(group, name)
        self._cost_s += time.perf_counter() - t
        return idx

    def _close(self, idx: int) -> None:
        s = self.spans[idx]
        s.t1 = time.perf_counter()
        self.stack.pop()
        if s.parent is not None:
            self.spans[s.parent].children_s += s.t1 - s.t0
            p = self.spans[s.parent]
            self._set_group(p.group, p.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self._cost_s += time.perf_counter() - s.t1

    def _set_group(self, group: str, name: str) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", name)

    def reset(self) -> None:
        self.spans.clear()
        self.stack.clear()
        self._cost_s = 0.0


# ---------------------------------------------------------------------------
# Spark status-store readers
# ---------------------------------------------------------------------------

@dataclass
class StageStats:
    run_ms: float = 0.0
    gc_ms: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: float = 0.0
    shuffle_write_ms: float = 0.0
    spill_bytes: float = 0.0
    input_bytes: float = 0.0


class SparkStats:
    """Jobs, stages, tasks and SQL operator metrics for traced spans."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    # Reads go through as few py4j round trips as they can: a Scala
    # collection of ids comes back as one mkString, and a Java list is
    # indexed rather than iterated (each end of a py4j iteration raises
    # an error that costs dozens of round trips to convert).
    def _list(self, seq) -> list:
        jl = self.conv.asJava(seq)
        return [jl.get(i) for i in range(jl.size())]

    @staticmethod
    def _ints(coll) -> list[int]:
        return [int(x) for x in coll.mkString(",").split(",") if x]

    def jobs_of(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages_of(self, job_ids) -> list[int]:
        out: set[int] = set()
        for j in job_ids:
            out.update(self._ints(self.store.job(j).stageIds()))
        return sorted(out)

    def stage(self, sid: int) -> StageStats | None:
        try:
            s = self.store.lastStageAttempt(sid)
        except Exception:  # py4j error: stage skipped, never attempted
            return None
        if s.numCompleteTasks() + s.numFailedTasks() == 0:
            return None  # skipped (its output was reused)
        return StageStats(
            run_ms=s.executorRunTime(), gc_ms=s.jvmGcTime(),
            tasks=s.numCompleteTasks() + s.numFailedTasks(),
            failed_tasks=s.numFailedTasks(),
            shuffle_write_bytes=s.shuffleWriteBytes(),
            shuffle_write_ms=s.shuffleWriteTime() / 1e6,
            spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
            input_bytes=s.inputBytes())

    def task_ms(self, sid: int) -> list[float]:
        s = self.store.lastStageAttempt(sid)
        tasks = self._list(self.store.taskList(sid, s.attemptId(), 1 << 30))
        return [float(t.duration().get()) for t in tasks
                if t.duration().isDefined()]

    def executions_by_job(self) -> dict[int, int]:
        out: dict[int, int] = {}
        for e in self._list(self.sql.executionsList()):
            eid = int(e.executionId())
            for j in self._ints(e.jobs().keys()):
                out[j] = eid
        return out

    def operators(self, execution_id: int) -> list[dict]:
        """[{name, metrics: {name: value}, children: [node]}] per plan
        node of one SQL execution."""
        sep = "\x1f"
        vals = {}  # accumulator id -> rendered value
        for entry in self.sql.executionMetrics(execution_id).mkString(sep) \
                .split(sep):
            if entry:
                k, v = entry.split(" -> ", 1)
                vals[int(k)] = v
        graph = self.sql.planGraph(execution_id)
        nodes, index = [], {}
        for n in self._list(graph.allNodes()):
            metrics = {}
            # SQLPlanMetric(name,accumulatorId,metricType), sep-joined
            for m in n.metrics().mkString(sep).split(sep):
                if m:
                    name, acc, _kind = m[len("SQLPlanMetric("):-1] \
                        .rsplit(",", 2)
                    if int(acc) in vals:
                        metrics[name] = parse_metric(vals[int(acc)])
            index[n.id()] = len(nodes)
            nodes.append({"name": n.name(), "metrics": metrics,
                          "children": []})
        # SparkPlanGraphEdge(fromId,toId)
        for e in graph.edges().mkString(sep).split(sep):
            if e:
                src, dst = (int(x) for x in e[e.index("(") + 1:-1].split(","))
                if dst in index and src in index:
                    nodes[index[dst]]["children"].append(nodes[index[src]])
        return nodes


def _rows_below(node: dict) -> float:
    """Output rows of the nearest descendant that counts rows."""
    todo = list(node["children"])
    while todo:
        n = todo.pop(0)
        if "number of output rows" in n["metrics"]:
            return n["metrics"]["number of output rows"]
        todo.extend(n["children"])
    return 0.0


def collect(tracer: Tracer, stats: SparkStats) -> dict:
    """Per-span jobs plus engine-wide and per-operator numbers for the
    spans recorded since the tracer's last reset."""
    job_span: dict[int, int] = {}
    for i, s in enumerate(tracer.spans):
        s.jobs = stats.jobs_of(s.group)
        for j in s.jobs:
            job_span[j] = i
    exec_of = stats.executions_by_job()
    stages_by_span: dict[int, list[int]] = {}
    stage_cache: dict[int, StageStats | None] = {}
    for i, s in enumerate(tracer.spans):
        sids = stats.stages_of(s.jobs)
        stages_by_span[i] = sids
        for sid in sids:
            if sid not in stage_cache:
                stage_cache[sid] = stats.stage(sid)
    ops_by_span: dict[int, list[dict]] = {}
    seen_exec: set[int] = set()
    for j, i in sorted(job_span.items()):
        e = exec_of.get(j)
        if e is not None and e not in seen_exec:
            seen_exec.add(e)
            ops_by_span.setdefault(i, []).extend(stats.operators(e))
    return {"job_span": job_span, "stages_by_span": stages_by_span,
            "stage": stage_cache, "ops_by_span": ops_by_span}


def _op_sum(nodes, prefix: str, metric: str) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes
               if n["name"].startswith(prefix))


def attribute(tracer: Tracer, data: dict, stats: SparkStats,
              job_s: float) -> dict:
    """Split ``job_s`` of the traced call over LAYERS and gather the
    per-layer counters. The content sink write (scan -> Python annotate
    -> link -> exchange -> partitioned write, one Spark job) is split by
    each operator's share of the job's executor run time."""
    spans = tracer.spans
    layer_s = {name: 0.0 for name in LAYERS}
    counters: dict[str, float] = {}
    all_ops = [n for ops in data["ops_by_span"].values() for n in ops]

    def stage_list(i):
        return [data["stage"][sid] for sid in data["stages_by_span"][i]
                if data["stage"].get(sid) is not None]

    sink_ops: list[dict] = []
    sink_stage_ids: list[int] = []
    for i, s in enumerate(spans):
        if s.name.startswith("write:"):
            layer = WRITE_LAYER.get(s.name[len("write:"):], None)
        else:
            layer = LAYER_OF.get(s.name)
        if layer is None:
            continue  # root / unknown span: its self time is unattributed
        if layer != "sink":
            layer_s[layer] += s.self_s
            continue
        ops = data["ops_by_span"].get(i, [])
        sink_ops.extend(ops)
        sink_stage_ids.extend(data["stages_by_span"][i])
        run_ms = sum(st.run_ms for st in stage_list(i)) or 1.0
        py_ms = (_op_sum(ops, "MapInPandas", "time to run Python workers")
                 + _op_sum(ops, "MapInPandas", "time to initialize Python workers")
                 + _op_sum(ops, "MapInPandas", "time to start Python workers"))
        scan_ms = _op_sum(ops, "Scan", "scan time")
        # the write side: result-stage tasks plus the map side's shuffle
        # write (the salted exchange the sink repartitions by)
        sids = [sid for sid in data["stages_by_span"][i]
                if data["stage"].get(sid) is not None]
        result = data["stage"][max(sids)] if sids else None
        write_ms = ((result.run_ms if result else 0.0)
                    + sum(st.shuffle_write_ms for st in stage_list(i)))
        shares = {"tagger": py_ms, "sources": scan_ms, "checkpoint": write_ms}
        total = sum(shares.values())
        if total > run_ms:  # metrics overlap; never attribute > 100%
            shares = {k: v * run_ms / total for k, v in shares.items()}
        shares["pipeline"] = max(0.0, run_ms - sum(shares.values()))
        for k, v in shares.items():
            layer_s[k] += s.self_s * v / run_ms

    stages = [st for st in data["stage"].values() if st is not None]
    counters["spark.jobs"] = len(data["job_span"])
    counters["spark.tasks"] = sum(st.tasks for st in stages)
    counters["spark.executor_run_ms"] = sum(st.run_ms for st in stages)
    counters["spark.gc_ms"] = sum(st.gc_ms for st in stages)
    counters["spark.shuffle_bytes"] = sum(st.shuffle_write_bytes for st in stages)
    counters["spark.spill_bytes"] = sum(st.spill_bytes for st in stages)
    counters["spark.failed_tasks"] = sum(st.failed_tasks for st in stages)

    counters["sources.scan_ms"] = _op_sum(all_ops, "Scan", "scan time")
    counters["sources.rows_read"] = _op_sum(all_ops, "Scan", "number of output rows")
    counters["sources.bytes_read"] = sum(st.input_bytes for st in stages)

    counters["tagger.python_init_ms"] = (
        _op_sum(sink_ops, "MapInPandas", "time to start Python workers")
        + _op_sum(sink_ops, "MapInPandas", "time to initialize Python workers"))
    counters["tagger.python_total_ms"] = _op_sum(
        sink_ops, "MapInPandas", "time to run Python workers")
    counters["tagger.python_bytes_sent"] = _op_sum(
        sink_ops, "MapInPandas", "data sent to Python workers")
    counters["tagger.python_bytes_received"] = _op_sum(
        sink_ops, "MapInPandas", "data returned from Python workers")
    counters["tagger.rows_in"] = sum(_rows_below(n) for n in sink_ops
                                     if n["name"] == "MapInPandas")
    counters["tagger.rows_out"] = _op_sum(sink_ops, "MapInPandas",
                                          "number of output rows")

    counters["pipeline.link_rows_in"] = max(
        [n["metrics"].get("number of output rows", 0.0) for n in sink_ops
         if n["name"] == "BroadcastHashJoin"] or [0.0])
    counters["pipeline.broadcast_build_ms"] = sum(
        _op_sum(all_ops, "BroadcastExchange", m)
        for m in ("time to collect", "time to build", "time to broadcast"))

    ran_sids = sorted(sid for sid in sink_stage_ids
                      if data["stage"].get(sid) is not None)
    sink_stages = [data["stage"][sid] for sid in ran_sids]
    counters["checkpoint.shuffle_write_bytes"] = sum(
        st.shuffle_write_bytes for st in sink_stages)
    counters["checkpoint.shuffle_write_ms"] = sum(
        st.shuffle_write_ms for st in sink_stages)
    # hot-conversation skew: the busiest stage before the write (the one
    # the Python annotate runs in) and the write stage after the salted
    # exchange (which AQE may coalesce into a single task on small inputs)
    busiest = sorted(ran_sids[:-1], key=lambda sid: data["stage"][sid].run_ms)
    for key, sids in (("tagger.task_ms", busiest[-1:]),
                      ("checkpoint.write_task_ms", ran_sids[-1:])):
        task_ms = stats.task_ms(sids[0]) if sids else []
        counters[f"{key}_max"] = max(task_ms or [0.0])
        counters[f"{key}_median"] = (statistics.median(task_ms)
                                     if task_ms else 0.0)
    sink_writes = [n for n in sink_ops
                   if n["name"].startswith("Execute InsertIntoHadoopFsRelation")]
    counters["checkpoint.files_written"] = sum(
        n["metrics"].get("number of written files", 0.0) for n in sink_writes)
    rows = sum(n["metrics"].get("number of output rows", 0.0) for n in sink_writes)
    counters["checkpoint.output_bytes_per_triple"] = (
        sum(n["metrics"].get("written output", 0.0) for n in sink_writes) / rows
        if rows else 0.0)

    # the operators' own spans, plus the writes of their final plans
    comp_jobs = sum(len(s.jobs) for s in spans
                    if s.name.startswith("components.")
                    or WRITE_LAYER.get(s.name[len("write:"):], "")
                    .startswith("components."))
    counters["components.jobs"] = comp_jobs
    for name in ("kg_graph.materialize_graph", "kg_graph.audits",
                 "components.kcore", "components.clustering",
                 "components.hits", "components.ktruss"):
        counters[f"{name}_s"] = layer_s[name]
    counters["incremental_kg.affected_part_keys_s"] = sum(
        s.t1 - s.t0 for s in spans
        if s.name == "incremental_kg.affected_part_keys")

    attributed = sum(layer_s.values())
    for name in ("sources", "tagger", "pipeline", "checkpoint",
                 "incremental_kg"):
        counters[f"layer.{name}_s"] = layer_s[name]
    counters["unattributed_s"] = job_s - attributed
    return counters


# ---------------------------------------------------------------------------
# Python kernel replay
# ---------------------------------------------------------------------------

KERNEL_LAYERS = ["tokenizer.tokenize_ms", "features_fast.pos_features_ms",
                 "perceptron.pos_decode_ms", "features_fast.lemma_ms",
                 "features_fast.ner_features_ms", "perceptron.ner_decode_ms",
                 "spans.assemble_ms"]


def kernel_replay(model_path: str, batches, min_seconds: float = 1.0) -> dict:
    """Run the annotate kernel (``tagger._annotate_pdf``, triples only —
    what the sink's Python stage runs per Arrow batch) over ``batches``
    in this process, repeating until ``min_seconds`` have passed, with
    each layer's public functions wrapped by timers. Returns ms per 1k
    turns per layer and the whole kernel's turns/s on one core."""
    from morra_spark.model_artifact import KGModel
    from morra_spark.operators import features_fast as FF
    from morra_spark.operators import tagger
    from morra_spark.operators.perceptron import PerceptronModel

    model = KGModel.load(model_path)
    pos_models = {id(m) for m in (model.pos, getattr(model, "pos_rev", None),
                                  getattr(model, "pos2", None)) if m is not None}
    acc = {k: 0.0 for k in KERNEL_LAYERS}

    def timed(fn, key_of):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                acc[key_of(*args)] += time.perf_counter() - t
        return wrapper

    def decode_key(self, *_a):
        return ("perceptron.pos_decode_ms" if id(self) in pos_models
                else "perceptron.ner_decode_ms")

    patches = [
        (tagger, "tokenize_one", lambda *_: "tokenizer.tokenize_ms"),
        (tagger, "assemble_batch", lambda *_: "spans.assemble_ms"),
        (FF, "BatchFeatures", lambda *_: "features_fast.pos_features_ms"),
        (FF, "pos_feature_ids", lambda *_: "features_fast.pos_features_ms"),
        (FF, "lemmatize_fast", lambda *_: "features_fast.lemma_ms"),
        (FF, "class_row_tables", lambda *_: "features_fast.ner_features_ms"),
        (FF, "tag_context_ids", lambda *_: "features_fast.ner_features_ms"),
        (FF, "ner_feature_ids", lambda *_: "features_fast.ner_features_ms"),
        (PerceptronModel, "static_scores", decode_key),
        (PerceptronModel, "decode_batch", decode_key),
    ]
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
    turns = 0
    total = 0.0
    try:
        for obj, name, key in patches:
            setattr(obj, name, timed(getattr(obj, name), key))
        t_end = time.perf_counter() + min_seconds
        while True:
            for pdf in batches:
                t = time.perf_counter()
                tagger._annotate_pdf(pdf, model, triples_only=True)
                total += time.perf_counter() - t
                turns += len(pdf)
            if time.perf_counter() >= t_end or not turns:
                break
    finally:
        for obj, name, orig in saved:
            setattr(obj, name, orig)
    per_k = 1000.0 / turns if turns else 0.0
    out = {k: v * 1e3 * per_k for k, v in acc.items()}
    out["kernel.turns_per_s_core"] = turns / total if total else 0.0
    return out
