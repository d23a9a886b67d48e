"""The benchmark's workloads: set-up (input generation and, for
build_full, an untimed warm-up call on a small input, both in
``setup_s``), calls into a production entry point (timed as ``job_s``)
and the check of each output.

* ``build_full`` — ``run_pipeline`` into a fresh output directory over a
  ``fixtures.gen_full`` corpus. Its traced run also refreshes the built
  output with ``run_incremental`` to a v2 corpus that differs in a few
  conversations, which measures the ``incremental_kg`` layer.
* ``report_structure`` — ``run_kg_report(structure=True)`` over a
  Zipf-skewed triple table.

build_full's warm-up call runs the same plans on a small input first, so
the timed calls find the JVM's JIT, Spark's generated code, the Python
workers and the model already warm: a first call in a fresh session pays
that start-up once and varies far more from run to run.
report_structure has no warm-up: its ~220 Spark jobs cost about the same
on a small input as on the real one (~40 s cold, ~30 s warm on 4 vCPUs),
so a warm-up would add ~40 s to each of the benchmark's runs, more than
the run budget holds. Its ``job_s`` is the first call in a fresh session,
as a ``spark-submit`` of the report pays it.
"""

from __future__ import annotations

import shutil

from inputs import N_PARTS, corpus, refresh_corpus, zipf_triples

SIZES = {
    # ~12 turns per ordinary conversation plus hot conversations of
    # hot_turns content turns; triples over a 3k-entity vocabulary; the
    # warm_convs is the build warm-up call's input
    "default": {"convs": 4000, "hot": 3, "hot_turns": 1500,
                "warm_convs": 100,
                "triples": 12000, "entities": 3000, "preds": 40},
    # smoke-test size: every code path, a fraction of the time
    "tiny": {"convs": 120, "hot": 1, "hot_turns": 60, "warm_convs": 40,
             "triples": 600, "entities": 200, "preds": 8},
}


class _Workload:
    """``generate`` needs no Spark session (it runs in a child process
    while the session starts) and returns the ``(inp, warm)`` inputs the
    caller sets on the workload (``warm`` is None if the workload has no
    warm-up call); ``spark`` is set before the first call."""

    def __init__(self, work: str, model_path: str, seed: int,
                 size: dict) -> None:
        self.spark = None
        self.work, self.model_path = work, model_path
        self.seed, self.size = seed, size
        self.n_calls = 0
        self.out_dir = None

    def prepare(self) -> None:
        """Untimed: drop the last call's output (the warm-up's too); a
        fresh directory for the next call."""
        self.cleanup()
        self.n_calls += 1
        self.out_dir = f"{self.work}/out_{self.n_calls}"

    def cleanup(self) -> None:
        if self.out_dir:
            shutil.rmtree(self.out_dir, ignore_errors=True)


class Build(_Workload):
    name = "build_full"

    def generate(self) -> tuple[dict, dict]:
        size = self.size
        return (corpus(f"{self.work}/in", n_convs=size["convs"],
                       n_hot=size["hot"], hot_turns=size["hot_turns"],
                       seed=self.seed),
                corpus(f"{self.work}/warm", n_convs=size["warm_convs"],
                       seed=self.seed))

    @property
    def rows(self) -> int:
        return self.inp["v1_turns"]

    def _run(self, inp: dict) -> dict:
        from morra_spark.plans.pipeline import run_pipeline

        self.checked = inp
        return run_pipeline(self.spark, transcripts_path=inp["v1_transcripts"],
                            out_dir=self.out_dir, model_path=self.model_path)

    def warmup(self) -> dict:
        return self._run(self.warm)

    def run(self) -> dict:
        return self._run(self.inp)

    def _pr(self, gold: str) -> dict:
        from morra_spark.plans.evaluate import triple_pr

        return triple_pr(self.spark.read.parquet(f"{self.out_dir}/triples"),
                         self.spark.read.parquet(gold))

    def check(self, res: dict) -> dict:
        """P/R of the triple table against the generator's gold."""
        pr = self._pr(self.checked["v1_gold"])
        problems = ([] if res["n_triples"] == pr["n_pred"]
                    else ["n_triples disagrees with the written table"])
        return {"precision": pr["precision"], "recall": pr["recall"],
                "problems": problems}

    def prepare_refresh(self) -> None:
        """Untimed: write the v2 corpus a refresh reads."""
        self.inp.update(refresh_corpus(self.spark, self.inp))

    def refresh(self) -> dict:
        """Bring the last call's output up to v2 in place."""
        from morra_spark.plans.incremental_kg import run_incremental

        return run_incremental(
            self.spark, old_transcripts_path=self.inp["v1_transcripts"],
            new_transcripts_path=self.inp["v2_transcripts"],
            out_dir=self.out_dir, model_path=self.model_path)

    def check_refresh(self, res: dict) -> dict:
        """P/R against the v2 gold, and the partitions the refresh chose
        against the generator's change set."""
        pr = self._pr(self.inp["v2_gold"])
        problems = []
        if res["affected_part_keys"] != self.inp["affected_part_keys"]:
            problems.append(f"affected part_keys {res['affected_part_keys']}"
                            f" != {self.inp['affected_part_keys']}")
        return {"precision": pr["precision"], "recall": pr["recall"],
                "problems": problems}

    def refresh_counts(self, res: dict, tagger_rows_in: float) -> dict:
        n = len(res["affected_part_keys"])
        return {
            "checkpoint.parts_skipped": N_PARTS - n,
            "incremental_kg.parts_recomputed": n,
            "incremental_kg.turns_reannotated_per_changed_turn":
                tagger_rows_in / max(1, self.inp["changed_turns"]),
        }

    def kernel_batches(self, batch_rows: int = 16000) -> list:
        """The build's content turns in Arrow-sized batches (the
        ``maxRecordsPerBatch`` the session sets)."""
        v1 = self.inp["v1_frame"]
        turns = v1[v1["role"] != "tool"][["conv_id", "turn_idx", "text"]]
        turns = turns.reset_index(drop=True)
        return [turns.iloc[i:i + batch_rows]
                for i in range(0, len(turns), batch_rows)]


class Report(_Workload):
    name = "report_structure"

    def generate(self) -> tuple[dict, None]:
        size = self.size
        return zipf_triples(f"{self.work}/in", n_triples=size["triples"],
                            n_entities=size["entities"],
                            n_preds=size["preds"], seed=self.seed), None

    @property
    def rows(self) -> int:
        return self.inp["n_triples"]

    def run(self) -> dict:
        from morra_spark.plans.kg_report import run_kg_report

        return run_kg_report(self.spark, triples_path=self.inp["triples_path"],
                             out_dir=self.out_dir, structure=True)

    def check(self, res: dict) -> dict:
        """Summary counts against the generator's own, and the written
        edge set against the distinct input triples."""
        import pyarrow.parquet as pq

        edges = pq.read_table(f"{self.out_dir}/edges",
                              columns=["subj", "pred", "obj"])
        got = set(zip(*(edges.column(c).to_pylist()
                        for c in ("subj", "pred", "obj"))))
        want = self.inp["edges"]
        tp = len(got & want)
        problems = [f"{k} {res[k]} != {self.inp[k]}"
                    for k in ("n_triples", "n_edges", "n_nodes")
                    if res[k] != self.inp[k]]
        return {"precision": tp / len(got) if got else 0.0,
                "recall": tp / len(want) if want else 0.0,
                "problems": problems}

    def kernel_batches(self) -> list:
        return []  # no Python kernel in this workload


WORKLOADS = {w.name: w for w in (Build, Report)}
