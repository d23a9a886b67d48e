"""Seeded input generation for the KG-build benchmark.

Every table the workloads read is derived from ``--seed`` alone, so the
same seed always yields byte-identical inputs and known gold:

* ``corpus`` — a v1 transcript corpus (the rows
  ``morra_spark.fixtures.gen_full`` yields) and its gold triples, and
  ``refresh_corpus`` — a v2 derived from it by changing, adding and
  removing a few conversations, each in its own ``part_key``, and its
  gold. Both versions also hold a few hot conversations of a fixed
  length (the heavy tail ``gen_full``'s ``hot_frac`` draws per seed), so
  the sink's skew is the same for every seed;
* ``zipf_triples`` — a triple table whose subject/object degrees follow a
  Zipf law over an entity vocabulary far larger than the fixture
  lexicon's (one fixed graph shape, relabelled by the seed), with the
  distinct (subj, pred, obj) set and node set counted here,
  independently of the engine.

Transcripts are written as 64 hash-distributed parquet files, the layout
``bench.py`` uses, so the scan has real row-group parallelism.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
N_FILES = 64
N_PARTS = 64  # run_pipeline / run_incremental default part_key count
GOLD_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj"]
TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC"))])


def _write_files(pdf: pd.DataFrame, path: str, n_files: int, key: str,
                 schema: pa.Schema | None = None) -> None:
    """Write ``pdf`` as ``n_files`` parquet files split by a stable hash of
    ``key`` (row order inside a file follows ``pdf``), all with one schema
    (a file whose nullable column is all null must not become INT32)."""
    os.makedirs(path, exist_ok=True)
    if schema is None:
        schema = pa.Schema.from_pandas(pdf, preserve_index=False)
    bucket = pd.util.hash_pandas_object(pdf[key], index=False).to_numpy() % n_files
    for b in range(n_files):
        part = pa.Table.from_pandas(pdf[bucket == b], schema=schema,
                                    preserve_index=False)
        pq.write_table(part, os.path.join(path, f"part-{b:05d}.parquet"))


def _gold(turns: pd.DataFrame) -> pd.DataFrame:
    rows = [(c, t, g["subj"], g["pred"], g["obj"])
            for c, t, gs in zip(turns["conv_id"], turns["turn_idx"],
                                turns["g_triples"])
            for g in gs]
    return pd.DataFrame(rows, columns=GOLD_COLS)


def _gen_full_rows(lex, conv_ids, seed: int, hot_frac: float) -> list:
    """The rows ``fixtures.gen_full`` yields for ``conv_ids`` (it maps
    ``_gen_conversation`` over the conversation ids), with gen_full's own
    defaults for every other knob, made in this process: as a Spark job
    they would add a job and a Python worker start-up to every run's
    set-up."""
    import inspect

    from morra_spark.fixtures import _gen_conversation, gen_full

    knobs = inspect.signature(gen_full).parameters
    gap_frac, avg_len = knobs["gap_frac"].default, knobs["avg_len"].default
    return [r for i in conv_ids
            for r in _gen_conversation(lex, i, seed, hot_frac=hot_frac,
                                       gap_frac=gap_frac, avg_len=avg_len)]


HOT_ID0 = 90_000_000  # hot conversations: c90000000, c90000001, ...


def _hot_rows(lex, seed: int, n_hot: int, hot_turns: int) -> list:
    """``n_hot`` heavy-tail conversations of exactly ``hot_turns`` content
    turns each (tool turns ride along as the generator inserts them).

    gen_full draws a hot conversation's length from a seeded heavy tail,
    so its size would differ per seed; here each hot conversation chains
    ordinary generated conversations (turn_idx and ts continued) and is
    cut after its ``hot_turns``-th content turn, so the skew is the same
    for every seed while the text is the seed's."""
    rows: list = []
    piece = HOT_ID0
    for h in range(n_hot):
        conv_id = f"c{HOT_ID0 + h:08d}"
        content = next_idx = 0
        ts = None
        while content < hot_turns:
            piece += 1
            part = _gen_full_rows(lex, [piece], seed, 0.0)
            shift = (pd.Timedelta(0) if ts is None
                     else ts - part[0]["ts"] + pd.Timedelta(seconds=30))
            base = next_idx
            for r in part:
                if content == hot_turns:
                    break
                r = dict(r, conv_id=conv_id, turn_idx=base + r["turn_idx"],
                         ts=r["ts"] + shift)
                rows.append(r)
                content += r["role"] != "tool"
                next_idx, ts = r["turn_idx"] + 1, r["ts"]
    return rows


def _frame(rows: list) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=TRANSCRIPT_COLS + ["g_triples"])
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
    return pdf


def _part_keys(spark, conv_ids: list[str]) -> dict[str, int]:
    from morra_spark.plans.checkpoint import add_part_key

    df = spark.createDataFrame(pd.DataFrame({"conv_id": conv_ids}))
    return {r.conv_id: r.part_key
            for r in add_part_key(df, N_PARTS).collect()}


def _write_version(pdf: pd.DataFrame, out: str, name: str) -> dict:
    paths = {f"{name}_transcripts": f"{out}/{name}/transcripts",
             f"{name}_gold": f"{out}/{name}/gold_triples"}
    _write_files(pdf[TRANSCRIPT_COLS], paths[f"{name}_transcripts"], N_FILES,
                 "conv_id", TRANSCRIPT_SCHEMA)
    _write_files(_gold(pdf), paths[f"{name}_gold"], 4, "conv_id")
    return paths


def corpus(out: str, *, n_convs: int, seed: int, n_hot: int = 0,
           hot_turns: int = 0) -> dict:
    """Write a v1 corpus of ``n_convs`` ordinary and ``n_hot`` hot
    conversations and its gold under ``out``. Needs no Spark session."""
    from morra_spark.grammar import Lexicon

    lex = Lexicon(seed=seed)
    v1 = pd.concat([_frame(_gen_full_rows(lex, range(n_convs), seed, 0.0)),
                    _frame(_hot_rows(lex, seed, n_hot, hot_turns))],
                   ignore_index=True)
    return {**_write_version(v1, out, "v1"), "v1_turns": len(v1),
            "v1_frame": v1, "out": out, "n_convs": n_convs, "seed": seed}


def refresh_corpus(spark, v1: dict, *, n_changed: int = 3, n_added: int = 1,
                   n_removed: int = 1) -> dict:
    """Derive and write a v2 of the ``corpus`` ``v1``; return its paths
    and the expected change set.

    The generator makes ``n_added + n_changed`` more ordinary
    conversations after v1's: the first ``n_added`` are added in v2 under
    their own ids, the rest become the new content of ``n_changed``
    existing conversations. Changed, added and removed conversations each
    sit in a distinct part_key (the sink's ``pmod(xxhash64(conv_id), 64)``)
    that no hot conversation uses, so exactly ``n_changed + n_added +
    n_removed`` of the 64 partitions differ."""
    from morra_spark.grammar import Lexicon

    n_convs, seed = v1["n_convs"], v1["seed"]
    frame = v1["v1_frame"]
    extra = _frame(_gen_full_rows(Lexicon(seed=seed),
                                  range(n_convs, n_convs + n_added + n_changed),
                                  seed, 0.0))
    ids = sorted(extra["conv_id"].unique())
    added_ids, fresh_ids = ids[:n_added], ids[n_added:]
    ordinary = [f"c{i:08d}" for i in range(n_convs)]
    hot_ids = sorted(set(frame["conv_id"]) - set(ordinary))
    pk = _part_keys(spark, ordinary + added_ids + hot_ids)
    used = {pk[c] for c in added_ids + hot_ids}
    if len(used) < n_added + len(hot_ids):
        raise RuntimeError("added or hot conversations share a part_key")
    random.Random(seed).shuffle(ordinary)
    picked: list[str] = []
    for c in ordinary:
        if len(picked) == n_changed + n_removed:
            break
        if pk[c] not in used:
            used.add(pk[c])
            picked.append(c)
    changed_ids, removed_ids = picked[:n_changed], picked[n_changed:]

    fresh = extra[extra["conv_id"].isin(fresh_ids)]
    fresh = fresh.assign(conv_id=fresh["conv_id"].map(
        dict(zip(fresh_ids, changed_ids))))
    v2 = pd.concat([frame[~frame["conv_id"].isin(changed_ids + removed_ids)],
                    extra[extra["conv_id"].isin(added_ids)], fresh],
                   ignore_index=True).sort_values(["conv_id", "turn_idx"],
                                                  ignore_index=True)
    new_turns = v2[v2["conv_id"].isin(changed_ids + added_ids)]
    return {
        **_write_version(v2, v1["out"], "v2"),
        "v2_turns": len(v2),
        "affected_part_keys": sorted(pk[c] for c in picked + added_ids),
        # content turns whose text is new in v2: what a refresh must
        # re-annotate at minimum
        "changed_turns": int((new_turns["role"] != "tool").sum()),
    }


ENTITY_TYPES = ["Person", "Org", "Location", "Product"]
SHAPE_SEED = 20261017  # the report graph's shape; --seed relabels it


def zipf_triples(out: str, *, n_triples: int, n_entities: int,
                 n_preds: int, seed: int, exponent: float = 1.1) -> dict:
    """Write a triple table in the pipeline sink's column layout whose
    endpoint degrees are Zipf(``exponent``)-skewed over ``n_entities``
    entities; return its path and the counts computed here.

    The graph's shape comes from a fixed seed and ``seed`` permutes the
    entity and predicate names and the row order: every seed gives an
    isomorphic graph, so the iterative operators run the same number of
    rounds on the same amount of data and ``job_s`` stays comparable
    across seeds, while names, hashing and file layout change."""
    shape = np.random.default_rng(SHAPE_SEED)
    w = 1.0 / np.arange(1, n_entities + 1) ** exponent
    w /= w.sum()
    s = shape.choice(n_entities, n_triples, p=w)
    o = shape.choice(n_entities, n_triples, p=w)
    p = shape.zipf(2.0, n_triples) % n_preds
    types = np.array(ENTITY_TYPES, dtype=object)[
        np.arange(n_entities) % len(ENTITY_TYPES)]

    label = np.random.default_rng(seed)
    names = np.array([f"ent{i:06d}" for i in label.permutation(n_entities)],
                     dtype=object)
    preds = np.array([f"rel_{i:03d}" for i in label.permutation(n_preds)],
                     dtype=object)
    order = label.permutation(n_triples)
    s, o, p = s[order], o[order], p[order]
    conv = np.arange(n_triples) // 8
    pdf = pd.DataFrame({
        "conv_id": [f"z{c:08d}" for c in conv],
        "turn_idx": (np.arange(n_triples) % 8).astype(np.int32),
        "subj": names[s], "pred": preds[p], "obj": names[o],
        "subj_ne": types[s], "obj_ne": types[o],
    })
    path = f"{out}/triples"
    _write_files(pdf, path, 16, "conv_id")
    edges = set(zip(pdf["subj"], pdf["pred"], pdf["obj"]))
    nodes = set(pdf["subj"]) | set(pdf["obj"])
    return {"triples_path": path, "n_triples": n_triples,
            "edges": edges, "n_edges": len(edges), "n_nodes": len(nodes)}
