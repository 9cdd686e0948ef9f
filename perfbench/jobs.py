"""The three benchmarked jobs: what one pass runs, and how its output is
checked.

Each workload supplies

- ``make(seed, n)``: the seeded input (an Arrow table, plus a plant
  manifest for the corpus);
- ``run(spark, in_path, out_dir)``: one pass of the job as users run it,
  from reading the input to the durable result;
- ``check(ctx, out_dir)``: a list of problems with that pass's output
  (empty when correct);
- optionally ``prepare`` (reference results computed once per run) and
  ``warm`` (a lighter warm-up pass than ``run``).

Checks read the written files with pyarrow and DuckDB in the driver
process, never through Spark, so a check cannot share a defect with the
job it checks.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

# the run_extract.py CLI defaults
N_BUCKETS = 64
BATCH_BUCKETS = 8
ORACLE_CONVS = 24  # sampled conversations checked against the oracle


@dataclass
class Ctx:
    """What a check needs to know about the input of the run."""

    table: pa.Table
    plants: dict = field(default_factory=dict)
    oracle: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int           # input rows of a measured pass
    warm_rows: int      # input rows of the warm-up pass
    make: Callable
    run: Callable
    check: Callable
    prepare: Callable = None   # builds Ctx.oracle once per run
    warm: Callable = None      # the warm-up pass, when not ``run``
    route_documents: bool = False


def _noplants(fn):
    return lambda seed, n: (fn(seed, n), {})


def text_bytes(table: pa.Table) -> int:
    return int(pc.sum(pc.binary_length(
        table.column("text").cast(pa.binary()))).as_py() or 0)


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _keys(table: pa.Table) -> np.ndarray:
    conv = table.column("conv_id").to_numpy(zero_copy_only=False)
    turn = table.column("turn_idx").to_numpy(zero_copy_only=False)
    return np.array([f"{c}\x1f{t}" for c, t in zip(conv, turn)],
                    dtype=object)


def _one_row_per_key(ctx: Ctx, out: pa.Table) -> list[str]:
    got, want = _keys(out), _keys(ctx.table)
    if len(got) != len(want):
        return [f"{len(got)} output rows for {len(want)} input turns"]
    if not np.array_equal(np.sort(got), np.sort(want)):
        return ["output keys differ from input (conv_id, turn_idx) keys"]
    return []


# ---------------------------------------------------------------------------
# mixed-ordered: extract(route_documents=True) -> write_ordered(parquet)

def run_mixed(spark, in_path: str, out_dir: str) -> None:
    from sparkocr import engine, sources

    df = spark.read.parquet(in_path)
    out = engine.SparkOcrEngine(spark).extract(df, route_documents=True)
    sources.write_ordered(out, out_dir, fmt="parquet")


def _block_tuple(b) -> tuple:
    get = b.get if isinstance(b, dict) else lambda k: getattr(b, k)
    return (get("pos"), get("text"), float(np.float32(get("confidence"))),
            get("block_type"), get("left"), get("top"), get("width"),
            get("height"), get("start"), get("end"))


def prepare_mixed(table: pa.Table, seed: int) -> dict:
    """Per-turn oracle (``pipeline.extract_turn_auto``) results for a
    seeded sample of conversations that always includes the whale."""
    from sparkocr.config import FLAGSHIP_CONFIG
    from sparkocr.pipeline import extract_turn_auto

    conv = table.column("conv_id")
    counts = pc.value_counts(conv).to_pylist()
    counts.sort(key=lambda d: (-d["counts"], d["values"]))
    others = sorted(d["values"] for d in counts[1:])
    rng = np.random.default_rng([seed, 99])
    pick = rng.choice(len(others), min(ORACLE_CONVS, len(others)),
                      replace=False)
    sample = {counts[0]["values"]} | {others[i] for i in pick}
    rows = table.filter(pc.is_in(conv, pa.array(sorted(sample))))
    oracle = {}
    for r in rows.select(["conv_id", "turn_idx", "role", "text"]).to_pylist():
        res = extract_turn_auto(r["text"], r["role"], FLAGSHIP_CONFIG)
        oracle[(r["conv_id"], r["turn_idx"])] = (
            [_block_tuple(b) for b in res.blocks], res.full_text,
            res.error_code)
    return oracle


def check_mixed(ctx: Ctx, out_dir: str) -> list[str]:
    files = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    if not files:
        return ["no output files"]
    problems: list[str] = []
    parts = [pq.read_table(f) for f in files]
    out = pa.concat_tables(parts)
    problems += _one_row_per_key(ctx, out)
    # files in name order, rows in file order: non-decreasing keys
    conv = out.column("conv_id").to_numpy(zero_copy_only=False)
    turn = out.column("turn_idx").to_numpy(zero_copy_only=False)
    if len(conv) > 1:
        ok = (conv[1:] > conv[:-1]) | ((conv[1:] == conv[:-1])
                                       & (turn[1:] >= turn[:-1]))
        if not ok.all():
            problems.append(f"{int((~ok).sum())} out-of-order rows")
    sample = out.filter(pc.is_in(
        out.column("conv_id"),
        pa.array(sorted({k[0] for k in ctx.oracle}))))
    seen = 0
    for r in sample.to_pylist():
        want = ctx.oracle.get((r["conv_id"], r["turn_idx"]))
        got = ([_block_tuple(b) for b in r["blocks"] or []],
               r["full_text"], r["error_code"])
        seen += 1
        if got != want:
            problems.append(
                f"oracle mismatch at {r['conv_id']}/{r['turn_idx']}")
            break
    if seen != len(ctx.oracle):
        problems.append(f"oracle sample: {seen} of {len(ctx.oracle)} rows")
    return problems


# ---------------------------------------------------------------------------
# chat-checkpointed: checkpoint.run_checkpointed with the CLI layout

def run_chat(spark, in_path: str, out_dir: str) -> None:
    from sparkocr.checkpoint import run_checkpointed
    from sparkocr.config import FLAGSHIP_CONFIG

    df = spark.read.parquet(in_path)
    run_checkpointed(spark, df, out_dir, input_path=in_path,
                     config=FLAGSHIP_CONFIG, n_buckets=N_BUCKETS,
                     batch_buckets=BATCH_BUCKETS)


def ledger(out_dir: str) -> list[dict]:
    out = []
    for p in glob.glob(os.path.join(out_dir, "_ledger", "bucket=*.json")):
        with open(p) as f:
            out.append(json.load(f))
    return sorted(out, key=lambda e: e["bucket"])


def check_chat(ctx: Ctx, out_dir: str) -> list[str]:
    problems: list[str] = []
    entries = ledger(out_dir)
    buckets = [e["bucket"] for e in entries]
    if buckets != list(range(N_BUCKETS)):
        problems.append(f"ledger holds {len(buckets)} of {N_BUCKETS} buckets")
    n_turns = sum(e["n_turns"] for e in entries)
    if n_turns != ctx.table.num_rows:
        problems.append(f"ledger n_turns {n_turns} != {ctx.table.num_rows}")
    out = pq.read_table(os.path.join(out_dir, "data"),
                        columns=["conv_id", "turn_idx"])
    return problems + _one_row_per_key(ctx, out)


# ---------------------------------------------------------------------------
# corpus-build: corpus.build_training_corpus(with_funnel=True), every
# output written as parquet as scripts/run_corpus_build.py does

FUNNEL = ("input", "boilerplate_strip", "substr_dedup", "quality_gate",
          "exact_dedup")


def run_corpus(spark, in_path: str, out_dir: str) -> None:
    from sparkocr.corpus import build_training_corpus

    docs = spark.read.parquet(in_path)
    out = build_training_corpus(docs, with_funnel=True)
    for name, frame in out.items():
        frame.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    # the CLI reads the funnel back to report it
    spark.read.parquet(os.path.join(out_dir, "funnel")) \
        .orderBy("stage_idx").collect()


def warm_corpus(spark, in_path: str, out_dir: str) -> None:
    """The corpus warm-up pass: the same build, without the funnel
    counts, writing the documents output only. It runs the same
    operators and pins in about a third of the full job's ~45 Spark
    jobs, and those jobs, not the rows, set a pass's cost at this
    size."""
    from sparkocr.corpus import build_training_corpus

    docs = spark.read.parquet(in_path)
    build_training_corpus(docs)["documents"].write.mode("overwrite") \
        .parquet(os.path.join(out_dir, "documents"))


def read_funnel(out_dir: str) -> dict[str, int]:
    t = pq.read_table(os.path.join(out_dir, "funnel")).to_pylist()
    return {r["stage"]: r["n"] for r in sorted(t, key=lambda r: r["stage_idx"])}


def check_corpus(ctx: Ctx, out_dir: str) -> list[str]:
    import duckdb

    plants = ctx.plants
    problems: list[str] = []
    funnel = read_funnel(out_dir)
    if tuple(funnel) != FUNNEL:
        return [f"funnel stages {list(funnel)}"]
    n = [funnel[s] for s in FUNNEL]
    # boilerplate_strip drops exactly the null-text documents;
    # substr_dedup rewrites text and keeps every document by contract,
    # so its removals are checked per planted passage below
    if n[1] != n[0] - len(plants["null_text"]) or n[1] >= n[0]:
        problems.append(f"boilerplate_strip kept {n[1]} of {n[0]}")
    if n[2] != n[1]:
        problems.append(f"substr_dedup changed the document count {n[1]}->{n[2]}")
    if not n[3] < n[2]:
        problems.append("quality_gate removed no document")
    if not n[4] < n[3]:
        problems.append("exact_dedup removed no document")

    docs = pq.read_table(os.path.join(out_dir, "documents"),
                         columns=["doc_id", "text"])
    if docs.num_rows != n[4]:
        problems.append(f"documents {docs.num_rows} != funnel {n[4]}")
    ids = set(docs.column("doc_id").to_pylist())
    texts = docs.column("text").to_pylist()
    lines = {ln for t in texts for ln in t.split("\n")}
    if lines & set(plants["boiler_lines"]):
        problems.append("a planted boilerplate line survived")
    for p in plants["passages"]:
        if sum(p in t for t in texts) > 1:
            problems.append("a planted repeated passage survived twice")
            break
    paras: dict[str, int] = {}
    for t in texts:
        for para in set(t.split("\n\n")):
            paras[para] = paras.get(para, 0) + 1
    if any(paras.get(p, 0) > 1 for p in plants["dup_paras"]):
        problems.append("a planted duplicate paragraph survived twice")
    if ids & set(plants["low_quality"]):
        problems.append("a planted low-quality document survived")

    # exact dedup: the keeper of every planted duplicate group, as
    # DuckDB recomputes it from the input, survives; no other member
    # does; and no two surviving documents share a text
    members = [d for g in plants["exact_groups"] for d in g]
    inp = ctx.table.select(["doc_id", "text"])
    con = duckdb.connect()
    con.register("inp", inp)
    con.register("docs", docs)
    con.register("members", pa.table({"doc_id": pa.array(members, pa.int64())}))
    keepers = {r[0] for r in con.execute(
        "SELECT min(doc_id) FROM inp WHERE doc_id IN (SELECT doc_id FROM "
        "members) GROUP BY md5(text)").fetchall()}
    if not keepers <= ids:
        problems.append(f"{len(keepers - ids)} exact-dedup keepers missing")
    if (set(members) - keepers) & ids:
        problems.append("a non-keeper exact duplicate survived")
    dup = con.execute("SELECT count(*) FROM (SELECT md5(text) FROM docs "
                      "GROUP BY 1 HAVING count(*) > 1)").fetchone()[0]
    if dup:
        problems.append(f"{dup} duplicate texts in the documents output")
    packed = pq.read_table(os.path.join(out_dir, "packed"), columns=["id"])
    if sorted(packed.column("id").to_pylist()) != sorted(ids):
        problems.append("packed ids differ from the documents output")
    con.close()
    return problems


WORKLOADS = {
    "mixed-ordered": Workload(
        "mixed-ordered", rows=20_000, warm_rows=1_024,
        make=_noplants(gen.mixed_turns), run=run_mixed, check=check_mixed,
        prepare=prepare_mixed, route_documents=True),
    "chat-checkpointed": Workload(
        "chat-checkpointed", rows=20_000, warm_rows=1_024,
        make=_noplants(gen.chat_turns), run=run_chat, check=check_chat),
    "corpus-build": Workload(
        "corpus-build", rows=2_000, warm_rows=200,
        make=gen.corpus_docs, run=run_corpus, check=check_corpus,
        warm=warm_corpus),
}
