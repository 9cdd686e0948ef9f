"""Per-layer probes of the traced run.

Every probe times calls into one layer's public functions from the
benchmark's own code, inside a ``Tracer`` span whose name is the layer
metric's stem (``engine.extract`` -> ``engine.extract_s``). Spark probes
also tag their jobs with the span name as the job description, so the
event log attributes stages to them.
"""

from __future__ import annotations

import statistics
from contextlib import contextmanager

import pyarrow as pa

import jobs

# every per-layer metric of the traced run, with its unit (BENCHMARK.json
# lists the same names; LAYERS.md says which layer and workload each
# belongs to)
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "sources.write_s": "s",
    "engine.boundary_s": "s",
    "engine.extract_s": "s",
    "engine.ordered_s": "s",
    "engine.kernel_evals_per_row": "count",
    "fastbatch.batch_s": "s",
    "fastbatch.fast_path_ratio": "ratio",
    "fastbatch.decode_s": "s",
    "detect.boxes_s": "s",
    "detect.crop_s": "s",
    "recognize.canon_s": "s",
    "layout.parse_s": "s",
    "pipeline.fallback_s": "s",
    "pipeline.fallback_rows": "count",
    "checkpoint.batch_s_median": "s",
    "checkpoint.batch_s_max": "s",
    "checkpoint.ledger_s": "s",
    "checkpoint.kernel_evals_per_row": "count",
    "checkpoint.records_read_per_row": "count",
    "analysis.strip_boilerplate_s": "s",
    "analysis.dedup_substrings_s": "s",
    "analysis.dedup_paragraphs_s": "s",
    "analysis.quality_gate_s": "s",
    "analysis.exact_dedup_s": "s",
    "analysis.pack_s": "s",
    "barrier.pin_s": "s",
    "corpus.kept_ratio.boilerplate_strip": "ratio",
    "corpus.kept_ratio.substr_dedup": "ratio",
    "corpus.kept_ratio.quality_gate": "ratio",
    "corpus.kept_ratio.exact_dedup": "ratio",
    "spark.records_read_per_row": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.jobs": "count",
    "trace.overhead_s": "s",
}


@contextmanager
def job(spark, tracer, name: str):
    """A span that also tags the Spark jobs run inside it: the job group
    (which Spark's own parallel file listing keeps, while it replaces
    the description) and the description both carry ``name``."""
    sc = spark.sparkContext
    for key in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(key, name)
    try:
        with tracer.span(name):
            yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextmanager
def counted_extract(spark):
    """Within the block, the ``SparkOcrEngine`` that the jobs construct
    (directly, or inside ``checkpoint.run_checkpointed``) is a subclass
    whose ``extract`` first passes its input through an identity
    ``mapInPandas`` counting rows in an accumulator: one count per row
    per evaluation of the kernel stage downstream of it. Yields the
    accumulator."""
    import sparkocr.checkpoint as ck
    import sparkocr.engine as en

    acc = spark.sparkContext.accumulator(0)

    def ident(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    class CountingEngine(en.SparkOcrEngine):
        def extract(self, df, *a, **kw):
            return super().extract(df.mapInPandas(ident, df.schema), *a, **kw)

    saved = en.SparkOcrEngine, ck.SparkOcrEngine
    en.SparkOcrEngine = ck.SparkOcrEngine = CountingEngine
    try:
        yield acc
    finally:
        en.SparkOcrEngine, ck.SparkOcrEngine = saved


# chat turns behind the checkpoint probe of the traced run: the job's
# cost is mostly per bucket batch, not per row
CHECKPOINT_PROBE_ROWS = 4_000


def checkpoint_probe(spark, tracer, chat, out_dir: str) -> dict:
    """The ``run_extract.py`` job (``checkpoint.run_checkpointed``, 64
    buckets in batches of 8) over the chat input: once plain, split into
    bucket batches and ledger time, and once counted. ``chat`` is the
    ``Passes`` of the chat workload, which checks both outputs."""
    with job(spark, tracer, "checkpoint.run"):
        wall = chat.one(spark, out_dir)
    if wall is None:
        return {}  # counted as failed in ``chat``
    m = ledger_split(jobs.ledger(out_dir), wall, jobs.BATCH_BUCKETS)
    with counted_extract(spark) as acc, \
            job(spark, tracer, "checkpoint.counted"):
        chat.one(spark, out_dir)
    m["checkpoint.kernel_evals_per_row"] = (
        acc.value / chat.ctx.table.num_rows)
    return m


def engine_probes(spark, tracer, in_path: str, route_documents: bool) -> None:
    """Scan, Arrow-boundary, extract and ordered-extract jobs, each to
    a noop sink."""
    from sparkocr.engine import SparkOcrEngine, ordered

    df = spark.read.parquet(in_path)
    cols = ["conv_id", "turn_idx", "role", "text"]
    with job(spark, tracer, "sources.scan"):
        noop(spark.read.parquet(in_path))
    with job(spark, tracer, "engine.boundary"):
        sel = df.select(*cols)
        noop(sel.mapInPandas(lambda it: it, sel.schema))
    eng = SparkOcrEngine(spark)
    with job(spark, tracer, "engine.extract"):
        noop(eng.extract(df, route_documents=route_documents))
    with job(spark, tracer, "engine.ordered"):
        noop(ordered(eng.extract(df, route_documents=route_documents)))


def kernel_probe(table: pa.Table, tracer, route_documents: bool) -> dict:
    """In-process timings of the kernel layers on one core, over the
    workload's own 2048-row Arrow batches. ``fastbatch.batch`` is the
    production batch call; the general-path calls (detect, crop,
    canonicalize, flat decode, layout parse) run over every row of the
    batch; ``pipeline.fallback`` is the per-turn path for the rows the
    batch call did not serve."""
    from sparkocr.config import FLAGSHIP_CONFIG as cfg
    from sparkocr.detect import TurnGrid, crop_box, find_text_boxes_batch
    from sparkocr.fastbatch import batch_extract_simple, decode_canons_flat
    from sparkocr.layout import parse_documents_batch
    from sparkocr.pipeline import extract_turn, extract_turn_auto
    from sparkocr.recognize import canonicalize

    attempted = served = 0
    for b in table.select(["text", "role"]).to_batches(max_chunksize=2048):
        texts = b.column(0).to_pylist()
        roles = b.column(1).to_pylist()
        with tracer.span("fastbatch.batch"):
            fast = batch_extract_simple(
                texts, cfg, allow_formfeed=not route_documents,
                roles=roles if route_documents else None)
        miss = [i for i, r in enumerate(fast) if r is None]
        attempted += len(texts)
        served += len(texts) - len(miss)
        with tracer.span("pipeline.fallback"):
            for i in miss:
                if route_documents:
                    extract_turn_auto(texts[i], roles[i], cfg)
                else:
                    extract_turn(texts[i], cfg)
        with tracer.span("detect.grid"):
            grids = [TurnGrid(t) for t in texts if t is not None]
        with tracer.span("detect.boxes"):
            boxes = find_text_boxes_batch(grids, cfg)
        with tracer.span("detect.crop"):
            crops = [crop_box(g, bx)[0]
                     for g, bs in zip(grids, boxes) for bx in bs]
        with tracer.span("recognize.canon"):
            canons = [canonicalize(c, cfg.max_rec_lines) for c in crops]
        # the flat decode's domain: crops whose canonical form carries
        # no markup (the per-turn path scores the others)
        pool = [c for c in canons if "<" not in c and "\x1b" not in c]
        with tracer.span("fastbatch.decode"):
            decode_canons_flat(pool, cfg)
        docs = [t for t, r in zip(texts, roles)
                if route_documents and r == "tool" and t and "\f" in t]
        with tracer.span("layout.parse"):
            if docs:
                parse_documents_batch(docs, cfg)
    return {"attempted": attempted, "served": served,
            "fallback_rows": attempted - served}


def ledger_split(entries: list[dict], run_wall: float,
                 batch_buckets: int) -> dict:
    """Batch walls from the checkpoint ledger (one per bucket batch;
    every bucket of a batch records the batch's wall) and the rest of
    the run's wall, which is ledger and driver bookkeeping."""
    walls: dict[int, float] = {}
    for e in entries:
        walls[e["bucket"] // batch_buckets] = e["batch_wall_s"]
    w = list(walls.values())
    return {"checkpoint.batch_s_median": statistics.median(w),
            "checkpoint.batch_s_max": max(w),
            "checkpoint.ledger_s": run_wall - sum(w)}


def corpus_probes(spark, tracer, in_path: str) -> None:
    """Each corpus-build operator, in pipeline order with the defaults
    of ``build_training_corpus`` (read from its signature), evaluated
    the way the build consumes it, from its pinned predecessor;
    ``barrier.pin`` alone is the pin of the scanned input.

    The build never pins the paragraph dedup: it fuses into the quality
    gate's pin. So ``analysis.quality_gate`` is that fused pin, paragraph
    dedup included, and ``analysis.dedup_paragraphs`` is the paragraph
    dedup alone to a noop sink. The exact-dedup and packing operators
    run to a noop sink."""
    import inspect

    from pyspark.sql import functions as F
    from sparkocr.analysis import (dedup_paragraphs, dedup_substrings,
                                   exact_dedup_groups, pack_sequences,
                                   strip_boilerplate_lines, with_quality)
    from sparkocr.barrier import pin
    from sparkocr.corpus import build_training_corpus

    d = {k: p.default for k, p in
         inspect.signature(build_training_corpus).parameters.items()}
    lo, hi = d["stop_ratio_band"]

    def rename(df):
        return df.select(F.col("doc").alias("doc_id"),
                         F.col("clean_text").alias("text"))

    with job(spark, tracer, "barrier.pin"):
        docs = pin(spark.read.parquet(in_path))
    with job(spark, tracer, "analysis.strip_boilerplate"):
        stripped = pin(rename(strip_boilerplate_lines(
            docs, "doc_id", min_df=d["boiler_min_df"])))
    with job(spark, tracer, "analysis.dedup_substrings"):
        passages = pin(rename(dedup_substrings(
            stripped, "doc_id", min_len=d["substr_min_len"])))
    with job(spark, tracer, "analysis.dedup_paragraphs"):
        noop(rename(dedup_paragraphs(passages, "doc_id")))
    with job(spark, tracer, "analysis.quality_gate"):
        paras = rename(dedup_paragraphs(passages, "doc_id"))
        gated = pin(
            with_quality(paras.join(docs.select("doc_id", "source"),
                                    "doc_id"))
            .where((F.col("stop_ratio") >= lo) & (F.col("stop_ratio") <= hi)
                   & (F.col("n_tokens") >= d["min_quality_tokens"]))
            .select("doc_id", "source", "text",
                    F.col("n_tokens").cast("long").alias("n_tokens")))
    with job(spark, tracer, "analysis.exact_dedup"):
        keep = exact_dedup_groups(gated, "doc_id").select(
            F.col("keeper").alias("doc_id"))
        noop(gated.join(keep, "doc_id", "left_semi"))
    with job(spark, tracer, "analysis.pack"):
        noop(pack_sequences(gated.select("doc_id", "source", "n_tokens"),
                            max_tokens=d["seq_len"],
                            n_shards=d["pack_shards"]))
