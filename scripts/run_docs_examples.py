"""Execute the examples in docs/api.md end-to-end — the doc's CI.

Every code block in the API doc must actually run; this script replays
them against the bundled sf0.001 tables and asserts the documented
behavior (not just absence of exceptions). Run:
python scripts/run_docs_examples.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def main() -> None:
    # -- single-turn core ---------------------------------------------------
    from sparkocr import FLAGSHIP_CONFIG, extract_turn

    r = extract_turn(
        "<html><body><nav><a href=/x>Nav</a></nav>"
        "<div>\nReal content lives here.\n</div></body></html>",
        FLAGSHIP_CONFIG)
    assert r.full_text == "Real content lives here.", r.full_text
    assert r.blocks and r.blocks[0].block_type == "prose"
    assert extract_turn(None).error_code == "InputError"

    # -- quickstart ---------------------------------------------------------
    from sparkocr.corpus import build_training_corpus
    from sparkocr.engine import SparkOcrEngine
    from sparkocr.session import get_spark
    from sparkocr.sources import docs_as_transcripts, write_ordered

    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    turns = docs_as_transcripts(docs)
    eng = SparkOcrEngine(spark)
    result = eng.extract(turns)
    n = result.count()
    assert n == docs.count(), (n, docs.count())
    corpus = build_training_corpus(docs.select("doc_id", "source", "text"))
    assert corpus["documents"].count() > 0
    assert corpus["packed"].count() > 0
    with tempfile.TemporaryDirectory() as td:
        write_ordered(result, f"{td}/out", fmt="parquet")
        assert spark.read.parquet(f"{td}/out").count() == n
    print("quickstart: ok")

    # -- checkpoint ---------------------------------------------------------
    from sparkocr.checkpoint import (
        done_buckets,
        read_checkpointed,
        run_checkpointed,
    )

    with tempfile.TemporaryDirectory() as td:
        run_checkpointed(spark, turns, td, input_path=SF,
                         n_buckets=8, batch_buckets=4, max_batches=1)
        state = run_checkpointed(spark, turns, td, input_path=SF,
                                 n_buckets=8, batch_buckets=4)
        assert not state["remaining"]
        assert done_buckets(td) == set(range(8))
        assert read_checkpointed(spark, td).count() == n
    print("checkpoint: ok")

    # -- streaming ----------------------------------------------------------
    from pyspark.sql import functions as F

    from sparkocr.streaming import extract_stream

    with tempfile.TemporaryDirectory() as td:
        src = (turns
               .withColumn("tool", F.lit(None).cast("string"))
               .withColumn("ts", F.lit(None).cast("timestamp")))
        src.write.parquet(f"{td}/in")
        extract_stream(spark, f"{td}/in", f"{td}/out",
                       f"{td}/ckpt").awaitTermination()
        assert spark.read.parquet(f"{td}/out").count() == n
    print("streaming: ok")

    # -- LM family ----------------------------------------------------------
    from sparkocr import lm

    model = lm.train_unigram_lm(docs)
    scored = lm.with_perplexity(docs, model)
    assert "ppl" in scored.columns and scored.count() == docs.count()
    w = docs.select("doc_id", (F.length("text") / 100.0).alias("log_w"))
    assert lm.dsir_sample(w, k=10).count() == 10
    merges = lm.train_bpe(docs.limit(50), num_merges=10)
    assert merges.count() <= 10 and merges.count() > 0
    print("lm: ok")

    # -- ANN ----------------------------------------------------------------
    from sparkocr.ann import cluster_neardup_pairs, cosine_topk, lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    assert cosine_topk(emb, qv, k=5).count() == 5
    assert lsh_topk(emb, qv, dim=len(qv), k=5).count() == 5
    cluster_neardup_pairs(emb, dim=len(qv), threshold=0.42, nlist=4,
                          iters=1).count()  # may be 0 pairs at tiny sf
    print("ann: ok")

    # -- relational ---------------------------------------------------------
    from sparkocr.relational import asof_join, sessionize

    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    c = ev.where(F.col("event_type") == "click")
    assert asof_join(p, c, on="ts", by="user_id", right_cols=("value",),
                     tiebreak="event_id").count() == p.count()
    assert sessionize(ev, by="user_id", ts_col="ts",
                      gap_seconds=1800).count() == ev.count()
    print("relational: ok")

    # -- handles ------------------------------------------------------------
    from sparkocr import handles

    h = handles.create_engine(spark)
    status, out = handles.recognize_simple(h, turns.limit(5))
    assert status == handles.RocrStatus.SUCCESS and out.count() == 5
    assert handles.destroy_engine(h) == handles.RocrStatus.SUCCESS
    handles.cleanup()
    print("handles: ok")

    spark.stop()
    print("ALL DOC EXAMPLES PASS")


if __name__ == "__main__":
    main()
