"""Sources & sinks for transcript tables (S1/S5/S6 of SURVEY §2.1).

Production storage per the north rule is **Iceberg**; this sandbox ships
no Iceberg runtime jar, so every entry point is format-negotiating:
``iceberg`` when the session has an Iceberg catalog, ``parquet``
fallback otherwise, identical DataFrames either way. The write path
carries the two scale decisions the north rule names:

- **range-partitioned writes**: output ordered and range-partitioned on
  (conv_id, turn_idx) so downstream readers get clustered, prunable
  files (Iceberg: a sorted write into a table with a truncate/bucket
  partition spec; parquet: repartitionByRange + sortWithinPartitions);
- **bucketed layout** for co-located joins on conv_id (Iceberg
  ``bucket(N, conv_id)`` partition transform; parquet fallback keeps a
  ``bucket`` column written with partitionBy, as sparkocr.checkpoint
  does).
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import _ordered_once


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime is on the JVM classpath. NOTE:
    plain py4j attribute access (``spark._jvm.org.apache...``) cannot be
    used here — it returns a JavaPackage object instead of raising for
    missing classes, which made an earlier version always return True.
    Class.forName raises ClassNotFoundException for real."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


def _negotiate_fmt(spark: SparkSession, location: str, fmt: str) -> str:
    """THE single home of the iceberg-vs-parquet ``auto`` rule: a
    slash-free location is an Iceberg table identifier
    (``catalog.db.table``) when the runtime is on the classpath,
    anything else is a parquet path. Shared by the read and write entry
    points so the two can never drift."""
    if fmt == "auto":
        return "iceberg" if (
            "/" not in location and iceberg_available(spark)
        ) else "parquet"
    return fmt


def read_transcripts(spark: SparkSession, location: str,
                     fmt: str = "auto") -> DataFrame:
    """Read a transcript table. ``location`` is an Iceberg table
    identifier (``catalog.db.table``) when the Iceberg runtime is on the
    classpath, else a parquet path. ``fmt`` forces one of
    iceberg|parquet."""
    fmt = _negotiate_fmt(spark, location, fmt)
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def docs_as_transcripts(docs: DataFrame) -> DataFrame:
    """THE single home of the documents→transcript-shape mapping used
    when a ``documents``-shaped table (source, doc_id, text) stands in
    for a transcript corpus: source → conv_id, doc_id → turn_idx,
    fixed 'user' role. Shared by the spark-submit entry point
    (``scripts/run_extract.py --as-transcripts``) and the cluster bench
    corpus so the two shapes can never drift."""
    return docs.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
    )


def write_ordered(df: DataFrame, location: str, fmt: str = "auto",
                  partitions: int | None = None) -> None:
    """Range-partitioned ordered sink: deterministic (conv_id, turn_idx)
    clustering without a single-reducer global sort. On Iceberg this
    sorted write creates or replaces the table (``createOrReplace``,
    the parquet path's overwrite semantics); on parquet the range
    partitioning itself provides the clustered file layout. ``df`` is
    evaluated once (see ``sparkocr.engine`` on the cost model)."""
    fmt = _negotiate_fmt(df.sparkSession, location, fmt)
    with _ordered_once(df, partitions=partitions) as out:
        if fmt == "iceberg":
            # createOrReplace works when the table does not exist yet;
            # use ordered(df).writeTo(location).append() directly for
            # incremental loads
            out.writeTo(location).createOrReplace()
        else:
            out.write.mode("overwrite").parquet(location)


def write_json_blocks(result: DataFrame, location: str) -> None:
    """JSON sink (S6 parity, main.rs:134-197): one JSON object per turn
    with its block array, spans included."""
    with _ordered_once(result) as out:
        (
            out.select(F.to_json(F.struct(*result.columns)).alias("value"))
            .write.mode("overwrite").text(location)
        )


def debug_html(text: str, blocks) -> str:
    """S7 parity (examples/simple.rs:96-129 draws hollow rects on the
    image): render one turn's text with its detected block spans
    highlighted — the text-native visualization. ``blocks`` is the
    engine's block array (rows or dicts with start/end/block_type)."""
    import html as _html

    palette = {"prose": "#cde7ff", "code": "#ffe7cd", "table": "#d8f5d0",
               "body": "#cde7ff"}
    spans = sorted(
        ((int(b["start"]), int(b["end"]), str(b["block_type"])) for b in blocks),
    )
    out, pos = ["<pre>"], 0
    for s, e, t in spans:
        # clamp e to s (not pos): an inverted span (end < start) from a
        # corrupt row would otherwise move pos backwards and re-emit the
        # [e:s] range twice
        s = max(s, pos)
        e = max(e, s)
        out.append(_html.escape(text[pos:s]))
        color = palette.get(t, "#eeeeee")
        out.append(
            f'<mark style="background:{color}" title="{_html.escape(t)}">'
            f"{_html.escape(text[s:e])}</mark>"
        )
        pos = e
    out.append(_html.escape(text[pos:]))
    out.append("</pre>")
    return "".join(out)


def write_debug_html(result: DataFrame, location: str,
                     text_df: DataFrame | None = None, limit: int = 200) -> None:
    """Write an HTML debug page of the first ``limit`` turns with their
    detected spans highlighted (driver-side render — a debug sink, not a
    data path)."""
    import html as _html

    cols = ["conv_id", "turn_idx", "blocks"] + (
        ["source_text"] if "source_text" in result.columns else [])
    with _ordered_once(result) as out:
        rows = out.select(*cols).limit(limit).collect()
    texts = {}
    if text_df is not None:
        # only fetch the texts of the turns actually rendered — a full
        # collect of the source table would OOM the driver on real data
        keys = {(r["conv_id"], r["turn_idx"]) for r in rows}
        key_df = result.sparkSession.createDataFrame(
            sorted(keys), "conv_id string, turn_idx int")
        texts = {(r["conv_id"], r["turn_idx"]): r["text"]
                 for r in text_df.select("conv_id", "turn_idx", "text")
                 .join(key_df, ["conv_id", "turn_idx"], "left_semi").collect()}
    parts = ["<!doctype html><meta charset='utf-8'><title>sparkocr debug</title>"]
    for r in rows:
        text = r["source_text"] if "source_text" in r.__fields__ else \
            texts.get((r["conv_id"], r["turn_idx"]), "")
        blocks = [b.asDict() for b in (r["blocks"] or [])]
        parts.append(f"<h3>{_html.escape(str(r['conv_id']))} · turn "
                     f"{r['turn_idx']}</h3>")
        parts.append(debug_html(text or "", blocks))
    import os

    os.makedirs(location, exist_ok=True)
    with open(os.path.join(location, "debug.html"), "w", encoding="utf-8") as f:
        f.write("\n".join(parts))


def to_arrow(result: DataFrame, limit: int | None = None):
    """S8 C-ABI-sink parity (capi.rs hands rows across an FFI boundary):
    the Python-native analog is the Arrow C data interface — return the
    ordered result as a ``pyarrow.Table``, zero-copy consumable by any
    Arrow-speaking runtime (DuckDB, polars, a C++ consumer via the C
    stream interface). Driver-side materialization: cap with ``limit``
    or aggregate first; the DATA path stays in Spark — this is the
    hand-off at the end, exactly like the reference's C ABI."""
    keyed = {"conv_id", "turn_idx"} <= set(result.columns)
    with _ordered_once(result) if keyed else nullcontext(result) as out:
        if limit is not None:
            out = out.limit(limit)
        return out.toArrow()


def write_text(result: DataFrame, location: str) -> None:
    """Text sink (S5 parity, main.rs:199-208): full_text per turn in
    stable order."""
    with _ordered_once(result) as out:
        (
            out.select(F.coalesce(F.col("full_text"), F.lit("")).alias("value"))
            .write.mode("overwrite").text(location)
        )
