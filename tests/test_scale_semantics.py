"""Scale semantics: skew rebalancing, parallelism-invariant results,
deterministic ordered sinks, format-negotiating sources."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sparkocr.engine import SparkOcrEngine, ordered, with_rank
from sparkocr.sources import (
    iceberg_available,
    read_transcripts,
    to_arrow,
    write_debug_html,
    write_json_blocks,
    write_ordered,
    write_text,
)


@pytest.fixture(scope="module")
def skewed(spark):
    """One whale conversation (2000 turns) + 50 minnows (10 turns)."""
    rows = [("whale", i, "user", f"<p>whale turn {i} says interesting things.</p>")
            for i in range(2000)]
    for c in range(50):
        rows += [(f"minnow-{c}", i, "user", f"<p>minnow {c} turn {i} text.</p>")
                 for i in range(10)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")


def test_whale_conversation_rebalances(spark, skewed):
    eng = SparkOcrEngine(spark)
    out = eng.extract(skewed, repartition=16)
    # the whale must NOT serialize on one task: round-robin repartition
    # spreads its turns across all partitions (the salted-compute move)
    sizes = [
        r["count"]
        for r in skewed.repartition(16)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    ]
    assert len(sizes) == 16
    assert max(sizes) <= 2 * (sum(sizes) / len(sizes))
    assert out.count() == 2500
    assert out.where(F.col("error_code").isNotNull()).count() == 0


def test_results_invariant_under_parallelism(spark, skewed):
    """Same input at 1 partition and 13 partitions → identical rows
    (the local[8]-vs-local[32] text-equality requirement in miniature)."""
    eng = SparkOcrEngine(spark)
    a = {(r["conv_id"], r["turn_idx"]): r["full_text"]
         for r in eng.extract(skewed.repartition(1)).collect()}
    b = {(r["conv_id"], r["turn_idx"]): r["full_text"]
         for r in eng.extract(skewed.repartition(13)).collect()}
    assert a == b


def test_ordered_and_rank_are_deterministic(spark, skewed):
    eng = SparkOcrEngine(spark)
    out = eng.extract(skewed.repartition(13))
    got = [(r["conv_id"], r["turn_idx"]) for r in ordered(out).collect()]
    assert got == sorted(got)
    ranked = with_rank(out.select("conv_id", "turn_idx"))
    rows = ranked.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert [(r["conv_id"], r["turn_idx"]) for r in rows] == sorted(got)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_sinks_round_trip(spark, skewed, tmp_path):
    eng = SparkOcrEngine(spark)
    out = eng.extract(skewed.where(F.col("conv_id") != "whale")).cache()

    p = str(tmp_path / "ordered")
    write_ordered(out.select("conv_id", "turn_idx", "n_blocks", "full_text"), p)
    back = read_transcripts(spark, p)
    assert back.count() == 500
    # the sinks leave a cache the caller made alone
    assert out.storageLevel.useMemory

    t = str(tmp_path / "text")
    write_text(out, t)
    lines = spark.read.text(t)
    assert lines.count() == 500
    assert out.storageLevel.useMemory

    j = str(tmp_path / "json")
    write_json_blocks(out.select("conv_id", "turn_idx", "blocks"), j)
    rec = json.loads(spark.read.text(j).head()["value"])
    assert {"conv_id", "turn_idx", "blocks"} <= set(rec)
    assert out.storageLevel.useMemory

    assert to_arrow(out, limit=5).num_rows == 5
    write_debug_html(out, str(tmp_path / "dbg"), limit=5)
    assert out.storageLevel.useMemory
    out.unpersist()

    assert iceberg_available(spark) in (True, False)  # no jar here: False


def test_sinks_release_their_cache(spark, skewed, tmp_path):
    """On an uncached input each sink holds its input in the cache only
    for its own action: the persistent-RDD count is the same before and
    after, also when the write raises."""
    eng = SparkOcrEngine(spark)
    out = eng.extract(skewed.where(F.col("conv_id") != "whale"))
    sinks = {
        "write_ordered": lambda loc: write_ordered(out, loc),
        "write_text": lambda loc: write_text(out, loc),
        "write_json_blocks": lambda loc: write_json_blocks(out, loc),
        "write_debug_html": lambda loc: write_debug_html(out, loc, limit=5),
        "to_arrow": lambda loc: to_arrow(out, limit=5),
    }
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("a file, so nothing can be written below it")
    for name, sink in sinks.items():
        before = _n_persistent(spark)
        sink(str(tmp_path / name))
        assert _n_persistent(spark) == before, name
        assert not out.storageLevel.useMemory, name
        if name == "to_arrow":
            continue  # writes nothing
        with pytest.raises(Exception):
            sink(str(blocker / name))
        assert _n_persistent(spark) == before, name
        assert not out.storageLevel.useMemory, name
    # with_rank's own pin outlives the call by design (it backs the
    # returned plan); the input's cache does not
    assert with_rank(out).count() == 500
    assert not out.storageLevel.useMemory


def _counted(df):
    """``df`` behind an identity ``mapInPandas`` that counts the rows it
    passes in an accumulator: one count per row per evaluation of the
    extraction kernel placed downstream of it."""
    acc = df.sparkSession.sparkContext.accumulator(0)

    def ident(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return df.mapInPandas(ident, df.schema), acc


def _part_lines(loc) -> list[str]:
    """The lines of a text sink's part files, in part-file order."""
    import glob

    return [line for f in sorted(glob.glob(f"{loc}/part-*"))
            for line in open(f, encoding="utf-8").read().splitlines()]


def test_ordered_sinks_run_the_kernel_once_per_row(spark, skewed, tmp_path):
    """Every ordered sink evaluates its input once: the range-bound
    sampling job of ``repartitionByRange`` must not recompute the
    extraction. Output keys and their order are the sorted key set,
    as before the sinks cached their input."""
    import glob
    import re

    import pyarrow.parquet as pq

    n = skewed.count()
    keys = sorted((r["conv_id"], r["turn_idx"])
                  for r in skewed.select("conv_id", "turn_idx").collect())
    texts = {(r["conv_id"], r["turn_idx"]): r["full_text"]
             for r in SparkOcrEngine(spark).extract(skewed).collect()}

    def by_write_ordered(out, loc):
        write_ordered(out, loc)
        tbl = [pq.read_table(f) for f in sorted(glob.glob(f"{loc}/part-*"))]
        return [k for t in tbl for k in zip(t["conv_id"].to_pylist(),
                                            t["turn_idx"].to_pylist())]

    def by_write_text(out, loc):
        write_text(out, loc)
        return _part_lines(loc)

    def by_write_json_blocks(out, loc):
        write_json_blocks(out.select("conv_id", "turn_idx", "blocks"), loc)
        return [(r["conv_id"], r["turn_idx"])
                for r in map(json.loads, _part_lines(loc))]

    def by_to_arrow(out, _loc):
        tbl = to_arrow(out.select("conv_id", "turn_idx", "full_text"),
                       limit=10)
        return list(zip(tbl["conv_id"].to_pylist(),
                        tbl["turn_idx"].to_pylist()))

    def by_write_debug_html(out, loc):
        write_debug_html(out, loc, text_df=skewed, limit=7)
        html = open(f"{loc}/debug.html", encoding="utf-8").read()
        return [(c, int(t)) for c, t in
                re.findall(r"<h3>(.*?) · turn (\d+)</h3>", html)]

    def by_with_rank(out, _loc):
        rows = with_rank(out).orderBy("rank").collect()
        assert [r["rank"] for r in rows] == list(range(1, n + 1))
        return [(r["conv_id"], r["turn_idx"]) for r in rows]

    cases = [
        (by_write_ordered, keys),
        (by_write_text, [texts[k] for k in keys]),
        (by_write_json_blocks, keys),
        (by_to_arrow, keys[:10]),
        (by_write_debug_html, keys[:7]),
        (by_with_rank, keys),
    ]
    for sink, expected in cases:
        src, acc = _counted(skewed)
        out = SparkOcrEngine(spark).extract(src)
        assert sink(out, str(tmp_path / sink.__name__)) == expected, \
            sink.__name__
        assert acc.value / n == 1.0, (sink.__name__, acc.value / n)


def test_iceberg_write_round_trip(spark, skewed, tmp_path):
    """The Iceberg branch of write_ordered, exercised when (and only
    when) the runtime jar is on the classpath. This sandbox has no
    network and ships no iceberg-spark-runtime jar anywhere on disk
    (verified: `find / -iname '*iceberg*'` is empty), so the test skips
    here and the parquet fallback above carries the coverage — on any
    real deployment with the jar, this test runs the sorted
    createOrReplace path end to end."""
    import pytest

    if not iceberg_available(spark):
        pytest.skip("no Iceberg runtime jar in this sandbox (offline; "
                    "not vendorable) — parquet fallback tested above")
    spark.conf.set("spark.sql.catalog.local",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.local.type", "hadoop")
    spark.conf.set("spark.sql.catalog.local.warehouse",
                   str(tmp_path / "iceberg_wh"))
    eng = SparkOcrEngine(spark)
    out = eng.extract(skewed.where(F.col("conv_id") != "whale"))
    write_ordered(out.select("conv_id", "turn_idx", "n_blocks",
                             "full_text"),
                  "local.db.extract_out", fmt="iceberg")
    back = read_transcripts(spark, "local.db.extract_out",
                            fmt="iceberg")
    assert back.count() == 500


def test_debug_html_sink(spark, skewed, tmp_path):
    from sparkocr.engine import SparkOcrEngine
    from sparkocr.sources import debug_html, write_debug_html

    src = skewed.where(F.col("conv_id") == "minnow-0")
    out = SparkOcrEngine(spark).extract(src)
    loc = str(tmp_path / "dbg")
    write_debug_html(out, loc, text_df=src, limit=5)
    html = open(f"{loc}/debug.html", encoding="utf-8").read()
    assert "<mark" in html and "minnow-0" in html
    # unit: spans wrap exactly the original slice, escaped
    h = debug_html("a<b> C D </b>e", [
        {"start": 4, "end": 8, "block_type": "prose"}])
    assert "&lt;b&gt;" in h and "<mark" in h and " C D" in h
    # an inverted span (end < start) from a corrupt row must not re-emit
    # any text range twice (review finding)
    import re
    h2 = debug_html("abcdefgh", [{"start": 5, "end": 2, "block_type": "prose"}])
    assert re.sub("<[^>]*>", "", h2) == "abcdefgh"


def test_to_arrow_handoff(spark):
    """S8 parity: the ordered result hands off as a pyarrow.Table
    (the Arrow C-data analog of the reference's C-ABI sink)."""
    import pyarrow as pa

    from sparkocr.engine import SparkOcrEngine
    from sparkocr.fixtures import turns_pandas
    from sparkocr.sources import to_arrow

    df = spark.createDataFrame(turns_pandas(seed=3, n_convs=2))
    out = SparkOcrEngine(spark).extract(df) \
        .select("conv_id", "turn_idx", "n_blocks", "full_text")
    tbl = to_arrow(out, limit=10)
    assert isinstance(tbl, pa.Table)
    assert tbl.num_rows == 10
    keys = list(zip(tbl["conv_id"].to_pylist(), tbl["turn_idx"].to_pylist()))
    assert keys == sorted(keys)  # ordered handoff


def test_pin_cache_optout_applies_to_sinks(spark, skewed, tmp_path):
    """``spark.sparkocr.pin.cache=false`` keeps the sinks off the cache:
    the input is evaluated twice, as a bare ``ordered()`` is."""
    src, acc = _counted(skewed.where(F.col("conv_id") != "whale"))
    out = SparkOcrEngine(spark).extract(src)
    before = _n_persistent(spark)
    spark.conf.set("spark.sparkocr.pin.cache", "false")
    try:
        write_ordered(out, str(tmp_path / "o"))
    finally:
        spark.conf.unset("spark.sparkocr.pin.cache")
    assert acc.value == 2 * 500
    assert _n_persistent(spark) == before
