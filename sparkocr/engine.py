"""The Spark engine: the reference's 7 public verbs (OcrRequest enum,
engine.rs:16-90) as DataFrame-returning functions.

| reference request       | verb here                | shape |
|-------------------------|--------------------------|-------|
| GetTextRects            | ``spans(df)``            | + array<box struct> |
| DetectText/GetTextImages| ``blocks(df)``           | + array<string> crops |
| GetTextImagesEfficient  | ``blocks_fast(df)``      | same plan — AQE/Catalyst replaces the reference's cardinality-based crop-strategy dispatch (det.rs:167-171), intentionally not reimplemented |
| RecognizeText           | ``recognize(df, col)``   | + struct(text, confidence, block_type) |
| ProcessOcr              | ``extract(df)``          | full fused pipeline |
| ProcessOcrEfficient     | ``extract_fast(df)``     | same plan (see above) |
| Shutdown                | ``spark.stop()``         | session-managed |

Execution model: all per-turn compute runs inside Arrow-batched pandas
UDFs / mapInPandas (zero per-row Python UDFs); the fused ``extract`` is a
single narrow mapInPandas stage — one job over the whole table with NO
shuffle, the columnar replacement for the reference's one-request-per-
image worker loop (engine.rs:413-437). Ordering is never implicit: use
``ordered()`` / ``with_rank()`` or an ordered sink of
``sparkocr.sources`` (Catalyst does not preserve order through
exchanges).

Cost model of ordering: ``repartitionByRange`` samples its range bounds
in a job of its own, which evaluates the whole child before the
shuffle-map stage evaluates it again. The ordered sinks
(``write_ordered``, ``write_text``, ``write_json_blocks``, ``to_arrow``,
``write_debug_html``) and ``with_rank`` persist their input around
their action, so the extraction kernel runs once per row. A bare lazy
``ordered()`` handed to any other action still evaluates its child
twice: once in the bound-sampling job, once in the shuffle."""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .barrier import persisted, pin
from .config import DEFAULT_CONFIG, FLAGSHIP_CONFIG, EngineConfig
from .detect import (
    TurnGrid,
    box_span,
    crop_box,
    find_text_boxes,
    find_text_boxes_batch,
)
from .pipeline import extract_turn
from .recognize import classify_block, recognize_crop

# ---------------------------------------------------------------------------
# schemas

BOX_FIELDS = [
    StructField("left", IntegerType()),
    StructField("top", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("start", LongType()),
    StructField("end", LongType()),
]
BOX_STRUCT = StructType(BOX_FIELDS)

BLOCK_STRUCT = StructType(
    [
        StructField("pos", IntegerType()),
        StructField("text", StringType()),
        StructField("confidence", FloatType()),
        StructField("block_type", StringType()),
    ]
    + BOX_FIELDS
)

RECOGNIZED_STRUCT = StructType(
    [
        StructField("text", StringType()),
        StructField("confidence", FloatType()),
        StructField("block_type", StringType()),
    ]
)

EXTRACT_RESULT_FIELDS = [
    StructField("n_blocks", IntegerType()),
    StructField("blocks", ArrayType(BLOCK_STRUCT)),
    StructField("full_text", StringType()),
    StructField("error_code", StringType()),
    StructField("error_msg", StringType()),
]


def _clean_text(v) -> Optional[str]:
    if v is None:
        return None
    if isinstance(v, float):  # NaN from pandas
        return None
    return v


def _recognize_batch(raw_texts, cfg):
    """Kernel of the RecognizeText verb, module-level so the surrogate
    and poison-pool fallback paths are directly testable. In-domain
    rows (markup-free canon, no surrogates) pool into one flat decode;
    everything else goes through recognize_crop per row — markup canons
    for the markup scoring branch, surrogate rows so the per-row
    UTF-32 encode failure yields the same all-None row the old loop
    produced. Returns (texts, confs, btypes) aligned with input."""
    from .fastbatch import (
        _canon_in_domain,
        _no_surrogates,
        decode_canons_flat,
    )
    from .recognize import canonicalize

    n = len(raw_texts)
    texts: list = [None] * n
    confs: list = [None] * n
    btypes: list = [None] * n
    pool_idx, pool_canons = [], []
    resid = []  # (row index, cleaned text)
    for i, text in enumerate(raw_texts):
        text = _clean_text(text)
        if text is None:
            continue
        try:
            canon = canonicalize(text, cfg.max_rec_lines)
            if _no_surrogates(canon) and _canon_in_domain(canon):
                pool_idx.append(i)
                pool_canons.append(canon)
                btypes[i] = classify_block(canon)
                continue
            resid.append((i, text))
        except Exception:  # poison row must not kill the task
            pass
    if pool_canons:
        try:
            p_texts, p_confs = decode_canons_flat(pool_canons, cfg)
            for i, t, c in zip(pool_idx, p_texts, p_confs):
                texts[i], confs[i] = t, c
        except Exception:  # poison pool → per-row containment
            resid.extend((i, _clean_text(raw_texts[i])) for i in pool_idx)
            for i in pool_idx:
                btypes[i] = None
    for i, text in resid:
        try:
            decoded, conf, canon = recognize_crop(text, cfg)
            texts[i], confs[i] = decoded, conf
            btypes[i] = classify_block(canon)
        except Exception:  # poison row must not kill the task
            texts[i] = confs[i] = btypes[i] = None
    return texts, confs, btypes


def _batched_grids(s):
    """Shared prep for the detection-only verbs: clean every row, build
    a TurnGrid per valid row (per-row try — a surrogate-bearing row
    fails its UTF-32 encode HERE and stays an empty result, the same
    poison containment the per-row loops had), and return
    (out, grids, idx) where ``out`` is pre-filled with [] and ``idx``
    maps grids back to row positions."""
    out: list = [[] for _ in range(len(s))]
    grids, idx = [], []
    for i, text in enumerate(s):
        text = _clean_text(text)
        if text is None:
            continue
        try:
            grids.append(TurnGrid(text))
            idx.append(i)
        except Exception:  # poison row → no boxes, not a dead task
            pass
    return out, grids, idx


# ---------------------------------------------------------------------------
# engine

class SparkOcrEngine:
    """Configured engine bound to a SparkSession (the OcrEngine analog;
    multiple differently-configured engines may coexist — the FFI handle
    registry analog, capi.rs:73-126)."""

    def __init__(self, spark: SparkSession, config: EngineConfig = FLAGSHIP_CONFIG):
        self.spark = spark
        self.config = config

    # -- P1: fused pipeline ------------------------------------------------

    def extract(
        self,
        df: DataFrame,
        text_col: str = "text",
        passthrough: tuple = ("conv_id", "turn_idx", "role"),
        repartition: int | None = None,
        route_documents: bool = False,
    ) -> DataFrame:
        """ProcessOcr over the whole table: one narrow mapInPandas stage.

        ``passthrough`` columns are carried alongside the results;
        ``repartition`` optionally rebalances input rows first
        (round-robin — deliberately NOT keyed on conv_id, so whale
        conversations spread across tasks; the salting story for the
        stateless map stage).
        ``route_documents`` sends tool-role turns carrying multi-page
        document payloads through the layout-region parser instead
        (requires a ``role`` column; see pipeline.extract_turn_auto)."""
        cfg = self.config
        keep = [c for c in passthrough if c in df.columns]
        if route_documents and "role" not in df.columns:
            raise ValueError("route_documents requires a 'role' column")
        # routing needs the role even when the caller's passthrough
        # drops it — carry it under a private name so the output schema
        # still honors `passthrough` exactly
        route_cols = (
            [F.col("role").alias("__role__")] if route_documents else []
        )
        src = df.select(*keep, *route_cols, F.col(text_col).alias("__text__"))
        if repartition:
            src = src.repartition(repartition)

        out_schema = StructType(
            [df.schema[c] for c in keep] + EXTRACT_RESULT_FIELDS
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from .fastbatch import batch_extract_simple
            from .pipeline import extract_turn_auto

            for pdf in batches:
                n = len(pdf)
                blocks_col, ftext_col = [], []
                nb_col = np.zeros(n, dtype=np.int32)
                ec_col, em_col = [None] * n, [None] * n
                texts = pdf["__text__"].to_numpy(dtype=object)
                roles = (pdf["__role__"].to_numpy(dtype=object)
                         if route_documents else None)
                cleaned = [_clean_text(t) for t in texts]
                # batch fast path: the common simple-turn shape decodes
                # in one vectorized pass over the whole Arrow batch
                # (byte-identical to the per-turn path — differential-
                # tested); residue rows fall through below. Form-feed
                # rows batch in BOTH modes: without routing they run
                # the general machine (extract_turn folds \f to \n —
                # same semantics, batched); with routing the roles
                # array sends tool-role documents through the document
                # machine (batched layout parse + pooled decode) and
                # other \f rows through the general machine, mirroring
                # extract_turn_auto's own dispatch.
                # roles is only populated when route_documents is on
                fast = batch_extract_simple(
                    cleaned, cfg,
                    allow_formfeed=not route_documents,
                    roles=roles)
                for i in range(n):
                    r = fast[i]
                    if r is None:
                        if route_documents:
                            r = extract_turn_auto(cleaned[i], roles[i], cfg)
                        else:
                            r = extract_turn(cleaned[i], cfg)
                    blocks_col.append([b.__dict__ for b in r.blocks])
                    ftext_col.append(r.full_text)
                    nb_col[i] = len(r.blocks)
                    ec_col[i] = r.error_code
                    em_col[i] = r.error_msg
                out = pdf[keep].copy()
                out["n_blocks"] = nb_col
                out["blocks"] = blocks_col
                out["full_text"] = ftext_col
                out["error_code"] = ec_col
                out["error_msg"] = em_col
                yield out

        return src.mapInPandas(run, out_schema)

    def extract_fast(self, df: DataFrame, **kw) -> DataFrame:
        """ProcessOcrEfficient parity alias: the reference's efficient
        variant picks crop strategies by cardinality (engine.rs:532-556);
        Catalyst/AQE already does runtime strategy selection, so the plan
        is identical here."""
        return self.extract(df, **kw)

    # -- stage-level verbs ---------------------------------------------------

    def spans(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """GetTextRects: adds a ``boxes`` array<struct> column (detection
        only). Box order = detection order; ``posexplode`` the column to
        get (pos, box) rows."""
        cfg = self.config

        @F.pandas_udf(ArrayType(BOX_STRUCT))
        def detect_udf(s: pd.Series) -> pd.Series:
            def to_rows(grid, boxes):
                rows = []
                for b in boxes:
                    start, end = box_span(grid, b)
                    rows.append(
                        {"left": b.left, "top": b.top, "width": b.width,
                         "height": b.height, "start": start, "end": end}
                    )
                return rows

            out, grids, idx = _batched_grids(s)
            try:
                all_boxes = find_text_boxes_batch(grids, cfg)
                for i, grid, boxes in zip(idx, grids, all_boxes):
                    out[i] = to_rows(grid, boxes)
            except Exception:  # poison batch → per-row containment
                for i, grid in zip(idx, grids):
                    try:
                        out[i] = to_rows(grid, find_text_boxes(grid, cfg))
                    except Exception:
                        out[i] = []
            return pd.Series(out)

        return df.withColumn("boxes", detect_udf(F.col(text_col)))

    def blocks(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """DetectText / GetTextImages: adds a ``crops`` array<string>
        column — the cropped (markup-blanked) block texts, detection
        order."""
        cfg = self.config

        @F.pandas_udf(ArrayType(StringType()))
        def crops_udf(s: pd.Series) -> pd.Series:
            out, grids, idx = _batched_grids(s)
            try:
                all_boxes = find_text_boxes_batch(grids, cfg)
                for i, grid, boxes in zip(idx, grids, all_boxes):
                    out[i] = [crop_box(grid, b)[0] for b in boxes]
            except Exception:  # poison batch → per-row containment
                for i, grid in zip(idx, grids):
                    try:
                        out[i] = [crop_box(grid, b)[0]
                                  for b in find_text_boxes(grid, cfg)]
                    except Exception:
                        out[i] = []
            return pd.Series(out)

        return df.withColumn("crops", crops_udf(F.col(text_col)))

    def blocks_fast(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """GetTextImagesEfficient parity alias (see extract_fast)."""
        return self.blocks(df, text_col)

    def recognize(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """RecognizeText: decode an arbitrary text column (one block per
        row — the standalone Rec path, examples/simple.rs:74-89). Adds a
        ``recognized`` struct(text, confidence, block_type) column."""
        cfg = self.config

        @F.pandas_udf(RECOGNIZED_STRUCT)
        def rec_udf(s: pd.Series) -> pd.DataFrame:
            texts, confs, btypes = _recognize_batch(list(s), cfg)
            return pd.DataFrame(
                {"text": texts, "confidence": confs, "block_type": btypes}
            )

        return df.withColumn("recognized", rec_udf(F.col(text_col)))

    def detect(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """Alias of spans() — the lib.rs 'advanced users' low-level path."""
        return self.spans(df, text_col)


# ---------------------------------------------------------------------------
# ordering / reassembly helpers (the north-rule stable-order guarantee)

def with_rank(df: DataFrame, conv_col: str = "conv_id",
              turn_col: str = "turn_idx") -> DataFrame:
    """Dense global 1-based rank under (conv_id, turn_idx) order — the
    ordering invariant every comparison and ordered sink uses (the
    index-restoring reassembly analog, efficient_cropping.rs:186-202).

    Cost model (honest): one full-data shuffle (the range partition)
    PLUS an eager materialization barrier — calling this runs Spark
    jobs immediately and pins the sorted dataset (checkpoint storage)
    for the lifetime of the returned plan. ``df`` is evaluated once:
    it is held in the cache while the range bounds are sampled and the
    pin is written, and released before this returns. The barrier is
    what makes the rank deterministic: the offsets aggregate and the
    join's stream side both read the sorted subplan, and range partitioning
    samples nondeterministically — without the pin their agreement
    would depend on Spark's exchange reuse collapsing the two reads
    (an AQE replan can break stage dedup), silently corrupting ranks.
    Rank math: ``monotonically_increasing_id()`` over the pinned sort
    encodes (partition id << 33) + local row offset — narrow, zero
    extra Exchange — and only the partition-count-sized offset table
    is aggregated and broadcast back: rank = partition offset + local
    row number; ties on the full key get an arbitrary (but pinned)
    order, like the single-window form this replaces.
    Use an ordered sink of ``sparkocr.sources`` (or :func:`ordered`)
    in data paths that only need sorted output — no barrier, and no
    storage that outlives the action; reach for with_rank
    only when the materialized global rank itself is the product. On
    a real cluster set a checkpoint dir (``sc.setCheckpointDir``) so
    the pin survives executor loss (see ``sparkocr.barrier``)."""
    with _ordered_once(df, conv_col, turn_col) as sorted_df:
        local = pin(
            sorted_df
            .withColumn("__mid", F.monotonically_increasing_id())
            .withColumn("__pid", F.shiftright("__mid", 33))
            .withColumn("__lrn",
                        F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1)
        )
    # one row per partition: the offset table is partition-count-sized,
    # so the global window over it is trivially cheap
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("__pid").agg(F.count("*").alias("__n"))
        .withColumn("__off",
                    F.coalesce(F.sum("__n").over(w_off), F.lit(0)))
        .select("__pid", "__off")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn("rank",
                    # long, not int: the rank must survive past 2^31
                    # rows (the north rule names 10^12 turns)
                    (F.col("__off") + F.col("__lrn")).cast("long"))
        .drop("__pid", "__lrn", "__off", "__mid")
    )


def ordered(df: DataFrame, conv_col: str = "conv_id",
            turn_col: str = "turn_idx", partitions: int | None = None) -> DataFrame:
    """Range-partition + in-partition sort by (conv_id, turn_idx):
    deterministic global order for sinks WITHOUT a single-reducer
    bottleneck. Range partitioning splits whale conversations across
    tasks on turn_idx — the skew answer for ordered writes.

    Lazy, no storage footprint — and so each action on the result
    evaluates ``df`` twice: once in the job that samples the range
    bounds, once in the shuffle-map stage. The ordered sinks of
    ``sparkocr.sources`` and ``with_rank`` avoid this (they order
    through ``_ordered_once``); cache ``df`` yourself before running
    other actions on ``ordered(df)`` when ``df`` is expensive."""
    parts = [F.col(conv_col), F.col(turn_col)]
    rp = df.repartitionByRange(partitions, *parts) if partitions else df.repartitionByRange(*parts)
    return rp.sortWithinPartitions(*parts)


@contextmanager
def _ordered_once(df: DataFrame, conv_col: str = "conv_id",
                  turn_col: str = "turn_idx",
                  partitions: int | None = None) -> Iterator[DataFrame]:
    """``ordered(df)`` for the actions run inside the block, with ``df``
    evaluated once: ``df`` stays persisted (``barrier.persisted``) while
    the range-bound sampling job fills the cache and the shuffle-map
    stage reads it, and is unpersisted when the block exits. An input
    the caller cached is used as is; ``spark.sparkocr.pin.cache=false``
    opts out (compute-twice, no cache storage)."""
    with persisted(df) as once:
        yield ordered(once, conv_col, turn_col, partitions)


def explode_blocks(result: DataFrame) -> DataFrame:
    """posexplode the blocks array into one row per block, preserving
    intra-turn detection order via the block's own ``pos`` (the P2
    positional-join analog: (conv_id, turn_idx, pos) is the stable key)."""
    keep = [c for c in result.columns if c not in ("blocks",)]
    return (
        result.select(*keep, F.explode("blocks").alias("block"))
        .select(*keep, "block.*")
    )


# ---------------------------------------------------------------------------
# engine manager (P5 parity: OcrEngineManager, engine.rs:615-835)

_INSTANCE: SparkOcrEngine | None = None


def initialize(spark: SparkSession | None = None,
               config: EngineConfig = FLAGSHIP_CONFIG) -> SparkOcrEngine:
    """Initialize the module-level engine singleton."""
    global _INSTANCE
    if spark is None:
        from .session import get_spark

        spark = get_spark()
    _INSTANCE = SparkOcrEngine(spark, config)
    return _INSTANCE


def get_instance() -> SparkOcrEngine:
    if _INSTANCE is None:
        raise RuntimeError(
            "engine not initialized — call sparkocr.engine.initialize() "
            "(EngineError analog, error.rs:47-50)"
        )
    return _INSTANCE


# module-level singleton verb (the engine.rs free-function surface:
# `ocr::process_ocr(img)` delegates to the initialized manager) —
# raises the not-initialized error until initialize() has run

def process_ocr(df: DataFrame, **kw) -> DataFrame:
    return get_instance().extract(df, **kw)
