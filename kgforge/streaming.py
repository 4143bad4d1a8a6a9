"""Structured Streaming surface.

The reference is batch-only (one HTTP request = one batch; SURVEY.md §2.8),
so streaming here serves the engine's pipeline role: incremental document
ingestion into the triple graph and watermarked event-time aggregation.

- ``stream_docs_to_triples``: readStream over a doc-table directory →
  per-microbatch KG mention extraction → ``foreachBatch`` into the
  (epoch, pred)-partitioned graph with DYNAMIC partition overwrite: a
  retried epoch replaces exactly its own partition subtree, so the sink is
  idempotent per epoch (exactly-once under foreachBatch's at-least-once
  contract).
- ``stream_event_counts``: watermark + tumbling-window counts, the canonical
  late-data-safe aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_event_counts(
    spark: SparkSession,
    events_dir: str,
    schema,
    watermark: str = "1 hour",
    window: str = "30 minutes",
    glob: str | None = None,
):
    """readStream → watermark → windowed counts; caller attaches the sink."""
    reader = spark.readStream.format("parquet").schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    events = reader.load(events_dir)
    # parquet TIMESTAMP_NTZ is not a valid event-time type — watermark needs
    # an instant-typed column
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_docs_to_triples(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema,
):
    """Incremental KG ingestion: each microbatch of docs is exploded, mentions
    detected and linked, and the resulting triples appended to the graph."""
    from kgforge.kg.linking import link_mentions
    from kgforge.kg.mentions import detect_mentions
    from kgforge.kg.synth import explode_spans
    from kgforge.kg.vocab import DOC_NS, ENT_NS, KG

    docs = spark.readStream.format("parquet").schema(schema).load(docs_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spans = explode_spans(batch_df)
        linked = link_mentions(detect_mentions(spans))
        triples = linked.select(
            F.concat(F.lit(DOC_NS), F.col("doc_id")).alias("subj"),
            F.lit(KG + "mentions").alias("pred"),
            F.concat(F.lit(ENT_NS), F.col("eid")).alias("obj_value"),
            F.lit("iri").alias("obj_dtype"),
            F.lit(True).alias("obj_is_iri"),
        ).distinct()
        # dynamic partition overwrite: only the (epoch=this, pred=*) subtree
        # is replaced, so a retried epoch lands idempotently — exactly-once
        # output under foreachBatch's at-least-once execution
        (
            triples.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch", "pred")
            .parquet(out_dir)
        )

    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


SESSION_OUT_SCHEMA = (
    "user_id string, session_start timestamp, session_end timestamp, "
    "n_events long"
)
_SESSION_STATE_SCHEMA = "start double, last double, n long"


def stream_sessionize(
    spark: SparkSession,
    events_dir: str,
    schema,
    gap_seconds: int = 1800,
    use_timeout: bool = True,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user session assembly with a gap timeout.  Sessions close when the
    next event for the user arrives more than ``gap_seconds`` later, or when
    the processing-time timeout fires with no new data; closed sessions are
    emitted downstream.  This is the arbitrary-state API shape (Arrow-batched
    per group, explicit GroupState) the engine uses for operators Structured
    Streaming lacks natively."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = (
        spark.readStream.format("parquet")
        .schema(schema)
        .load(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "ts")
    )

    gap = float(gap_seconds)

    def assemble(key, pdf_iter, state: GroupState):
        import pandas as pd

        closed: list[tuple] = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                closed.append((key[0], start, last, n))
                state.remove()
        else:
            ts_list: list[float] = []
            for pdf in pdf_iter:
                ts_list.extend(t.timestamp() for t in pdf["ts"])
            ts_list.sort()
            if state.exists:
                start, last, n = state.get
            else:
                start, last, n = None, None, 0
            for t in ts_list:
                if last is not None and t - last > gap:
                    closed.append((key[0], start, last, n))
                    start, n = t, 0
                if start is None:
                    start = t
                last = t
                n += 1
            state.update((start, last, n))
            if use_timeout:
                state.setTimeoutDuration(int(gap * 1000))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="s") for c in closed],
                    "session_end": [pd.Timestamp(c[2], unit="s") for c in closed],
                    "n_events": [c[3] for c in closed],
                }
            )

    # ProcessingTimeTimeout flushes idle sessions in continuous operation;
    # finite drains (trigger availableNow) must use NoTimeout or the query
    # loops on "cleaning up state" forever waiting for wall-clock timeouts
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if use_timeout
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            assemble,
            SESSION_OUT_SCHEMA,
            _SESSION_STATE_SCHEMA,
            "append",
            timeout,
        )
    )


def stream_dedup(
    spark: SparkSession,
    docs_dir: str,
    schema,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    glob: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication: drop any document whose content hash
    was already seen within the event-time watermark
    (``dropDuplicatesWithinWatermark`` — state is evicted once the
    watermark passes, so the dedup state store stays bounded at corpus
    scale instead of growing with the full stream history).

    The streaming counterpart of ``datapipe.dedup.exact_duplicates``: keys
    are sha256(content), the survivor per key is whichever row the engine
    sees first (arrival order — callers needing a deterministic survivor
    re-key downstream like ``dedup_keep_best``)."""
    reader = spark.readStream.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    src = reader.parquet(docs_dir)
    return (
        src.withColumn("_content", F.sha2(F.col(text_col), 256))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_content"])
    )


def stream_followup_join(
    spark: SparkSession,
    events_dir: str,
    schema,
    watermark: str = "1 hour",
    horizon_minutes: int = 5,
    glob: str | None = None,
):
    """Watermarked stream-stream interval join: purchases joined to the
    same user's follow-up events within ``horizon_minutes``.

    This is the canonical Structured Streaming two-stream join: BOTH sides
    carry watermarks and the join condition bounds event time on each side
    (equi-key on user + interval on ts), so the state store can expire
    buffered rows — without the time bound, stream-stream joins hold state
    forever.  Inner join: late/unmatched rows drop once the watermark
    passes.  The output matches the batch ``events_followup_range_join``
    pair set (pid, oid) once all input is processed (asserted in tests);
    the per-purchase COUNT stays with the batch path because a streaming
    outer aggregation over a stream-stream join would need a second
    watermark chain."""
    reader = spark.readStream.format("parquet").schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    base = reader.load(events_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("pid"),
            F.col("user_id").alias("u"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", watermark)
    )
    others = (
        base.select(
            F.col("event_id").alias("oid"),
            F.col("user_id").alias("ou"),
            F.col("ts").alias("ots"),
        )
        .withWatermark("ots", watermark)
    )
    return purchases.join(
        others,
        (F.col("u") == F.col("ou"))
        & (F.col("ots") > F.col("pts"))
        & (F.col("ots") <= F.col("pts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")),
        "inner",
    ).select("pid", "oid", "pts", "ots")


# --------------------------------------------------------------------------
# Streaming incremental KG maintenance: fold each microbatch into the FULL
# graph via kg.pipeline.update_kg (additive mentionCount, recomputed global
# nearDuplicateOf — proven exactly equal to a batch rebuild), keeping the
# graph in a versioned directory with an atomically-swapped _LATEST marker.
# On a cluster the versioned dirs + marker become Iceberg snapshots (the
# same gating note as kgforge.kg.io); the parquet+marker layout is the
# format-compatible default for this image.
# --------------------------------------------------------------------------

def _kg_marker(graph_dir: str) -> dict:
    import json
    import os

    try:
        with open(os.path.join(graph_dir, "_LATEST")) as f:
            return json.load(f)
    except (FileNotFoundError, ValueError):
        return {"epoch": -1, "version": -1}


def read_kg(spark: SparkSession, graph_dir: str) -> DataFrame | None:
    """Current committed graph, or None before the first epoch."""
    import os

    state = _kg_marker(graph_dir)
    if state["version"] < 0:
        return None
    return spark.read.parquet(os.path.join(graph_dir, f"v{state['version']:06d}"))


def update_kg_epoch(batch_df: DataFrame, epoch_id: int, graph_dir: str,
                    **build_kwargs) -> bool:
    """Fold ONE microbatch into the versioned graph; returns True if the
    epoch was applied, False if it was a replay no-op.

    Exactly-once under foreachBatch's at-least-once contract:

    - an epoch at or below the committed marker is skipped outright;
    - a crash after the version directory's _SUCCESS but before the marker
      swap re-commits the marker without recomputing;
    - the marker swap itself is an atomic ``os.replace``.
    """
    import json
    import os

    from kgforge.kg.pipeline import build_kg, update_kg

    state = _kg_marker(graph_dir)
    if state["epoch"] >= epoch_id:
        return False  # replayed epoch — already folded and committed
    os.makedirs(graph_dir, exist_ok=True)
    version = state["version"]
    if not batch_df.isEmpty():
        spark = batch_df.sparkSession
        out = os.path.join(graph_dir, f"v{int(epoch_id):06d}")
        if not os.path.isfile(os.path.join(out, "_SUCCESS")):
            if version >= 0:
                old = spark.read.parquet(
                    os.path.join(graph_dir, f"v{version:06d}")
                )
                g, _ = update_kg(old, batch_df, **build_kwargs)
            else:
                g, _ = build_kg(batch_df, collect_metrics=False, **build_kwargs)
            g.write.mode("overwrite").parquet(out)
        version = int(epoch_id)
    tmp = os.path.join(graph_dir, "_LATEST.tmp")
    with open(tmp, "w") as f:
        json.dump({"epoch": int(epoch_id), "version": version}, f)
    os.replace(tmp, os.path.join(graph_dir, "_LATEST"))
    return True


def stream_update_kg(
    spark: SparkSession,
    docs_dir: str,
    graph_dir: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int = 1,
    **build_kwargs,
):
    """Streaming KG maintenance: each microbatch of new documents folds into
    the committed graph through :func:`update_kg_epoch` — the full
    triple-family semantics, not just mention rows.  Cost per epoch is the
    increment only (mention/link/aggregate over the NEW docs plus
    canonicalization of the union surface vocabulary read from the graph
    itself); old documents are never reprocessed."""
    docs = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(docs_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        update_kg_epoch(batch_df, int(epoch_id), graph_dir, **build_kwargs)

    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )

# --------------------------------------------------------------------------
# streaming incremental view maintenance (the streaming twin of
# kgforge/datapipe/ivm.py merge_delta)
# --------------------------------------------------------------------------


def read_view(spark: SparkSession, view_dir: str) -> DataFrame | None:
    """Current committed maintained view, or None before the first epoch."""
    import os

    state = _kg_marker(view_dir)
    if state["version"] < 0:
        return None
    return spark.read.parquet(os.path.join(view_dir, f"v{state['version']:06d}"))


def maintain_view_epoch(batch_df: DataFrame, epoch_id: int, view_dir: str,
                        keys, measures, sign_col: str = "_sign") -> bool:
    """Fold ONE signed-delta microbatch into the versioned view via the
    IVM merge algebra; same exactly-once contract as ``update_kg_epoch``
    (epoch marker skip + _SUCCESS re-commit + atomic marker swap)."""
    import json
    import os

    from kgforge.datapipe.ivm import aggregate_base, merge_delta

    state = _kg_marker(view_dir)
    if state["epoch"] >= epoch_id:
        return False
    os.makedirs(view_dir, exist_ok=True)
    version = state["version"]
    if not batch_df.isEmpty():
        spark = batch_df.sparkSession
        out = os.path.join(view_dir, f"v{int(epoch_id):06d}")
        if not os.path.isfile(os.path.join(out, "_SUCCESS")):
            if version >= 0:
                old = spark.read.parquet(
                    os.path.join(view_dir, f"v{version:06d}")
                )
                new = merge_delta(old, batch_df, keys, measures,
                                  sign_col=sign_col)
            else:
                # first epoch: deletes against an empty view are a caller
                # bug and trip merge_delta's negative-count guard
                new = merge_delta(
                    aggregate_base(batch_df.limit(0), keys, measures),
                    batch_df, keys, measures, sign_col=sign_col,
                )
            new.write.mode("overwrite").parquet(out)
        version = int(epoch_id)
    tmp = os.path.join(view_dir, "_LATEST.tmp")
    with open(tmp, "w") as f:
        json.dump({"epoch": int(epoch_id), "version": version}, f)
    os.replace(tmp, os.path.join(view_dir, "_LATEST"))
    return True


def stream_maintain_view(
    spark: SparkSession,
    delta_dir: str,
    view_dir: str,
    checkpoint_dir: str,
    schema,
    keys,
    measures,
    sign_col: str = "_sign",
    max_files_per_trigger: int = 1,
):
    """Streaming IVM: each microbatch of signed CDC rows (+1 insert / −1
    delete) folds into the committed GROUP BY view through
    :func:`maintain_view_epoch`.  Cost per epoch is O(|delta| + |view|) —
    the base fact stream is never rescanned, which is the whole point at
    100 TB."""
    delta = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(delta_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        maintain_view_epoch(batch_df, int(epoch_id), view_dir,
                            keys, measures, sign_col=sign_col)

    return (
        delta.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


# --------------------------------------------------------------------------
# streaming sketch maintenance: CMS registers are ADDITIVE, so the epoch
# fold is pure union + re-sum — the ideal IVM state (no merge algebra, no
# negative-count guard needed)
# --------------------------------------------------------------------------


def read_cms(spark: SparkSession, sketch_dir: str) -> DataFrame | None:
    """Current committed CMS register table, or None before the first
    epoch."""
    import os

    state = _kg_marker(sketch_dir)
    if state["version"] < 0:
        return None
    return spark.read.parquet(
        os.path.join(sketch_dir, f"v{state['version']:06d}"))


def maintain_cms_epoch(batch_df: DataFrame, epoch_id: int, sketch_dir: str,
                       value_col: str, depth: int = 4, width: int = 512,
                       mults: tuple = (31, 131, 1009, 10007)) -> bool:
    """Fold ONE microbatch into the versioned count-min register table:
    new = (old ∪ batch registers) re-summed per (lane, slot).  Register
    addition is exact (CMS(a ∪ b) == CMS(a) + CMS(b) cell-wise), so the
    streamed sketch equals the batch sketch BIT-FOR-BIT — tested.  Same
    exactly-once contract as the other epoch folds (epoch-marker skip,
    _SUCCESS re-commit, atomic marker swap)."""
    import json
    import os

    from kgforge.datapipe.sketch import cms_build

    state = _kg_marker(sketch_dir)
    if state["epoch"] >= epoch_id:
        return False
    os.makedirs(sketch_dir, exist_ok=True)
    version = state["version"]
    if not batch_df.isEmpty():
        spark = batch_df.sparkSession
        out = os.path.join(sketch_dir, f"v{int(epoch_id):06d}")
        if not os.path.isfile(os.path.join(out, "_SUCCESS")):
            regs = cms_build(batch_df, value_col, depth=depth,
                             width=width, mults=mults)
            if version >= 0:
                old = spark.read.parquet(
                    os.path.join(sketch_dir, f"v{version:06d}"))
                regs = (
                    old.unionByName(regs)
                    .groupBy("lane", "slot")
                    .agg(F.sum("c").cast("bigint").alias("c"))
                )
            regs.write.mode("overwrite").parquet(out)
        version = int(epoch_id)
    tmp = os.path.join(sketch_dir, "_LATEST.tmp")
    with open(tmp, "w") as f:
        json.dump({"epoch": int(epoch_id), "version": version}, f)
    os.replace(tmp, os.path.join(sketch_dir, "_LATEST"))
    return True


def stream_cms(spark: SparkSession, src_dir: str, sketch_dir: str,
               checkpoint_dir: str, schema, value_col: str,
               depth: int = 4, width: int = 512,
               mults: tuple = (31, 131, 1009, 10007),
               max_files_per_trigger: int = 1):
    """Maintain a count-min frequency sketch over a file stream: each
    microbatch's registers add into the committed table — the streaming
    twin of ``datapipe/sketch.py:cms_build`` (heavy hitters / heavy
    change read the SAME artifact, so the batch operators work on the
    streamed state unchanged)."""
    src = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(src_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        maintain_cms_epoch(batch_df, int(epoch_id), sketch_dir, value_col,
                           depth=depth, width=width, mults=mults)

    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
