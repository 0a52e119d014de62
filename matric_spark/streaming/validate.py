"""Streaming validation: file-source micro-batches → the batch check
suite → the state store, plus watermarked arrival-rate monitors.

Design (Spark-first, SURVEY §1.3 note that resumability is state-table
based, not streaming-state based):

- `stream_transcripts` reads a directory as a file-source stream with
  the transcript schema (new parquet files = new micro-batches; on a
  cluster this is an Iceberg/Kafka source).
- `validated_stream` runs EVERY micro-batch through the same
  partition-local state appends as `state.run_incremental` (scalar
  verdicts, key index, drift sketch, completion log keyed by batch), so
  a streaming deployment and a batch backfill share one state table and
  one verdict semantics — the batch/streaming differential test asserts
  exactly that equivalence.
- `windowed_rates` is the genuinely-streaming piece: event-time windows
  + watermark for late data, counting turns and violation candidates
  per (window, partition) — built-in windowed aggregation (the checks
  themselves need no custom stateful operator; the one semantics that
  does — per-user gap sessions — lives in streaming/sessionize.py on
  applyInPandasWithState).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matric_spark.checks.suite import SuiteConfig
from matric_spark.schema import DEFAULT_ROLE_DOMAIN

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, part_month int"
)


def await_or_raise(query, timeout_s: int) -> None:
    """awaitTermination with the timeout made LOUD: a still-running
    stream past the deadline raises instead of letting the caller read
    a partial sink/state (which surfaces later as a nondeterministic
    value mismatch that looks like an engine-parity bug). The stream is
    stopped before raising so the session isn't left with a zombie
    query holding the checkpoint lock."""
    if not query.awaitTermination(timeout_s):
        try:
            query.stop()
        finally:
            raise TimeoutError(
                f"streaming query {query.name or query.id} still running "
                f"after {timeout_s}s; refusing to read partial output"
            )


def stream_transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a transcript directory (parquet)."""
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def windowed_rates(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    cfg: SuiteConfig | None = None,
) -> DataFrame:
    """Event-time windowed monitor: turns, null-text and bad-role counts
    per (window, partition), tolerating `watermark` of lateness."""
    cfg = cfg or SuiteConfig()
    bad_role = (~F.col("role").isin(cfg.role_domain)) & F.col("role").isNotNull()
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col(cfg.partition_col).alias("part"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
            F.sum(bad_role.cast("long")).alias("bad_role"),
        )
    )


def validated_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    fingerprint: str = "stream",
    cfg: SuiteConfig | None = None,
    max_files_per_trigger: int = 1,
):
    """Start a foreachBatch query appending per-micro-batch check state.

    Each batch contributes:
      - partition-local scalar verdicts + seq counts (batch-scoped),
      - key-index rows (cross-partition/cross-batch uniqueness folds
        them exactly like the batch path),
      - drift counts sketch rows,
    into the SAME StateStore layout as `state.run_incremental`; final
    verdicts come from `stream_verdicts`, which feeds the same
    `state.assemble_verdicts` as the batch resume path, so streaming
    ingestion and batch backfill are interchangeable (differential-tested).
    Exactly-once: foreachBatch may retry a batch; ALL appends (local,
    key index, sketch, log) carry the batch id in `run_id`, and
    `stream_verdicts` dedups on (run_id, natural key) before summing —
    retries collapse, while legitimate re-occurrences of a key in later
    batches are preserved (they are new data, not replays).
    """
    cfg = cfg or SuiteConfig()
    p = cfg.partition_col

    from matric_spark.checks.drift import counts_sketch
    from matric_spark.checks.sequence import out_of_order_turns
    from matric_spark.checks.suite import scalar_check_metrics
    from matric_spark.state import StateStore

    store = StateStore(spark, state_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # four state appends below = four separate jobs over this
        # micro-batch; persist once so the batch source (and any
        # upstream projection) is scanned a single time instead of four
        # — at bench scale this is most of the per-batch fixed cost
        # beyond the constraint suite itself
        from pyspark import StorageLevel

        batch.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            _process_persisted(batch, batch_id)
        finally:
            batch.unpersist(blocking=False)

    def _process_persisted(batch: DataFrame, batch_id: int) -> None:
        run_id = f"stream-{batch_id}"
        scalar = scalar_check_metrics(batch, cfg)
        seq = (
            out_of_order_turns(batch)
            .groupBy(F.col(p).alias("part"))
            .agg(F.count(F.lit(1)).alias("seq_order"))
        )
        # every per-batch relation is partitions-scale tiny (local/
        # sketch/log) or ids+counts (key_index) — coalesce the appends
        # so the state dir holds a handful of files per batch instead
        # of shuffle.partitions-many KB-sized ones (a micro-batched run
        # otherwise reads hundreds of tiny parquet files at assembly)
        local = (
            scalar.join(seq, "part", "left")
            .fillna(0, subset=["seq_order"])
            .withColumn("run_id", F.lit(run_id))
        )
        store._append(local.coalesce(1), "local", fingerprint)

        # run_id = batch id: stream_verdicts dedups appends on
        # (run_id, natural key) — a foreachBatch RETRY (same batch id)
        # collapses, while a genuinely new batch carrying the same
        # natural key again is summed, so cross-batch duplicate keys and
        # partition-spanning sketch counts stay correct.
        key_index = (
            batch.groupBy(*cfg.key, F.col(p).alias("part"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("run_id", F.lit(run_id))
        )
        store._append(key_index.coalesce(4), "key_index", fingerprint)

        sketch = counts_sketch(batch, p, F.length("text")).withColumn(
            "run_id", F.lit(run_id)
        )
        store._append(sketch.coalesce(1), "sketch", fingerprint)

        log = (
            batch.groupBy(F.col(p).alias("part"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select("part", F.lit(run_id).alias("run_id"), "n_rows")
        )
        store._append(log.coalesce(1), "log", fingerprint)

    src = stream_transcripts(spark, input_dir, max_files_per_trigger)
    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_verdicts(
    spark: SparkSession,
    state_dir: str,
    fingerprint: str = "stream",
    cfg: SuiteConfig | None = None,
) -> DataFrame:
    """Assemble the verdict table from streaming-appended state: the
    per-batch folds below go straight into `state.assemble_verdicts`,
    the assembler the batch resume path uses.

    NOTE on semantics vs batch: micro-batches may split one data
    partition across appends, so EVERY state relation is folded per
    batch here — local metrics, the key index, and the drift sketch are
    deduped on (run_id, natural key) to absorb foreachBatch retries,
    then SUMMED across batches. Deduping on the natural key alone (the
    batch/resume semantics) would silently collapse a duplicate key
    split across two micro-batches to uniqueness=0/pass and undercount
    sketch values whenever a data partition spans batches. Sequence
    ordering is validated within each micro-batch (cross-batch
    reordering needs event-time windows — `windowed_rates` — or the
    batch path)."""
    cfg = cfg or SuiteConfig()
    from matric_spark.state import StateStore, assemble_verdicts

    store = StateStore(spark, state_dir)
    # fold multi-batch local rows (one per (part, batch)) into one row
    # per partition; replayed batches dedup on (part, run_id) first
    local = store._for("local", fingerprint)
    assert local is not None, "no streamed batches in state"
    folded = (
        local.dropDuplicates(["part", "run_id"])
        .drop("run_id")
        .groupBy("part")
        .agg(
            *[
                F.sum(c).alias(c)
                for c in local.columns
                if c not in ("part", "run_id")
            ]
        )
    )
    key_folded = (
        store._for("key_index", fingerprint)
        .dropDuplicates(["run_id", *cfg.key, "part"])
        .groupBy(*cfg.key, "part")
        .agg(F.sum("cnt").alias("cnt"))
    )
    sketch_folded = (
        store._for("sketch", fingerprint)
        .dropDuplicates(["run_id", "p", "v"])
        .groupBy("p", "v")
        .agg(F.sum("c").alias("c"))
    )
    return assemble_verdicts(folded, key_folded, sketch_folded, cfg)


def rule_violation_stream(stream: DataFrame, rules=None, id_cols=None) -> DataFrame:
    """Row-constraint monitor on a stream: the rule pack from
    checks/constraints.rule_violations applied to micro-batches.

    rule_violations compiles to a narrow map (array-of-name expression +
    codegen filter + explode — no shuffle, no window, no state), so it
    is directly streamable in append mode with no watermark: every
    violating row is emitted exactly once, in the micro-batch it
    arrives in. This is the live-firehose complement of the batch
    rule_<name> verdicts in checks/suite.run_verdicts_extended — same
    Rule objects, same violation semantics, differential-tested
    streaming ≡ batch.
    """
    from matric_spark.checks.constraints import (
        default_transcript_rules,
        rule_violations,
    )

    return rule_violations(stream, rules or default_transcript_rules(), id_cols)


def payload_violation_stream(
    stream: DataFrame,
    col: str,
    key: str,
    lo: int,
    hi: int,
    id_cols=None,
) -> DataFrame:
    """JSON payload-contract monitor on a stream: checks/payload.
    json_payload_violations applied to micro-batches.

    Same streamability argument as rule_violation_stream: the payload
    tiers compile to one codegen scan (get_json_object + regexp — no
    shuffle, no window, no state), so append mode needs no watermark
    and each violating row is emitted exactly once, in the micro-batch
    it arrives in. Differential-tested streaming ≡ batch.
    """
    from matric_spark.checks.payload import json_payload_violations

    return json_payload_violations(stream, col, key, lo, hi, id_cols)
