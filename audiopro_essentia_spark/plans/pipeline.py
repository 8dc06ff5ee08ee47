"""The flagship end-to-end plan — the distributed `analyze_audio`.

Mirrors the reference orchestrator's DAG
(/root/reference/src/audiopro/analysis/controller.py:46-240): one scan
fans out into three branches over the same input —

    sequences ──┬── framing → fused feature kernel   (extract_features)
                ├── doc-level aggregates              (get_file_metadata)
                └── sessionization / tempo analog     (extract_rhythm)

— then doc-level results broadcast-join back onto frame features (J2,
controller.py:196-210), and the writer commits resumable checkpoints.

Scale design:
- The input is not cached: the profile and the kernel each make their own
  pruned parquet scan (caching the raw token arrays cost 2x in profiling).
  On the write path the one-row-per-doc profile is checkpointed instead.
- The doc-level join is `F.broadcast` (1 row/doc vs ~n_tok/512 rows/doc).
- Framing is narrow (no shuffle); the kernel is one Arrow-batched map.
- Order: without `out_dir`, frame_features come back range-partitioned and
  sorted within partitions on (doc_id, frame_idx) (O1, no global sort).
  With `out_dir` they go to the writer with no exchange: its
  partitionBy("bucket") sorts by bucket alone and would discard that
  order, and a range exchange samples its bounds by running the kernel
  over every token a second time. Readers of the written output order it
  themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import DEFAULT_ERROR_BUDGET_PCT, FRAME_LENGTH, HOP_LENGTH, SAMPLE_RATE
from ..operators.framing import frame_tokens
from ..operators.fused import fused_frame_features, nest_frequency_bands
from ..operators.kernel import with_frame_features
from ..operators.aggregates import doc_profile_fused
from ..sources.sinks import CheckpointedWriter


def analyze_sequences(
    spark: SparkSession,
    path: str,
    features: tuple[str, ...] | None = None,
    frame_length: int = FRAME_LENGTH,
    hop: int = HOP_LENGTH,
    sample_rate: int = SAMPLE_RATE,
    start_sec: float | None = None,
    end_sec: float | None = None,
    out_dir: str | None = None,
    n_buckets: int = 16,
    fmt: str = "parquet",
    error_budget_pct: float = DEFAULT_ERROR_BUDGET_PCT,
    repartition_output: bool = True,
    fused: bool = True,
    stop_event=None,
) -> dict[str, DataFrame]:
    """Build (and optionally write) the full analysis over a sequences table.

    Returns dict of DataFrames: frame_features, doc_metadata, quarantine.
    When `out_dir` is set, frame_features is committed via the resumable
    CheckpointedWriter with the error-budget gate, and `repartition_output`
    has no effect (see the module docstring on order).
    """
    from ..sources.sequences import read_sequences, slice_time_range

    raw = read_sequences(spark, path)
    raw, start_sample = slice_time_range(raw, start_sec, end_sec)

    # one vectorized pass: doc stats + quarantine verdict (A12-A14 + S2/S3)
    profile = doc_profile_fused(raw, frame_length=frame_length)
    if out_dir:
        # the write flow evaluates profile's mapInPandas in >= 2 plan
        # branches (the broadcast doc_meta side of the write job AND the
        # completion aggregate, plus any caller evaluation of
        # doc_metadata/quarantine) — the CLAUDE.md multi-consumer rule:
        # checkpoint the tiny one-row-per-doc output once instead of
        # re-running a full token-decode pass per branch. Without
        # out_dir (the bench path) there is exactly one consumer, and an
        # eager checkpoint would only add cost.
        profile = profile.localCheckpoint()
    quarantined = profile.filter(F.col("reject_reason").isNotNull())
    doc_meta = profile.filter(F.col("reject_reason").isNull()).drop("reject_reason")

    if fused:
        # performance path: framing + validation happen inside the kernel
        # (operators/fused.py) — tokens cross to Python once, not 4x, and
        # rejected docs are skipped without a separate filter scan
        feats = nest_frequency_bands(
            fused_frame_features(
                raw,
                features=features,
                frame_length=frame_length,
                hop=hop,
                sample_rate=sample_rate,
                start_sample=start_sample,
                validate=True,
            )
        )
    else:
        from ..operators.aggregates import split_quarantine

        ok, _bad = split_quarantine(raw, frame_length=frame_length)
        frames = frame_tokens(
            ok,
            frame_length=frame_length,
            hop=hop,
            sample_rate=sample_rate,
            start_sample=start_sample,
            base_ts_col="base_ts" if "base_ts" in ok.columns else None,
        )
        feats = with_frame_features(
            frames,
            features=features,
            frame_length=frame_length,
            sample_rate=sample_rate,
        )

    # J2 enrichment: frames (big) <- doc stats (tiny) broadcast hash join
    enriched = feats.join(
        F.broadcast(doc_meta.select("doc_id", "rms_amplitude", "dynamic_range_db")),
        "doc_id",
        "left",
    )

    if repartition_output and not out_dir:
        # O1 ordered emission without a global sort; never on the write
        # path (module docstring: the writer drops it, its sampling job
        # re-runs the kernel)
        enriched = enriched.repartitionByRange("doc_id", "frame_idx").sortWithinPartitions(
            "doc_id", "frame_idx"
        )

    result = {
        "frame_features": enriched,
        "doc_metadata": doc_meta,
        "quarantine": quarantined,
    }
    if out_dir:
        writer = CheckpointedWriter(out_dir, n_buckets=n_buckets, fmt=fmt)
        stats = writer.write(
            enriched,
            error_col="ferror",
            error_budget_pct=error_budget_pct,
            # concrete source files (north rule: per-partition lineage
            # carries source file + snapshot id + row counts), not just
            # the root path; capped so one commit JSON stays small
            input_files=sorted(raw.inputFiles())[:1000],
            # cooperative shutdown (process.graceful_shutdown): honored
            # at the writer's atomic-commit boundaries; a stopped run is
            # resumable exactly-once
            stop_event=stop_event,
        )
        # completion check (reference extractor.py:285-289: warn < 97%):
        # expected frames from the accepted docs' n_tok via the count formula
        from ..constants import COMPLETION_WARN_PCT
        from ..operators.framing import n_frames_col

        # ONE aggregate over the profile yields expected frames (accepted
        # docs) AND the quarantined-doc count — callers (CLI summary) must
        # not re-run the profile pass just to count rejects
        agg = profile.select(
            F.sum(
                F.when(
                    F.col("reject_reason").isNull(),
                    n_frames_col(F.col("n_tok"), frame_length, hop),
                ).otherwise(F.lit(0))
            ).alias("e"),
            F.sum(F.col("reject_reason").isNotNull().cast("long")).alias("q"),
        ).collect()[0]
        expected = agg.e or 0
        stats["quarantined_docs"] = int(agg.q or 0)
        written = stats["total_rows"] + sum(
            r["row_count"] for r in writer.lineage() if r["bucket"] in stats["skipped"]
        )
        stats["expected_frames"] = int(expected)
        stats["completion_ratio"] = written / expected if expected else 1.0
        stats["completion_warning"] = stats["completion_ratio"] < COMPLETION_WARN_PCT
        result["write_stats"] = stats
    return result
