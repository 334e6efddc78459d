"""Full as-of temporal selection — reference parity with
earCrawler/rag/temporal.py:226-339.

Classification per document (first matching rule wins):
1. An effective window (effective_from/effective_to) takes precedence:
   from > as_of -> future; to < as_of -> expired; else applicable.
2. Else snapshot lineage per section: the latest snapshot_date <= as_of
   in the doc's section is applicable; no such snapshot -> future;
   snapshot > as_of -> future; older snapshot -> superseded.
3. Else unknown (no temporal metadata).

Refusal contract (temporal.py:322-328): when nothing is applicable the
selection refuses with 'temporal_evidence_ambiguous' if any unknown rows
exist (evidence could not be dated), else
'no_temporally_applicable_evidence'.

Scale shape: the per-section latest-snapshot lookup is one filtered
max() aggregation joined back on section_id (shuffle on section only);
classification is a codegen'd when-chain; the refusal scalar is a 1-row
broadcast, not a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATUSES = ("applicable", "future", "expired", "superseded", "unknown")


def classify_temporal(docs: DataFrame, as_of: str) -> DataFrame:
    """Annotate docs(doc_id, section_id, snapshot_date, effective_from,
    effective_to) with temporal_status + temporal_reason as of `as_of`
    (ISO date string)."""
    as_of_d = F.to_date(F.lit(as_of))
    chosen = (
        docs.filter(
            F.col("section_id").isNotNull()
            & F.col("snapshot_date").isNotNull()
            & (F.col("snapshot_date") <= as_of_d)
        )
        .groupBy("section_id")
        .agg(F.max("snapshot_date").alias("chosen_snapshot"))
    )
    d = docs.join(chosen, "section_id", "left")
    has_window = F.col("effective_from").isNotNull() | F.col(
        "effective_to"
    ).isNotNull()
    has_snapshot = F.col("section_id").isNotNull() & F.col(
        "snapshot_date"
    ).isNotNull()
    status = (
        F.when(
            has_window,
            F.when(
                F.col("effective_from").isNotNull()
                & (as_of_d < F.col("effective_from")),
                F.struct(
                    F.lit("future").alias("s"),
                    F.lit("effective_from_after_query_date").alias("r"),
                ),
            )
            .when(
                F.col("effective_to").isNotNull()
                & (as_of_d > F.col("effective_to")),
                F.struct(
                    F.lit("expired").alias("s"),
                    F.lit("effective_to_before_query_date").alias("r"),
                ),
            )
            .otherwise(
                F.struct(
                    F.lit("applicable").alias("s"),
                    F.lit("within_effective_window").alias("r"),
                )
            ),
        )
        .when(
            has_snapshot,
            F.when(
                F.col("chosen_snapshot").isNull(),
                F.struct(
                    F.lit("future").alias("s"),
                    F.lit("no_snapshot_at_or_before_query_date").alias("r"),
                ),
            )
            .when(
                F.col("snapshot_date") == F.col("chosen_snapshot"),
                F.struct(
                    F.lit("applicable").alias("s"),
                    F.lit("latest_snapshot_at_or_before_query_date").alias("r"),
                ),
            )
            .when(
                F.col("snapshot_date") > as_of_d,
                F.struct(
                    F.lit("future").alias("s"),
                    F.lit("snapshot_after_query_date").alias("r"),
                ),
            )
            .otherwise(
                F.struct(
                    F.lit("superseded").alias("s"),
                    F.lit("older_snapshot_superseded_for_query_date").alias("r"),
                )
            ),
        )
        .otherwise(
            F.struct(
                F.lit("unknown").alias("s"),
                F.lit("no_temporal_metadata").alias("r"),
            )
        )
    )
    return d.withColumn("_sr", status).select(
        *docs.columns,
        F.col("_sr.s").alias("temporal_status"),
        F.col("_sr.r").alias("temporal_reason"),
    )


def refusal_reason_col(classified: DataFrame) -> DataFrame:
    """1-row DataFrame with the selection-level refusal_reason (null when
    anything is applicable) — broadcastable, no driver collect."""
    return classified.agg(
        F.sum((F.col("temporal_status") == "applicable").cast("long")).alias(
            "n_applicable"
        ),
        F.sum((F.col("temporal_status") == "unknown").cast("long")).alias(
            "n_unknown"
        ),
    ).select(
        F.when(F.col("n_applicable") > 0, F.lit(None).cast("string"))
        .when(F.col("n_unknown") > 0, F.lit("temporal_evidence_ambiguous"))
        .otherwise(F.lit("no_temporally_applicable_evidence"))
        .alias("refusal_reason")
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_s: int,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Bucketed point-in-interval join: rows of `points` matched to every
    row of `intervals` with start <= point < end (half-open), optionally
    also equi-matched on `keys`.

    Spark has no native range-join strategy — a raw theta join
    (p >= start AND p < end) plans as BroadcastNestedLoopJoin, which is
    a scale-killer the moment the interval side outgrows the broadcast
    threshold.  This operator makes the join an EQUI-join Catalyst can
    shuffle-hash/sort-merge (and AQE can skew-split): each interval is
    replicated to every `bucket_s`-second bucket it overlaps
    (one `sequence` explode, replication factor = ceil(span/bucket)+1),
    each point hashes to exactly its own bucket, and the exact
    inequality runs as a cheap post-join filter.  A (point, interval)
    pair can meet in at most one bucket — the point's — so no dedup
    pass is needed.

    `point_col`/`start_col`/`end_col` are epoch-second longs; pick
    `bucket_s` near the MEDIAN interval span so replication stays O(1)
    while each bucket pairs only adjacent data.  All columns from both
    inputs survive (callers project); `_bkt` is internal.
    """
    b = F.lit(int(bucket_s)).cast("long")
    # an empty half-open interval (end <= start) matches nothing, and on
    # a bucket boundary it would make sequence() run DESCENDING (stop <
    # start) — drop such rows before the explode
    ivl = intervals.filter(F.col(end_col) > F.col(start_col)).withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / b),
                # end is exclusive: an interval ending exactly on a
                # bucket boundary owes that bucket no replica
                F.floor((F.col(end_col) - 1) / b),
            )
        ),
    )
    pts = points.withColumn("_bkt", F.floor(F.col(point_col) / b))
    on = ["_bkt", *keys]
    return (
        pts.join(ivl, on)
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) < F.col(end_col))
        )
        .drop("_bkt")
    )
