"""Streaming multi-touch attribution: the cumulative-refresh
deployment of events_attribution. Attribution is NOT per-batch
decomposable — a touch's credit depends on a conversion that may
arrive in a LATER batch (the forward-min window looks ahead), so a
stateless per-batch twin would be wrong by construction. The honest
streaming shape is the snapshot-refresh dashboard: each micro-batch
(1) lands its raw events idempotently in its own ``raw/b<id>``
overwrite directory, then (2) recomputes the FULL attribution relation
over every landed batch and publishes it as ``snap/b<id>``. The
LATEST snapshot therefore always equals the batch relation over all
events seen so far — batching and file order are invisible, and the
oracle is the batch _ATTRIBUTION_SQL verbatim. A replayed batch
rewrites byte-identical raw content (never appends twice); only the
highest-numbered snapshot is the published relation, so a replay's
transient snapshot can't be observed through the read path
(read_latest_snapshot). At production scale the recompute is the
per-refresh cost of a cumulative dashboard — bounded by re-running
one linear-in-events window job, the same job the batch operator is
plan-audited on; an incremental variant would carry per-(user,
pending-touch) state in applyInPandasWithState for strictly less
re-read at strictly more state-management complexity.
Reference analogue: the aggregator's flush-cycle republish
(aggregator.go) — recompute the published view each cycle from
accumulated input.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# the published relation: the highest-numbered committed snapshot only
from .refresh import read_latest_snapshot  # noqa: F401
from .refresh import run_cumulative_refresh, run_delta_refresh


def run_attribution_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    files_per_trigger: int = 1,
) -> None:
    from ..tpch import attribution_relation

    run_cumulative_refresh(
        spark, in_dir, out_dir, checkpoint, schema,
        attribution_relation, files_per_trigger,
    )


def run_attribution_delta_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    files_per_trigger: int = 1,
) -> None:
    """The per-key delta deployment (round 10): attribution is
    per-USER decomposable — a touch's conversion is same-user, every
    window in attribution_user_relation partitions by user_id — so
    the cumulative engine's full recompute per micro-batch is
    overkill for it. Each batch recomputes ONLY the users it touches
    (over their full landed history, so a conversion arriving today
    re-credits yesterday's touches), carries every untouched user's
    rows from the prior state snapshot, and publishes the channel
    rollup. Latest snapshot ≡ the batch operator over everything seen
    — the SAME oracle verbatim as the cumulative deployment; only the
    per-batch re-read shrinks, from O(all events) to O(touched
    users' events). See refresh.py's three-class deployment rule;
    streaming_rfm stays on cumulative refresh because its corpus
    means are genuinely global."""
    from ..tpch import attribution_rollup, attribution_user_relation

    run_delta_refresh(
        spark, in_dir, out_dir, checkpoint, schema,
        attribution_user_relation, "user_id",
        publish_fn=attribution_rollup,
        files_per_trigger=files_per_trigger,
        # fold the raw landing every 3 generations so the per-batch
        # history listing stays bounded by the fold cadence instead of
        # growing with total batch count (round-11 advice item)
        raw_compact_every=3,
    )
