"""Streaming ingest into the snapshot catalog — the live-crawl landing
path (north_rule: resumable checkpointed pipeline; the batch analog is
pipeline.ingest_pages).

``foreachBatch`` is the bridge: each micro-batch is a bounded DataFrame
landed through the SAME ``Catalog.write`` path batch ingest uses —
partitioned (day_bucket, url_bucket), salted writer parallelism, and an
O(touched) snapshot commit per batch whose lineage records the epoch
id. Downstream consumers (the rollup pipeline's snapshot-diff
scheduler) therefore see streamed days exactly like batch-landed days
and recompute only what each micro-batch touched.

Exactly-once: Structured Streaming checkpoints the source offsets per
epoch; on restart a replayed epoch re-runs ``foreachBatch`` with the
same epoch_id. We make the replay idempotent by skipping epochs already
recorded in the table's snapshot lineage — the catalog log doubles as
the sink-side commit log (the same two-phase pattern Spark's own
``ExactlyOnceWriter`` sinks use).

Epoch ids are only unique *per checkpoint*: a new streaming query (new
or reset checkpoint dir) restarts at epoch 0, so the committed-epoch
set is scoped by ``epoch_scope`` (the checkpoint location) recorded in
each snapshot's lineage. Without that scope, a second stream landing
into a table that already holds committed epochs would skip its first
N micro-batches as "already committed" — silent data loss. A query
started without a checkpoint dir has no replay semantics at all, so
the skip check is disabled entirely rather than mis-keyed.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame

from isp_trace_parser_spark.plans.partitioning import (
    DEFAULT_URL_BUCKETS,
    with_partition_keys,
)
from isp_trace_parser_spark.sources.catalog import Catalog


def _norm_scope(checkpoint_dir: str) -> str:
    """Canonicalize a checkpoint location so textually different
    spellings of the same dir (trailing slash, relative vs absolute,
    ``.`` components) key the same committed-epoch set across
    restarts. URI-style locations (``scheme://...``) keep their scheme
    and only lose redundant trailing slashes."""
    if "://" in checkpoint_dir or checkpoint_dir.startswith("file:"):
        return checkpoint_dir.rstrip("/")
    return os.path.abspath(os.path.normpath(checkpoint_dir))


def _committed_epochs(
    cat: Catalog, table: str, scope: str
) -> tuple[set[int], set[int]]:
    """-> (scoped_committed, legacy_committed) epoch-id sets.

    Legacy = unscoped pre-upgrade commits, honored only while NO scoped
    commit exists. They are returned separately so the caller can warn
    loudly when a legacy row suppresses an epoch: on the plausible
    'upgraded engine + brand-new checkpoint dir' path that suppression
    silently drops fresh epochs 0..max(legacy), which must at least be
    visible in the logs (ADVICE r5)."""
    epoch_rows = [
        s["lineage"]
        for s in cat.snapshots(table)
        if "epoch_id" in s.get("lineage", {})
    ]
    any_scoped = any("epoch_scope" in ln for ln in epoch_rows)
    scoped, legacy = set(), set()
    for ln in epoch_rows:
        if "epoch_scope" in ln:
            if _norm_scope(ln["epoch_scope"]) == scope:
                scoped.add(ln["epoch_id"])
        elif not any_scoped:
            # pre-upgrade table: every epoch commit predates scoping,
            # so they all belong to the single legacy checkpoint and a
            # resume must still skip them. The moment one scoped commit
            # exists, unscoped rows are ignored (a NEW checkpoint's
            # epoch 0 must not be suppressed by a legacy row — skipping
            # fresh data is silent loss; a replayed duplicate is not).
            legacy.add(ln["epoch_id"])
    return scoped, legacy


def streaming_ingest(
    stream: DataFrame,
    cat: Catalog,
    table: str = "pages",
    n_buckets: int = DEFAULT_URL_BUCKETS,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    query_name: str | None = None,
) -> Any:
    """Start a streaming query landing ``stream`` into ``cat.table``.
    Returns the StreamingQuery; callers await/stop it."""

    scope = None if checkpoint_dir is None else _norm_scope(checkpoint_dir)

    def _land(batch_df: DataFrame, epoch_id: int) -> None:
        if scope is not None:
            scoped, legacy = _committed_epochs(cat, table, scope)
            if epoch_id in scoped:
                return  # replayed epoch after restart — already committed
            if epoch_id in legacy:
                import warnings

                warnings.warn(
                    f"streaming_ingest: epoch {epoch_id} of table "
                    f"{table!r} suppressed by a LEGACY (unscoped) epoch "
                    "commit. If this is a resume of the pre-upgrade "
                    "checkpoint, this is the intended replay skip; if "
                    "this is a NEW checkpoint over a pre-upgrade table, "
                    "this batch's data is being DROPPED — write one "
                    "batch with the old checkpoint dir (creating a "
                    "scoped commit) or start from a fresh table.",
                    stacklevel=2,
                )
                return
        keyed = with_partition_keys(batch_df, n_buckets=n_buckets)
        lineage: dict[str, Any] = {
            "stage": "streaming_ingest",
            "epoch_id": epoch_id,
        }
        if scope is not None:
            lineage["epoch_scope"] = scope
        cat.write(
            keyed,
            table,
            partition_by=["day_bucket", "url_bucket"],
            sort_within=["url", "warc_ts"],
            mode="append",
            lineage=lineage,
        )

    writer = stream.writeStream.foreachBatch(_land).outputMode("append")
    if query_name:
        writer = writer.queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
