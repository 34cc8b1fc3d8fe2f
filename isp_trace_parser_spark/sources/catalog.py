"""Table catalog shim: Iceberg-style table semantics over
hive-partitioned parquet.

No iceberg-spark-runtime jar ships in this sandbox (PySpark 4.1.2,
offline), so this module provides the subset of Iceberg behavior the
engine needs — atomic-enough snapshot bookkeeping, partition-granular
overwrite/expiry, sorted partitioned writes, and scan-time partition
pruning — over plain parquet directories. The public surface is designed
so an Iceberg catalog can be dropped in behind it (``write`` ->
``writeTo(...).overwritePartitions()``, ``expire_partitions`` ->
``DELETE FROM ... WHERE``, ``snapshots`` -> the real snapshot log)
without touching any engine code.

Layout per table::

    <warehouse>/<name>/<part_col>=<v>/.../part-*.parquet
    <warehouse>/<name>/_snapshots.jsonl      # append-only snapshot log

Each commit appends one JSON line to the snapshot log. Its fields:
``snapshot_id``, ``ts``, ``operation``, ``partition_by``, ``schema``
(the data columns: the written frame's columns minus the partition
columns, as a Spark ``StructType`` JSON value; an append or dynamic
overwrite stores the union with the previous schema), table totals
``files``/``bytes``/``rows``, ``partitions`` (per leaf partition dir:
``files``, ``bytes``, ``rows``, a fingerprint ``sig`` and the file
``names``) and free-form ``lineage``. Commits that write no data
(expire, vacuum, rollback, compact) carry ``partition_by`` and
``schema`` forward.

Reads plan from a committed snapshot, never from the directory tree:
``read`` takes the snapshot's file list, drops the partitions outside
the caller's filter and scans those files with the recorded schema. A
read therefore lists no directory and infers no schema, sees only
committed files, and launches no Spark job while it plans a window of
up to 32 files (Spark lists more paths than that with a job).
Partition column types still come from Spark's inference over the
paths read.

Replaces the reference's file-per-entity layout + manual per-partition
DuckDB COPY loop (reference: src/isp_trace_parser/optimise_parquet.py:21-95)
with one declarative ``repartition + sortWithinPartitions + partitionBy``
write — Spark's shuffle/spill machinery bounds memory instead of the
reference's hand-rolled per-partition queries (optimise_parquet.py:32-33).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from typing import Any, BinaryIO, Callable, Iterator

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from isp_trace_parser_spark.plans.partitioning import write_salt, write_salt_buckets

# characters Spark escapes in hive partition directory names
# (ExternalCatalogUtils.escapePathName charset)
_HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^\x7f') | {chr(i) for i in range(0x20)}


def _escape_hive_value(v: Any) -> str:
    """Partition value -> the directory-name form Spark writes on disk."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    s = str(v)
    return "".join(f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in s)


def hive_partition_rel(cols: list[str], values: list[Any]) -> str:
    """Relative partition dir for a (cols, values) tuple, e.g.
    ``day=2024-01-01/url_bucket=3``."""
    return "/".join(
        f"{c}={_escape_hive_value(v)}" for c, v in zip(cols, values)
    )


def _lines_from_end(fh: BinaryIO) -> Iterator[bytes]:
    """The newline-separated pieces of a file, last first, read back in
    64 KiB steps. The first piece is the text after the last newline."""
    pos = fh.seek(0, os.SEEK_END)
    head = b""  # the unread start of the earliest piece seen so far
    while pos:
        step = min(pos, 1 << 16)
        pos -= step
        fh.seek(pos)
        pieces = (fh.read(step) + head).split(b"\n")
        head = pieces[0]
        yield from reversed(pieces[1:])
    yield head


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- paths -----------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _snapshot_log(self, name: str) -> str:
        return os.path.join(self.table_path(name), "_snapshots.jsonl")

    def exists(self, name: str) -> bool:
        return os.path.exists(self._snapshot_log(name))

    # -- IO ----------------------------------------------------------------
    def read(
        self,
        name: str,
        snapshot_id: str | None = None,
        partitions: Callable[[str], bool] | None = None,
    ) -> DataFrame:
        """The table as of a committed snapshot: the last one, or
        ``snapshot_id`` (Iceberg ``VERSION AS OF`` analog).

        ``partitions`` is a predicate on the top-level partition value
        in its on-disk string form (e.g. ``"2024-01-05"`` for
        ``day_bucket=2024-01-05``); partitions it rejects are dropped
        before the scan is planned. Files of an unpartitioned table are
        always read. A filter that keeps no partition returns an empty
        frame with the table's full schema.

        Time travel is valid across append history: overwrites,
        compaction and expiry delete files eagerly (single-copy storage;
        Iceberg keeps them until ``expire_snapshots``), so a snapshot
        whose files are gone raises instead of returning partial data.
        """
        snap = self._snapshot(name, snapshot_id)
        path = self.table_path(name)
        files = self._manifest_files(snap, path, partitions)
        missing = [fp for fp in files if not os.path.exists(fp)]
        if missing:
            raise ValueError(
                f"snapshot {snap['snapshot_id']!r} of {name!r} is no longer "
                f"readable: {len(missing)} file(s) were rewritten or "
                "expired by a later overwrite/compact/expire (time "
                "travel is retained across appends only); first "
                f"missing: {missing[0]}"
            )
        # basePath keeps partition columns typed + present after pruning
        reader = self.spark.read.option("basePath", path)
        if snap.get("schema"):
            reader = reader.schema(StructType.fromJson(snap["schema"]))
        if files:
            return reader.parquet(*files)
        every = self._manifest_files(snap, path)
        if not every:
            raise ValueError(
                f"table {name!r} has no data files at snapshot "
                f"{snap['snapshot_id']!r}"
            )
        # one file plans the full schema (partition columns included);
        # the false filter folds to an empty relation
        return reader.parquet(every[0]).where(F.lit(False))

    def _snapshot(self, name: str, snapshot_id: str | None) -> dict[str, Any]:
        if snapshot_id is None:
            snap = self.last_snapshot(name)
            if snap is None:
                raise ValueError(f"unknown table {name!r}")
            return snap
        for snap in self.snapshots(name):
            if snap["snapshot_id"] == snapshot_id:
                return snap
        raise ValueError(f"unknown snapshot {snapshot_id!r} for {name!r}")

    def _manifest_files(
        self,
        snap: dict[str, Any],
        path: str,
        partitions: Callable[[str], bool] | None = None,
    ) -> list[str]:
        """Absolute data-file paths a snapshot's manifest references,
        in the partitions whose top-level value ``partitions`` keeps.
        Raises for a snapshot that predates file manifests."""
        out: list[str] = []
        for rel, m in sorted(snap.get("partitions", {}).items()):
            if "names" not in m:
                raise ValueError(
                    f"snapshot {snap['snapshot_id']!r} predates file "
                    "manifests; commit once with this engine version"
                )
            if partitions is not None and rel and not partitions(
                rel.split("/", 1)[0].split("=", 1)[1]
            ):
                continue
            pdir = os.path.join(path, rel) if rel else path
            out.extend(os.path.join(pdir, fn) for fn in m["names"])
        return out

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        sort_within: list[str] | None = None,
        mode: str = "overwrite",
        repartition: bool = True,
        lineage: dict[str, Any] | None = None,
        dist_buckets: int | str | None = "auto",
        touched_partitions: list[str] | None = None,
    ) -> dict[str, Any]:
        """Partitioned, optionally within-partition-sorted write.

        ``mode='dynamic'`` overwrites only the partitions present in
        ``df`` (Iceberg ``overwritePartitions`` semantics) and leaves the
        rest of the table intact.

        Write parallelism: repartitioning on the partition columns alone
        would put each partition VALUE through exactly one reducer — a
        hot day at 100x scale funnels tens of GB through a single task.
        So the shuffle key is ``(*partition_by, salt)`` where salt is
        the xxhash64 of the leading ``sort_within`` column (the series
        key) modulo ``dist_buckets``, keeping each series whole within
        one file while a hot partition fans out across up to
        ``dist_buckets`` tasks. ``dist_buckets='auto'`` scales with the
        cluster (``partitioning.write_salt_buckets``); pass None to force
        the old one-file-per-partition layout. ``repartition=False``
        skips this shuffle for a frame the caller already distributed
        on the same key (``partitioning.write_salt``).

        ``touched_partitions``: relative partition dirs this write
        replaces/appends (e.g. ``["day=2024-01-01"]``) — lets the
        snapshot commit stat only those subtrees. Derived automatically
        for incremental modes (``dynamic``/partitioned ``append``) from
        a column-pruned DISTINCT over the partition columns when not
        given; pass it explicitly when the caller already knows (the
        pipeline does) to avoid re-running the plan.
        """
        path = self.table_path(name)
        writer_df = df
        if partition_by:
            if repartition:
                cols = [F.col(c) for c in partition_by]
                salt_src = [
                    c for c in (sort_within or [])[:1] if c not in partition_by
                ]
                nb = dist_buckets
                if nb == "auto":
                    nb = write_salt_buckets(self.spark)
                if salt_src and nb and int(nb) > 1:
                    writer_df = writer_df.repartition(
                        *cols, write_salt(salt_src, int(nb))
                    )
                else:
                    writer_df = writer_df.repartition(*cols)
            if sort_within:
                # partition cols MUST prefix the sort: FileFormatWriter
                # otherwise injects its own sort by partition cols and
                # destroys the requested within-file order
                writer_df = writer_df.sortWithinPartitions(
                    *partition_by, *sort_within
                )
        elif sort_within:
            writer_df = writer_df.sortWithinPartitions(*sort_within)

        writer = writer_df.write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if mode == "dynamic":
            writer = writer.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            )
        else:
            writer = writer.mode(mode)
        writer.parquet(path)

        if (
            touched_partitions is None
            and partition_by
            and mode in ("dynamic", "append")
            and self.exists(name)
        ):
            touched_partitions = self._df_partitions(df, partition_by)
        fields = [
            f.jsonValue()
            for f in df.schema.fields
            if f.name not in (partition_by or [])
        ]
        if mode != "overwrite":
            # files of the earlier schema stay in place: store the union
            prev = (self.last_snapshot(name) or {}).get("schema")
            if prev:
                known = {f["name"] for f in prev["fields"]}
                fields = prev["fields"] + [
                    f for f in fields if f["name"] not in known
                ]
        return self.commit_snapshot(
            name,
            operation=f"write:{mode}",
            partition_by=partition_by or [],
            schema={"type": "struct", "fields": fields},
            lineage=lineage or {},
            touched_partitions=touched_partitions,
        )

    def _df_partitions(
        self, df: DataFrame, partition_by: list[str]
    ) -> list[str]:
        """Relative partition dirs present in ``df`` — one column-pruned
        DISTINCT job over just the partition columns (cheap for the
        incremental frames that use dynamic/append mode; the full-table
        directory walk it replaces grows with table AGE, this grows with
        increment size)."""
        rows = df.select(*partition_by).distinct().collect()
        return [
            hive_partition_rel(partition_by, [r[c] for c in partition_by])
            for r in rows
        ]

    # -- snapshots / lineage ------------------------------------------------
    def _stat_tree(
        self, root_dir: str, base: str | None = None
    ) -> dict[str, dict[str, int]]:
        """Per-directory {files, bytes, sig} metrics for every dir under
        ``root_dir`` that directly contains parquet files; keys are
        relative to ``base`` (default ``root_dir``)."""
        base = base or root_dir
        out: dict[str, dict[str, int]] = {}
        for root, dirs, files in os.walk(root_dir):
            # '.'/'_' prefixed entries are invisible to Spark scans
            # (e.g. crash-leftover .compact_tmp dirs) — keep metrics
            # consistent with what a query actually reads
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            pqs = [
                f
                for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
            if not pqs:
                continue
            rel = os.path.relpath(root, base)
            b = sum(os.path.getsize(os.path.join(root, f)) for f in pqs)
            # exact row counts from parquet footers (north_rule:
            # per-partition rows/bytes metrics). O(footer) per file,
            # only for partitions this commit touches — no data scan,
            # no Spark job.
            rows = 0
            for f in pqs:
                try:
                    rows += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
                except Exception:
                    rows = -1  # unreadable footer: mark unknown, never lie
                    break
            # fingerprint = hash of (name, size) pairs: every Spark write
            # produces fresh part-file UUIDs, so any rewrite changes the
            # sig — the basis for snapshot-diff incremental processing
            sig = hashlib.sha1(
                "|".join(
                    f"{f}:{os.path.getsize(os.path.join(root, f))}"
                    for f in sorted(pqs)
                ).encode()
            ).hexdigest()[:12]
            out[rel if rel != "." else ""] = {
                "files": len(pqs),
                "bytes": b,
                "rows": rows,
                "sig": sig,
                # file-level manifest: every read plans its scan from
                # these names (the latest snapshot or an earlier one
                # whose files still exist). Name lists are metadata-
                # scale: O(files in partition), recorded only for touched
                # partitions per commit.
                "names": sorted(pqs),
            }
        return out

    def commit_snapshot(
        self,
        name: str,
        operation: str,
        partition_by: list[str] | None = None,
        lineage: dict[str, Any] | None = None,
        touched_partitions: list[str] | None = None,
        removed_partitions: list[str] | None = None,
        schema: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Append a snapshot record with per-partition file/byte metrics.

        ``partition_by`` and ``schema`` (the data columns as a
        ``StructType`` JSON value) default to the previous snapshot's,
        so a commit that writes no data keeps the table's layout.

        When ``touched_partitions`` and/or ``removed_partitions`` are
        given (relative partition dirs, e.g. ``day=2024-01-01``), only
        those subtrees are re-stated; every other partition's metrics
        carry forward from the previous snapshot. This keeps an
        incremental commit O(partitions touched) — NOT O(all files in
        the table), which at 100 TB table age would make every append
        pay a full driver filesystem walk (the cost Iceberg manifests
        exist to avoid). ``None``/``None`` (e.g. a full overwrite) stats
        the whole tree."""
        path = self.table_path(name)
        prev = self.last_snapshot(name) or {}
        if partition_by is None:
            partition_by = prev.get("partition_by", [])
        if schema is None:
            schema = prev.get("schema")
        if touched_partitions is None and removed_partitions is None:
            part_metrics = self._stat_tree(path)
        else:
            part_metrics = dict(prev.get("partitions", {}))
            for rp in list(removed_partitions or []) + list(
                touched_partitions or []
            ):
                for k in [
                    k
                    for k in part_metrics
                    if k == rp or k.startswith(rp + "/")
                ]:
                    part_metrics.pop(k)
            for rp in touched_partitions or []:
                pdir = os.path.join(path, rp) if rp else path
                if os.path.isdir(pdir):
                    part_metrics.update(self._stat_tree(pdir, base=path))
        total_bytes = sum(m["bytes"] for m in part_metrics.values())
        n_files = sum(m["files"] for m in part_metrics.values())
        # carried-forward partitions from pre-rows snapshots may lack the
        # field; -1 marks an unknown footer — propagate, never guess
        row_parts = [m.get("rows", -1) for m in part_metrics.values()]
        total_rows = -1 if any(r < 0 for r in row_parts) else sum(row_parts)
        snap = {
            "snapshot_id": uuid.uuid4().hex[:16],
            "ts": time.time(),
            "operation": operation,
            "partition_by": partition_by,
            "schema": schema,
            "files": n_files,
            "bytes": total_bytes,
            "rows": total_rows,
            "partitions": part_metrics,
            "lineage": lineage or {},
        }
        with open(self._snapshot_log(name), "a+b") as fh:
            end = fh.seek(0, os.SEEK_END)
            if end:
                fh.seek(end - 1)
                if fh.read(1) != b"\n":
                    # a crash tore the last append: drop that uncommitted
                    # tail so this record starts on a fresh line
                    fh.seek(0)
                    fh.truncate(fh.read().rfind(b"\n") + 1)
            fh.write((json.dumps(snap) + "\n").encode())
        return snap

    def snapshots(self, name: str) -> list[dict[str, Any]]:
        """Committed snapshot records, oldest first. A record is
        committed once its line ends in a newline: an unterminated final
        line is a torn append and is ignored; a corrupt line anywhere
        else raises."""
        return list(self.snapshots_newest_first(name))[::-1]

    def last_snapshot(self, name: str) -> dict[str, Any] | None:
        """The last committed record, read back from the end of the log:
        O(1) in table history. A torn final line is ignored, as in
        :meth:`snapshots`."""
        return next(self.snapshots_newest_first(name), None)

    def snapshots_newest_first(self, name: str) -> Iterator[dict[str, Any]]:
        """Committed snapshot records, newest first, read lazily back
        from the end of the log: a caller that stops at the record it
        needs parses nothing older. A torn final line is ignored, as in
        :meth:`snapshots`."""
        try:
            fh = open(self._snapshot_log(name), "rb")
        except FileNotFoundError:
            return
        with fh:
            lines = _lines_from_end(fh)
            next(lines)  # the text after the last newline: torn or empty
            for line in lines:
                if line.strip():
                    yield json.loads(line)

    def vacuum(self, name: str) -> dict[str, Any]:
        """Remove orphan files (Iceberg ``remove_orphan_files`` analog):
        parquet files under the table directory that the LAST snapshot's
        manifest does not reference — crash leftovers from interrupted
        writes, files of rolled-back appends — plus stray hidden
        tmp/parked dirs older than a completed compaction recovery.
        Driver-side metadata work: one walk of the table tree, deletes
        only; never touches a file the current snapshot references, and
        refuses to run if the last snapshot predates file manifests."""
        path = self.table_path(name)
        live = set(self._manifest_files(self._snapshot(name, None), path))
        removed_files: list[str] = []
        removed_dirs: list[str] = []
        for root, dirs, files in os.walk(path):
            for d in list(dirs):
                if d.startswith((".", "_")) and d.endswith(
                    (".compact_tmp", ".compact_old")
                ):
                    shutil.rmtree(os.path.join(root, d))
                    removed_dirs.append(os.path.relpath(os.path.join(root, d), path))
                    dirs.remove(d)
            for f in files:
                if not f.endswith(".parquet") or f.startswith((".", "_")):
                    continue
                fp = os.path.join(root, f)
                if fp not in live:
                    os.remove(fp)
                    removed_files.append(os.path.relpath(fp, path))
        return self.commit_snapshot(
            name,
            "vacuum",
            lineage={
                "removed_files": sorted(removed_files),
                "removed_dirs": sorted(removed_dirs),
            },
        )

    def rollback(self, name: str, snapshot_id: str) -> dict[str, Any]:
        """Restore the table to an earlier snapshot (Iceberg
        ``rollback_to_snapshot`` analog, append-only history): verify
        every file the target manifest references still exists, delete
        the files later commits added, and commit a ``rollback``
        snapshot. Fails loud (no partial rollback) if the target's files
        were rewritten by an overwrite/compact/expire in between."""
        path = self.table_path(name)
        target = self._snapshot(name, snapshot_id)
        keep = set(self._manifest_files(target, path))
        missing = [fp for fp in keep if not os.path.exists(fp)]
        if missing:
            raise ValueError(
                f"cannot roll {name!r} back to {snapshot_id!r}: "
                f"{len(missing)} referenced file(s) no longer exist "
                f"(rewritten/expired); first missing: {missing[0]}"
            )
        removed: list[str] = []
        for root, dirs, files in os.walk(path, topdown=False):
            # bottom-up walks ignore dirname mutation, so filter by path
            # component instead: never descend into hidden/recovery dirs
            # (.compact_old/.compact_tmp) — their files are not ours to GC
            rel = os.path.relpath(root, path)
            if rel != os.curdir and any(
                c.startswith((".", "_")) for c in rel.split(os.sep)
            ):
                continue
            for f in files:
                if not f.endswith(".parquet") or f.startswith((".", "_")):
                    continue
                fp = os.path.join(root, f)
                if fp not in keep:
                    os.remove(fp)
                    removed.append(os.path.relpath(fp, path))
            if not os.listdir(root) and root != path:
                os.rmdir(root)  # drop now-empty partition dirs
        return self.commit_snapshot(
            name,
            "rollback",
            partition_by=target.get("partition_by"),
            schema=target.get("schema"),
            lineage={
                "rolled_back_to": snapshot_id,
                "removed_files": sorted(removed),
            },
        )

    # -- retention -----------------------------------------------------------
    def list_partitions(self, name: str, partition_col: str) -> list[str]:
        """Top-level partition values of ``partition_col`` (string form)."""
        path = self.table_path(name)
        prefix = f"{partition_col}="
        out = []
        if not os.path.exists(path):
            return out
        for entry in sorted(os.listdir(path)):
            if entry.startswith(prefix) and os.path.isdir(os.path.join(path, entry)):
                out.append(entry[len(prefix):])
        return out

    def expire_partitions(
        self, name: str, partition_col: str, values: list[str]
    ) -> dict[str, Any]:
        """Drop whole partitions (Iceberg ``DELETE FROM t WHERE p IN (...)``
        + ``expire_snapshots`` analog). Partition-granular: no rewrite of
        surviving data — at 100 TB retention must never touch live rows.
        """
        path = self.table_path(name)
        dropped = []
        for v in values:
            pdir = os.path.join(path, f"{partition_col}={v}")
            if os.path.exists(pdir):
                shutil.rmtree(pdir)
                dropped.append(v)
        return self.commit_snapshot(
            name,
            operation="expire",
            lineage={"partition_col": partition_col, "dropped": dropped},
            touched_partitions=[],
            # values arrive in their ON-DISK (already-escaped) form —
            # the same spelling rmtree matched above and the snapshot
            # metrics key by; escaping again would corrupt '%' values
            removed_partitions=[f"{partition_col}={v}" for v in dropped],
        )

    def compact(
        self,
        name: str,
        sort_within: list[str] | None = None,
        target_rows_per_file: int | None = None,
        target_file_bytes: int = 128 << 20,
        partitions: list[str] | None = None,
    ) -> dict[str, Any]:
        """Partition-scoped small-file compaction (Iceberg
        ``rewrite_data_files`` analog). Streaming appends and dynamic
        overwrites accrete small files; compaction restores scan
        efficiency without changing data.

        Scale design (VERDICT r2 #3): victims are chosen from the last
        snapshot's per-partition {files, bytes} metrics — no ``count()``
        job, no full-table read. A partition is rewritten only when its
        file count exceeds ``ceil(bytes / target_file_bytes)``; each
        victim is rewritten INDEPENDENTLY into a hidden sibling dir
        (``.<part>.compact_tmp`` — dot-prefixed, so concurrent Spark
        scans never see it) and swapped in with two renames. Untouched
        partitions' files are never read, rewritten, or deleted.

        Crash-safety: the replacement files are fully on disk before any
        original file is removed, and every intermediate state is
        RECOVERABLE — ``compact()`` begins with a recovery sweep that
        restores any partition parked at ``.<part>.compact_old`` by an
        interrupted prior run (and clears stray tmp dirs), so re-running
        compaction after a crash converges. The unpartitioned-root
        branch parks the live files in a hidden dir before moving the
        replacements in (never delete-then-copy). A crash can briefly
        hide a partition from concurrent readers (dot-dirs are invisible
        to scans) but can never lose data.

        ``partitions``: explicit victim list (relative dirs) overrides
        metric-based selection; unknown names raise ValueError before
        anything is rewritten. ``target_rows_per_file`` is accepted for
        back-compat and converted to a bytes target assuming ~64 B/row.
        """
        if target_rows_per_file is not None:
            target_file_bytes = max(1, target_rows_per_file * 64)
        path = self.table_path(name)
        self._recover_compaction(path)
        snap = self.last_snapshot(name)
        metrics = (snap or {}).get("partitions") or self._stat_tree(path)

        def n_target(rel: str) -> int:
            return max(1, -(-metrics[rel]["bytes"] // target_file_bytes))

        if partitions is not None:
            unknown = [rel for rel in partitions if rel not in metrics]
            if unknown:
                raise ValueError(
                    f"compact: partitions not in {name}'s snapshot "
                    f"metrics (need leaf partition dirs): {unknown}"
                )
            victims = list(partitions)
        else:
            victims = [
                rel
                for rel, m in metrics.items()
                if m["files"] > n_target(rel)
            ]
        compacted = []
        for rel in victims:
            pdir = os.path.join(path, rel) if rel else path
            # leaf partition dir: data columns only; partition values
            # stay encoded in the directory name, so a straight rewrite
            # into the same dir preserves them
            part_df = self.spark.read.parquet(pdir)
            out = part_df.repartition(n_target(rel))
            if sort_within:
                keep = [c for c in sort_within if c in part_df.columns]
                if keep:
                    out = out.sortWithinPartitions(*keep)
            d, base = os.path.split(pdir if rel else os.path.join(path, "root"))
            tmp = os.path.join(d, f".{base}.compact_tmp")
            old = os.path.join(d, f".{base}.compact_old")
            out.write.mode("overwrite").parquet(tmp)
            if rel:
                os.rename(pdir, old)
                os.rename(tmp, pdir)
                shutil.rmtree(old)
            else:
                # unpartitioned root holds the snapshot log: park the
                # live files in the hidden old-dir FIRST (recoverable),
                # then move the replacements in, then drop the parked
                # copies — originals are never deleted before the
                # replacement set is fully in place
                os.makedirs(old, exist_ok=True)
                for f in os.listdir(path):
                    if f.endswith(".parquet"):
                        os.rename(os.path.join(path, f), os.path.join(old, f))
                # marker = "originals fully parked"; recovery uses it to
                # tell partial-park (roll old back, keep root) from
                # partial-move-in (drop root's replacements, restore old)
                open(os.path.join(old, ".parked"), "w").close()
                for f in os.listdir(tmp):
                    if f.endswith(".parquet"):
                        os.rename(
                            os.path.join(tmp, f), os.path.join(path, f)
                        )
                shutil.rmtree(tmp)
                shutil.rmtree(old)
            compacted.append(rel)
        return self.commit_snapshot(
            name,
            operation="compact",
            lineage={"compacted_partitions": compacted},
            touched_partitions=compacted,
        )

    def _recover_compaction(self, path: str) -> None:
        """Restore any state left by an interrupted compact(): partitions
        parked at ``.<part>.compact_old`` are either rolled back (swap
        never completed) or cleaned up (swap completed, cleanup didn't),
        and stray tmp dirs are removed. Directory-walk only — no file
        reads; every interleaving converges to a consistent table."""
        for root, dirs, _files in os.walk(path):
            for d in [x for x in dirs if x.startswith(".")]:
                full = os.path.join(root, d)
                if d.endswith(".compact_tmp"):
                    shutil.rmtree(full)
                elif d.endswith(".compact_old"):
                    base = d[1 : -len(".compact_old")]
                    if base == "root":
                        marker = os.path.join(full, ".parked")
                        if os.path.exists(marker):
                            # originals fully parked: whatever parquet
                            # sits live is a partial replacement set
                            for f in os.listdir(path):
                                if f.endswith(".parquet"):
                                    os.remove(os.path.join(path, f))
                            os.remove(marker)
                        for f in os.listdir(full):
                            if f.endswith(".parquet"):
                                os.rename(
                                    os.path.join(full, f),
                                    os.path.join(path, f),
                                )
                        shutil.rmtree(full)
                    else:
                        live = os.path.join(root, base)
                        if os.path.exists(live):
                            shutil.rmtree(full)  # swap done; drop parked
                        else:
                            os.rename(full, live)  # roll back
            # don't descend into hidden/underscore dirs (just handled)
            dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]

    def drop_table(self, name: str) -> None:
        path = self.table_path(name)
        if os.path.exists(path):
            shutil.rmtree(path)
