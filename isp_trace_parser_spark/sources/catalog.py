"""Table catalog shim: Iceberg-style table semantics over
hive-partitioned parquet.

No iceberg-spark-runtime jar ships in this sandbox (PySpark 4.1.2,
offline), so this module provides the subset of Iceberg behavior the
engine needs — snapshot commits, partition-granular overwrite/expiry,
sorted partitioned writes, and scan-time partition pruning — over plain
parquet directories. The public surface is designed so an Iceberg
catalog can be dropped in behind it (``write`` ->
``writeTo(...).overwritePartitions()``, ``expire_partitions`` ->
``DELETE FROM ... WHERE``, ``snapshots`` -> the real snapshot log)
without touching any engine code.

Layout per table::

    <warehouse>/<name>/<part_col>=<v>/.../part-*.parquet
    <warehouse>/<name>/_snapshots.jsonl      # append-only snapshot log
    <warehouse>/<name>/.stage-<uuid>/        # a change's files before they move in

Every change (``write``, ``compact``, ``expire_partitions``,
``rollback``) takes one order, the metadata swap of the Iceberg table
spec: Spark writes the new files into a staging directory, they move
into their partition directories, the manifest naming them commits (one
appended log line), and only then are the files it no longer names
deleted. A crash before the commit leaves orphans no read plans; one
after it leaves replaced files no read plans; ``vacuum`` removes both.
Nothing deletes the table directory, so the log keeps its history.

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

_STAGE = ".stage-"
_WRITE_MODES = ("overwrite", "dynamic", "append")


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


def _data_files(files: list[str]) -> list[str]:
    # '.'/'_' prefixed files (checksums, _SUCCESS) are invisible to scans
    return [f for f in files if f.endswith(".parquet") and not f.startswith((".", "_"))]


def _stat_dir(d: str, names: list[str]) -> dict[str, Any]:
    """Manifest entry of the data files ``names`` in directory ``d``."""
    sizes = {f: os.path.getsize(os.path.join(d, f)) for f in sorted(names)}
    # exact row counts from parquet footers: O(footer) per file, no data
    # scan, no Spark job
    rows = 0
    for f in sizes:
        try:
            rows += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        except Exception:
            rows = -1  # unreadable footer: mark unknown, never lie
            break
    # fingerprint = hash of (name, size) pairs: every Spark write
    # produces fresh part-file UUIDs, so any rewrite changes the sig —
    # the basis for snapshot-diff incremental processing
    sig = hashlib.sha1(
        "|".join(f"{f}:{s}" for f, s in sizes.items()).encode()
    ).hexdigest()[:12]
    return {
        "files": len(sizes),
        "bytes": sum(sizes.values()),
        "rows": rows,
        "sig": sig,
        # every read plans its scan from these names
        "names": list(sizes),
    }


def _dropped(old: dict[str, Any], new: dict[str, Any]) -> list[str]:
    """Files (relative to the table) manifest ``old`` names and ``new``
    does not."""
    return sorted(
        os.path.join(rel, f)
        for rel, m in old.items()
        for f in set(m.get("names", ())) - set(new.get(rel, {}).get("names", ()))
    )


def _delete(path: str, rels: list[str]) -> list[str]:
    """Delete the data files ``rels`` (relative to table dir ``path``)
    with their checksum files, then every partition directory this
    leaves empty. Returns ``rels``."""
    for rel in rels:
        fp = os.path.join(path, rel)
        os.remove(fp)
        crc = os.path.join(os.path.dirname(fp), f".{os.path.basename(fp)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    for d in sorted({os.path.dirname(os.path.join(path, r)) for r in rels}, reverse=True):
        while d != path and os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)
            d = os.path.dirname(d)
    return rels


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
    ) -> dict[str, Any]:
        """Partitioned, optionally within-partition-sorted write.

        ``mode``: ``'overwrite'`` replaces the table, ``'dynamic'`` only
        the leaf partitions ``df`` holds (Iceberg ``overwritePartitions``),
        ``'append'`` adds files beside the existing ones. The change
        follows the staging protocol of the module docstring, so no
        reader or crash sees a half-replaced table.

        Write parallelism: repartitioning on the partition columns alone
        would put each partition VALUE through exactly one reducer — a
        hot day at 100x scale funnels tens of GB through a single task.
        So the shuffle key is ``(*partition_by, salt)`` where salt is
        the xxhash64 of the leading ``sort_within`` column (the series
        key) modulo ``partitioning.write_salt_buckets`` (scales with the
        cluster), keeping each series whole within one file while a hot
        partition fans out across that many tasks. ``repartition=False``
        skips this shuffle for a frame the caller already distributed
        on the same key (``partitioning.write_salt``).
        """
        if mode not in _WRITE_MODES:
            raise ValueError(f"write mode must be one of {_WRITE_MODES}, got {mode!r}")
        path = self.table_path(name)
        partition_by = partition_by or []
        writer_df = df
        if partition_by:
            if repartition:
                cols = [F.col(c) for c in partition_by]
                salt_src = [
                    c for c in (sort_within or [])[:1] if c not in partition_by
                ]
                if salt_src:
                    cols.append(write_salt(salt_src, write_salt_buckets(self.spark)))
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

        staged = self._stage(writer_df.write.partitionBy(*partition_by), path, path)
        prev = self.last_snapshot(name) or {}
        parts = {} if mode == "overwrite" else dict(prev.get("partitions", {}))
        for rel, m in staged.items():
            if mode == "append" and rel in parts:
                m = _stat_dir(os.path.join(path, rel), parts[rel]["names"] + m["names"])
            parts[rel] = m

        fields = [
            f.jsonValue() for f in df.schema.fields if f.name not in partition_by
        ]
        if mode != "overwrite" and prev.get("schema"):
            # files of the earlier schema stay in place: store the union
            known = {f["name"] for f in prev["schema"]["fields"]}
            fields = prev["schema"]["fields"] + [
                f for f in fields if f["name"] not in known
            ]
        return self._commit(
            name,
            f"write:{mode}",
            prev,
            parts,
            partition_by=partition_by,
            schema={"type": "struct", "fields": fields},
            lineage=lineage or {},
        )

    def _stage(self, writer, path: str, dest: str) -> dict[str, dict[str, Any]]:
        """Run ``writer`` into a fresh staging directory under table dir
        ``path``, move its data files (and their checksum files) into
        ``dest`` and return their manifest entries, keyed by partition
        dir relative to ``dest``. Spark puts its job UUID in every file
        name, so a move never replaces a file."""
        stage = os.path.join(path, f"{_STAGE}{uuid.uuid4().hex}")
        writer.mode("errorifexists").parquet(stage)
        staged = self._stat_tree(stage)
        for rel, m in staged.items():
            src, dst = os.path.join(stage, rel), os.path.join(dest, rel)
            os.makedirs(dst, exist_ok=True)
            for f in m["names"]:
                crc = f".{f}.crc"
                if os.path.exists(os.path.join(src, crc)):
                    os.rename(os.path.join(src, crc), os.path.join(dst, crc))
                os.rename(os.path.join(src, f), os.path.join(dst, f))
        shutil.rmtree(stage)
        return staged

    def _commit(
        self,
        name: str,
        operation: str,
        prev: dict[str, Any],
        partitions: dict[str, Any],
        **commit: Any,
    ) -> dict[str, Any]:
        """Commit ``partitions`` as the table's manifest, then delete the
        files of ``prev``'s manifest it no longer names."""
        gone = _dropped(prev.get("partitions", {}), partitions)
        snap = self.commit_snapshot(name, operation, partitions=partitions, **commit)
        _delete(self.table_path(name), gone)
        return snap

    # -- snapshots / lineage ------------------------------------------------
    def _stat_tree(self, root_dir: str) -> dict[str, dict[str, Any]]:
        """Manifest entries of every dir under ``root_dir`` that directly
        contains data files, keyed relative to ``root_dir``."""
        out: dict[str, dict[str, Any]] = {}
        for root, dirs, files in os.walk(root_dir):
            # '.'/'_' prefixed entries are invisible to Spark scans
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            pqs = _data_files(files)
            if pqs:
                rel = os.path.relpath(root, root_dir)
                out[rel if rel != "." else ""] = _stat_dir(root, pqs)
        return out

    def commit_snapshot(
        self,
        name: str,
        operation: str,
        partitions: dict[str, Any] | None = None,
        partition_by: list[str] | None = None,
        lineage: dict[str, Any] | None = None,
        schema: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Append a snapshot record: the manifest ``partitions`` (per
        leaf partition dir: ``files``, ``bytes``, ``rows``, ``sig``,
        ``names``) and its table totals.

        ``partitions``, ``partition_by`` and ``schema`` (the data
        columns as a ``StructType`` JSON value) default to the previous
        snapshot's, so a commit that writes no data keeps the table as
        it is. Metadata only: the commit walks no directory, so its cost
        grows with the manifest, never with the files on disk."""
        prev = self.last_snapshot(name) or {}
        if partitions is None:
            partitions = prev.get("partitions", {})
        if partition_by is None:
            partition_by = prev.get("partition_by", [])
        if schema is None:
            schema = prev.get("schema")
        # carried-forward partitions from pre-rows snapshots may lack the
        # field; -1 marks an unknown footer — propagate, never guess
        row_parts = [m.get("rows", -1) for m in partitions.values()]
        snap = {
            "snapshot_id": uuid.uuid4().hex[:16],
            "ts": time.time(),
            "operation": operation,
            "partition_by": partition_by,
            "schema": schema,
            "files": sum(m["files"] for m in partitions.values()),
            "bytes": sum(m["bytes"] for m in partitions.values()),
            "rows": -1 if any(r < 0 for r in row_parts) else sum(row_parts),
            "partitions": partitions,
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
        """Remove what no commit names (Iceberg ``remove_orphan_files``
        analog): parquet files under the table that the LAST snapshot's
        manifest does not reference — files an interrupted change moved
        in before its commit or left after it, files of rolled-back
        appends — and leftover ``.stage-*`` directories. Driver-side
        metadata work: one walk of the table tree, deletes only; never
        touches a file the current snapshot references, and refuses to
        run if the last snapshot predates file manifests."""
        path = self.table_path(name)
        live = set(self._manifest_files(self._snapshot(name, None), path))
        stages = sorted(d for d in os.listdir(path) if d.startswith(_STAGE))
        for d in stages:
            shutil.rmtree(os.path.join(path, d))
        orphans: list[str] = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            orphans += [
                os.path.relpath(os.path.join(root, f), path)
                for f in _data_files(files)
                if os.path.join(root, f) not in live
            ]
        return self.commit_snapshot(
            name,
            "vacuum",
            lineage={
                "removed_files": _delete(path, sorted(orphans)),
                "removed_dirs": stages,
            },
        )

    def rollback(self, name: str, snapshot_id: str) -> dict[str, Any]:
        """Restore the table to an earlier snapshot (Iceberg
        ``rollback_to_snapshot`` analog, append-only history): verify
        every file the target manifest references still exists, commit
        the target's manifest, then delete the files it does not name.
        Fails loud (no partial rollback) if the target's files were
        rewritten by an overwrite/compact/expire in between."""
        path = self.table_path(name)
        target = self._snapshot(name, snapshot_id)
        missing = [
            fp for fp in self._manifest_files(target, path) if not os.path.exists(fp)
        ]
        if missing:
            raise ValueError(
                f"cannot roll {name!r} back to {snapshot_id!r}: "
                f"{len(missing)} referenced file(s) no longer exist "
                f"(rewritten/expired); first missing: {missing[0]}"
            )
        prev = self._snapshot(name, None)
        return self._commit(
            name,
            "rollback",
            prev,
            target["partitions"],
            partition_by=target.get("partition_by"),
            schema=target.get("schema"),
            lineage={
                "rolled_back_to": snapshot_id,
                "removed_files": _dropped(prev["partitions"], target["partitions"]),
            },
        )

    # -- retention -----------------------------------------------------------
    def list_partitions(self, name: str, partition_col: str) -> list[str]:
        """Top-level partition values of ``partition_col`` (on-disk
        string form) in the last snapshot."""
        prefix = f"{partition_col}="
        return sorted(
            {
                rel.split("/", 1)[0][len(prefix):]
                for rel in (self.last_snapshot(name) or {}).get("partitions", {})
                if rel.startswith(prefix)
            }
        )

    def expire_partitions(
        self, name: str, partition_col: str, values: list[str]
    ) -> dict[str, Any]:
        """Drop whole partitions (Iceberg ``DELETE FROM t WHERE p IN (...)``
        + ``expire_snapshots`` analog). Partition-granular: no rewrite of
        surviving data — at 100 TB retention must never touch live rows.
        The commit leaves the partitions out; their files and
        directories are deleted after it. ``values`` are in their
        on-disk (escaped) form, as :meth:`list_partitions` returns them.
        """
        prev = self._snapshot(name, None)
        present = {rel.split("/", 1)[0] for rel in prev["partitions"]}
        dropped = [v for v in values if f"{partition_col}={v}" in present]
        gone = {f"{partition_col}={v}" for v in dropped}
        return self._commit(
            name,
            "expire",
            prev,
            {
                rel: m
                for rel, m in prev["partitions"].items()
                if rel.split("/", 1)[0] not in gone
            },
            lineage={"partition_col": partition_col, "dropped": dropped},
        )

    def compact(
        self,
        name: str,
        sort_within: list[str] | None = None,
        target_file_bytes: int = 128 << 20,
        partitions: list[str] | None = None,
    ) -> dict[str, Any]:
        """Partition-scoped small-file compaction (Iceberg
        ``rewrite_data_files`` analog). Streaming appends and dynamic
        overwrites accrete small files; compaction restores scan
        efficiency without changing data.

        Victims are chosen from the last snapshot's per-partition
        {files, bytes} metrics — no ``count()`` job, no full-table read.
        A partition is rewritten only when its file count exceeds
        ``ceil(bytes / target_file_bytes)``. Each victim's files — the
        ones its manifest entry names, read with the recorded schema —
        are rewritten through a staging directory into the same
        partition directory; one commit then swaps every victim's file
        list and the originals are deleted after it. Untouched
        partitions' files are never read, rewritten, or deleted. A crash
        before the commit leaves the table as it was (vacuum removes the
        moved-in files), so re-running compaction converges.

        ``partitions``: explicit victim list (relative dirs) overrides
        metric-based selection; unknown names raise ValueError before
        anything is rewritten.
        """
        path = self.table_path(name)
        snap = self._snapshot(name, None)
        metrics = snap["partitions"]

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
        reader = self.spark.read
        if snap.get("schema"):
            reader = reader.schema(StructType.fromJson(snap["schema"]))
        parts = dict(metrics)
        for rel in victims:
            pdir = os.path.join(path, rel)
            # file paths without a basePath: data columns only; partition
            # values stay encoded in the directory name, so a rewrite
            # into the same dir preserves them
            part_df = reader.parquet(
                *(os.path.join(pdir, f) for f in metrics[rel]["names"])
            )
            out = part_df.repartition(n_target(rel))
            if sort_within:
                keep = [c for c in sort_within if c in part_df.columns]
                if keep:
                    out = out.sortWithinPartitions(*keep)
            parts[rel] = self._stage(out.write, path, pdir)[""]
        return self._commit(
            name,
            "compact",
            snap,
            parts,
            lineage={"compacted_partitions": victims},
        )

    def drop_table(self, name: str) -> None:
        path = self.table_path(name)
        if os.path.exists(path):
            shutil.rmtree(path)
