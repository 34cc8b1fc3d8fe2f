"""Catalog shim invariants."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from isp_trace_parser_spark.sources.catalog import Catalog


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh"))


def _df(spark, n=1000):
    pdf = pd.DataFrame(
        {
            "k": [f"p{i % 3}" for i in range(n)],
            "ts": pd.date_range("2024-01-01", periods=n, freq="7min"),
            "v": range(n),
        }
    )
    return spark.createDataFrame(pdf.sample(frac=1.0, random_state=7))


def test_sort_within_partition_files(spark, cat):
    # regression: FileFormatWriter injects a sort by partition cols when
    # they don't prefix the requested ordering, scrambling the files
    cat.write(_df(spark), "t", partition_by=["k"], sort_within=["ts"])
    pdir = os.path.join(cat.table_path("t"), "k=p0")
    files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    for f in files:
        part = pd.read_parquet(os.path.join(pdir, f))
        assert part["ts"].is_monotonic_increasing


def test_write_fans_hot_partition_across_tasks(spark, cat):
    """A hot partition value must not serialize through one reducer:
    with the salted distribution, each partition value's rows fan out
    across >1 task (>1 file)."""
    pdf = pd.DataFrame(
        {
            "k": [f"p{i % 2}" for i in range(4000)],
            "series": [f"s{i % 64}" for i in range(4000)],
            "ts": pd.date_range("2024-01-01", periods=4000, freq="1min"),
            "v": range(4000),
        }
    )
    df = spark.createDataFrame(pdf)
    # AQE would coalesce this 4000-row shuffle into one partition; at
    # scale a hot day exceeds the advisory size and keeps its buckets.
    # Disable coalescing so the salt's fan-out is observable at test size.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        cat.write(df, "hot", partition_by=["k"], sort_within=["series", "ts"])
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    for part in ("k=p0", "k=p1"):
        pdir = os.path.join(cat.table_path("hot"), part)
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        assert len(files) > 1, f"{part} wrote through a single task"
        for f in files:  # each file still (series, ts)-sorted
            data = pd.read_parquet(os.path.join(pdir, f))
            assert not data.sort_values(["series", "ts"]).reset_index(
                drop=True
            ).compare(data.reset_index(drop=True)).size


def test_dynamic_overwrite_preserves_other_partitions(spark, cat):
    cat.write(_df(spark), "t", partition_by=["k"])
    before = cat.read("t").where("k = 'p1'").count()
    only_p0 = _df(spark).where("k = 'p0'")
    cat.write(only_p0, "t", partition_by=["k"], mode="dynamic")
    assert cat.read("t").where("k = 'p1'").count() == before


def test_snapshot_log_and_sigs(spark, cat):
    cat.write(_df(spark), "t", partition_by=["k"])
    s1 = cat.last_snapshot("t")
    assert set(s1["partitions"]) == {"k=p0", "k=p1", "k=p2"}
    sigs1 = {k: v["sig"] for k, v in s1["partitions"].items()}
    # rewrite only p0 -> only p0's fingerprint changes
    cat.write(_df(spark).where("k = 'p0'"), "t", partition_by=["k"], mode="dynamic")
    sigs2 = {k: v["sig"] for k, v in cat.last_snapshot("t")["partitions"].items()}
    assert sigs1["k=p1"] == sigs2["k=p1"]
    assert sigs1["k=p2"] == sigs2["k=p2"]
    assert sigs1["k=p0"] != sigs2["k=p0"]


def test_compact_small_files(spark, cat):
    import glob

    # accrete small files via repeated appends
    for _ in range(4):
        cat.write(_df(spark, 400), "t", mode="append", repartition=False)
    files_before = glob.glob(os.path.join(cat.table_path("t"), "*.parquet"))
    rows_before = cat.read("t").count()
    assert len(files_before) > 8

    cat.compact("t", target_file_bytes=640_000)
    files_after = glob.glob(os.path.join(cat.table_path("t"), "*.parquet"))
    assert len(files_after) < len(files_before)
    assert cat.read("t").count() == rows_before
    assert cat.last_snapshot("t")["operation"] == "compact"


def test_expire_partitions(spark, cat):
    cat.write(_df(spark), "t", partition_by=["k"])
    cat.expire_partitions("t", "k", ["p0"])
    assert cat.list_partitions("t", "k") == ["p1", "p2"]
    ops = [s["operation"] for s in cat.snapshots("t")]
    assert ops[-1] == "expire"


def test_commit_snapshot_incremental_walks_only_touched(spark, cat, monkeypatch):
    """A dynamic single-partition write stats only the files it staged:
    the walk never enters the table root or an untouched partition."""
    from isp_trace_parser_spark.sources import catalog as catmod

    cat.write(_df(spark), "t", partition_by=["k"])
    full = cat.last_snapshot("t")["partitions"]
    path = cat.table_path("t")

    walked = []
    real_walk = os.walk

    def recording_walk(top, *a, **kw):
        for root, dirs, files in real_walk(top, *a, **kw):
            walked.append(os.path.relpath(root, path))
            yield root, dirs, files

    monkeypatch.setattr(catmod.os, "walk", recording_walk)
    cat.write(
        _df(spark).where("k = 'p0'"), "t", partition_by=["k"], mode="dynamic"
    )
    # one staging dir and its one partition: no table-root walk
    assert len(walked) == 2, walked
    stage = walked[0]
    assert stage.startswith(".stage-") and walked[1] == f"{stage}/k=p0"
    snap = cat.last_snapshot("t")["partitions"]
    # carried-forward metrics are byte-identical to a fresh full stat
    assert snap == cat._stat_tree(cat.table_path("t"))
    assert snap["k=p1"] == full["k=p1"] and snap["k=p2"] == full["k=p2"]
    assert snap["k=p0"]["sig"] != full["k=p0"]["sig"]


def test_expire_commit_is_incremental(spark, cat, monkeypatch):
    from isp_trace_parser_spark.sources import catalog as catmod

    cat.write(_df(spark), "t", partition_by=["k"])
    before = cat.last_snapshot("t")["partitions"]
    monkeypatch.setattr(
        catmod.os, "walk",
        lambda *a, **kw: (_ for _ in ()).throw(AssertionError("walked")),
    )
    snap = cat.expire_partitions("t", "k", ["p0"])
    assert set(snap["partitions"]) == {"k=p1", "k=p2"}
    assert snap["partitions"]["k=p1"] == before["k=p1"]
    assert snap["bytes"] == sum(
        m["bytes"] for r, m in before.items() if r != "k=p0"
    )


def test_compact_partition_scoped_and_atomic(spark, cat):
    """Only partitions whose file count exceeds the bytes-derived target
    are rewritten; untouched partitions' files stay byte-identical; a
    stray crash-leftover staging dir is invisible to reads."""
    import glob

    # p0 accretes small files via dynamic appends; p1/p2 stay single-file
    cat.write(_df(spark).coalesce(1), "t", partition_by=["k"], repartition=False)
    for _ in range(3):
        cat.write(
            _df(spark, 300).where("k = 'p0'"), "t",
            partition_by=["k"], mode="append", repartition=False,
        )
    path = cat.table_path("t")
    p1_files = {
        f: os.path.getsize(os.path.join(path, "k=p1", f))
        for f in os.listdir(os.path.join(path, "k=p1"))
    }
    rows_before = cat.read("t").count()
    assert len(glob.glob(os.path.join(path, "k=p0", "*.parquet"))) > 1

    # simulate a crash leftover from an earlier interrupted change
    junk = os.path.join(path, ".stage-junk", "k=p9")
    os.makedirs(junk, exist_ok=True)
    with open(os.path.join(junk, "part-junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    assert cat.read("t").count() == rows_before  # hidden dir ignored

    snap = cat.compact("t", sort_within=["ts"])
    assert snap["lineage"]["compacted_partitions"] == ["k=p0"]
    assert len(glob.glob(os.path.join(path, "k=p0", "*.parquet"))) == 1
    assert cat.read("t").count() == rows_before
    # untouched partition files not rewritten (same names and sizes)
    p1_after = {
        f: os.path.getsize(os.path.join(path, "k=p1", f))
        for f in os.listdir(os.path.join(path, "k=p1"))
    }
    assert p1_after == p1_files
    # snapshot metrics match a fresh full stat after the swap
    assert snap["partitions"] == cat._stat_tree(path)


def test_torn_snapshot_log_tail_is_ignored_and_replaced(spark, cat):
    """A crash mid-append leaves an unterminated last line in the
    snapshot log. That record never committed: the table still reads,
    the last committed snapshot is the one before it, and the next
    commit replaces the torn tail. A corrupt line before the tail still
    raises."""
    import json

    s1 = cat.write(_df(spark), "t", partition_by=["k"])
    log = cat._snapshot_log("t")
    with open(log, "a") as fh:
        fh.write('{"snapshot_id": "torn", "partit')
    assert cat.last_snapshot("t")["snapshot_id"] == s1["snapshot_id"]
    assert cat.read("t").count() == 1000

    s2 = cat.write(_df(spark).where("k = 'p0'"), "t", partition_by=["k"],
                   mode="dynamic")
    with open(log) as fh:
        lines = fh.read().split("\n")
    assert lines[-1] == ""
    assert [json.loads(x)["snapshot_id"] for x in lines[:-1]] == [
        s1["snapshot_id"], s2["snapshot_id"],
    ]
    assert cat.last_snapshot("t")["snapshot_id"] == s2["snapshot_id"]

    with open(log, "w") as fh:
        fh.write("not json\n" + json.dumps(s2) + "\n")
    with pytest.raises(json.JSONDecodeError):
        cat.snapshots("t")


def test_compact_unknown_partition_raises(spark, cat):
    cat.write(_df(spark), "t", partition_by=["k"])
    with pytest.raises(ValueError, match="not in t's snapshot"):
        cat.compact("t", partitions=["k=p9"])
    # and nothing was rewritten
    assert cat.last_snapshot("t")["operation"] == "write:overwrite"


def test_read_at_snapshot_time_travel_across_appends(spark, cat):
    """read(snapshot_id=) reconstructs the table as of each append
    snapshot from its file manifest; a later dynamic overwrite
    invalidates earlier snapshots LOUDLY (single-copy storage, not
    silent partial data)."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["p0"] * 4 + ["p1"] * 4, "v": range(8)})
    )
    s1 = cat.write(df.where("v < 4"), "tt", partition_by=["k"])
    s2 = cat.write(
        df.where("v >= 4"), "tt", partition_by=["k"], mode="append"
    )
    assert cat.read("tt", snapshot_id=s1["snapshot_id"]).count() == 4
    assert cat.read("tt", snapshot_id=s2["snapshot_id"]).count() == 8
    # partition column survives the file-list read
    got = cat.read("tt", snapshot_id=s1["snapshot_id"]).select("k").distinct().collect()
    assert {r["k"] for r in got} == {"p0"}
    # latest snapshot == live read
    assert cat.read("tt").count() == 8

    # rewrite partition p0 -> snapshots that referenced its old files
    # must now fail loud
    cat.write(
        df.where("v < 4").withColumn("v", F.col("v") + 100),
        "tt", partition_by=["k"], mode="dynamic",
    )
    with pytest.raises(ValueError, match="no longer readable"):
        cat.read("tt", snapshot_id=s1["snapshot_id"])

    # unknown id is a clear error too
    with pytest.raises(ValueError, match="unknown snapshot"):
        cat.read("tt", snapshot_id="deadbeef")


def test_read_merge_schema_additive_evolution(spark, cat):
    """Additive schema evolution: a later tranche lands an extra column;
    the snapshot records the union schema, so a plain read surfaces it
    (NULL for old files) after the original columns."""
    import pandas as pd

    t1 = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})
    )
    t2 = spark.createDataFrame(
        pd.DataFrame({"k": ["c"], "v": [3.0], "quality": [0.9]})
    )
    cat.write(t1, "evo", partition_by=["k"])
    cat.write(t2, "evo", partition_by=["k"], mode="append")

    merged = cat.read("evo")
    assert merged.columns == ["v", "quality", "k"]
    rows = {r["k"]: r for r in merged.collect()}
    assert rows["c"]["quality"] == 0.9
    assert rows["a"]["quality"] is None


def test_narrow_projection_prunes_scan_columns(spark, cat):
    """Column pruning reaches the parquet scan: selecting one data
    column must not read the others (ReadSchema in the physical plan)."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a", "b"], "v": [1.0, 2.0], "w": [3.0, 4.0],
             "payload": ["x" * 10, "y" * 10]}
        )
    )
    cat.write(df, "narrow", partition_by=["k"])
    plan = (
        cat.read("narrow")
        .select("v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs and "v:double" in rs[0] and "payload" not in rs[0], plan


def test_vacuum_removes_orphans_keeps_live(spark, cat):
    """vacuum() deletes parquet files the last manifest doesn't
    reference (crash leftovers) and leftover staging dirs, and never
    touches live data."""
    import os

    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"k": ["a", "b"], "v": [1, 2]}))
    cat.write(df, "vac", partition_by=["k"])
    path = cat.table_path("vac")
    orphan = os.path.join(path, "k=a", "part-orphan-junk.parquet")
    spark.createDataFrame(pd.DataFrame({"v": [99]})).toPandas().to_parquet(orphan)
    os.makedirs(os.path.join(path, ".stage-zz", "k=zz"))
    before = cat.read("vac").count()  # the manifest read skips the orphan
    snap = cat.vacuum("vac")
    assert "k=a/part-orphan-junk.parquet" in snap["lineage"]["removed_files"]
    assert not os.path.exists(orphan)
    assert not os.path.exists(os.path.join(path, ".stage-zz"))
    assert snap["lineage"]["removed_dirs"] == [".stage-zz"]
    assert cat.read("vac").count() == 2
    assert snap["operation"] == "vacuum"
    assert before == 2


def test_rollback_restores_earlier_snapshot(spark, cat):
    """rollback() to an append-history snapshot removes the later
    tranche's files and the live read equals the old state; rolling
    back past a rewrite fails loud."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 3 + ["b"] * 3, "v": range(6)})
    )
    s1 = cat.write(df.where("v < 3"), "rb", partition_by=["k"])
    cat.write(df.where("v >= 3"), "rb", partition_by=["k"], mode="append")
    assert cat.read("rb").count() == 6
    snap = cat.rollback("rb", s1["snapshot_id"])
    assert cat.read("rb").count() == 3
    assert snap["lineage"]["rolled_back_to"] == s1["snapshot_id"]
    assert snap["rows"] == 3  # footer-derived row metric reflects rollback

    # dynamic overwrite rewrites k=a; old snapshot unreachable
    s3 = cat.last_snapshot("rb")
    cat.write(
        df.where("v < 3").withColumn("v", F.col("v") + 10),
        "rb", partition_by=["k"], mode="dynamic",
    )
    with pytest.raises(ValueError, match="no longer exist"):
        cat.rollback("rb", s1["snapshot_id"])


def test_rollback_never_touches_recovery_dirs(spark, cat):
    """rollback() must not descend into hidden '.'/'_'-prefixed dirs
    (compaction recovery areas): their parquet files are not the
    manifest's to GC (ADVICE r3 — the bottom-up walk ignored the
    dirname filter)."""
    import os

    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 2 + ["b"] * 2, "v": range(4)})
    )
    s1 = cat.write(df.where("v < 2"), "rbh", partition_by=["k"])
    cat.write(df.where("v >= 2"), "rbh", partition_by=["k"], mode="append")
    path = cat.table_path("rbh")
    hidden = os.path.join(path, "k=a", ".compact_old")
    os.makedirs(hidden)
    stash = os.path.join(hidden, "part-stash.parquet")
    with open(stash, "wb") as f:
        f.write(b"not a real parquet, just bytes to preserve")
    cat.rollback("rbh", s1["snapshot_id"])
    assert os.path.exists(stash), "rollback deleted a recovery-dir file"
    assert cat.read("rbh").count() == 2


def test_read_ignores_uncommitted_files(spark, cat):
    """A parquet file no commit recorded (a crashed write's leftover)
    is invisible to reads, and vacuum still removes it."""
    import shutil

    cat.write(_df(spark), "t", partition_by=["k"])
    pdir = os.path.join(cat.table_path("t"), "k=p0")
    committed = sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    copy = os.path.join(pdir, "part-99999-uncommitted.c000.snappy.parquet")
    shutil.copy(os.path.join(pdir, committed[0]), copy)

    assert cat.read("t").count() == 1000
    assert cat.read("t", partitions=lambda v: v == "p0").count() == (
        cat.last_snapshot("t")["partitions"]["k=p0"]["rows"]
    )
    snap = cat.vacuum("t")
    assert snap["lineage"]["removed_files"] == [
        "k=p0/part-99999-uncommitted.c000.snappy.parquet"
    ]
    assert not os.path.exists(copy)


def test_commits_without_data_keep_partition_by_and_schema(spark, cat):
    """Expire, vacuum and rollback write no data: each carries the
    table's partition columns and schema forward."""
    s1 = cat.write(_df(spark), "t", partition_by=["k"])
    cat.write(_df(spark, 10), "t", partition_by=["k"], mode="append")
    cat.rollback("t", s1["snapshot_id"])
    cat.expire_partitions("t", "k", ["p0"])
    cat.vacuum("t")
    last = cat.last_snapshot("t")
    assert last["operation"] == "vacuum"
    assert last["partition_by"] == s1["partition_by"] == ["k"]
    assert [f["name"] for f in s1["schema"]["fields"]] == ["ts", "v"]
    assert last["schema"] == s1["schema"]
    # compact inherits the layout too
    assert cat.compact("t")["partition_by"] == ["k"]


def test_read_partition_filter_prunes_before_planning(spark, cat):
    """The partition filter keeps only the matching partitions' files;
    a filter that keeps none returns an empty frame with the full
    schema; a table with no files raises, naming the table."""
    cat.write(_df(spark), "t", partition_by=["k"])
    full = cat.read("t")
    one = cat.read("t", partitions=lambda v: v == "p1")
    assert one.inputFiles() and all("/k=p1/" in f for f in one.inputFiles())
    assert {r["k"] for r in one.select("k").distinct().collect()} == {"p1"}
    none = cat.read("t", partitions=lambda v: False)
    assert none.schema == full.schema and none.count() == 0

    cat.expire_partitions("t", "k", ["p0", "p1", "p2"])
    with pytest.raises(ValueError, match="'t' has no data files"):
        cat.read("t")
    with pytest.raises(ValueError, match="unknown table 'nope'"):
        cat.read("nope")


def test_last_snapshot_reads_only_the_log_tail(spark, cat):
    """last_snapshot parses only the final committed line: a corrupt
    earlier line does not reach it, a torn tail is skipped, and a
    record longer than one read chunk comes back whole."""
    import json

    cat.write(_df(spark, 30), "t", partition_by=["k"])
    big = cat.commit_snapshot("t", "note", lineage={"pad": "x" * 200_000})
    log = cat._snapshot_log("t")
    with open(log) as fh:
        lines = fh.read().split("\n")
    with open(log, "w") as fh:
        fh.write("\n".join(["not json"] + lines[1:]))
        fh.write('{"snapshot_id": "torn"')
    assert cat.last_snapshot("t") == json.loads(json.dumps(big))
    with pytest.raises(json.JSONDecodeError):
        cat.snapshots("t")


# -- crash convergence ------------------------------------------------------
# Every change stages its files, moves them in, commits, then deletes what
# the commit replaced. A crash at any step leaves the last commit readable,
# a re-run converges, and vacuum clears what the crash left behind.


def _rows(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _crash_after(k, real):
    """``real``, raising an injected OSError from its (k+1)-th call."""
    calls = [0]

    def crashing(*a, **kw):
        if calls[0] == k:
            raise OSError("injected crash")
        calls[0] += 1
        return real(*a, **kw)

    return crashing


def _parquet_on_disk(cat, name):
    """Every parquet file under the table directory, hidden dirs too."""
    return {
        os.path.join(root, f)
        for root, _dirs, files in os.walk(cat.table_path(name))
        for f in files
        if f.endswith(".parquet")
    }


def _only_manifest_files(cat, name):
    snap = cat.last_snapshot(name)
    return _parquet_on_disk(cat, name) == set(
        cat._manifest_files(snap, cat.table_path(name))
    )


def _layout(cat, name):
    return {rel: m["files"] for rel, m in cat.last_snapshot(name)["partitions"].items()}


def test_overwrites_keep_the_snapshot_log(spark, cat):
    cat.write(_df(spark), "t", partition_by=["k"])
    cat.write(_df(spark, 10), "t", partition_by=["k"])
    assert [s["operation"] for s in cat.snapshots("t")] == ["write:overwrite"] * 2
    assert cat.read("t").count() == 10
    assert _only_manifest_files(cat, "t")


def test_failed_commit_leaves_the_last_snapshot(spark, cat, monkeypatch):
    """A crash between moving the new files in and committing them: the
    table still reads as its last snapshot."""
    cat.write(_df(spark), "t", partition_by=["k"])
    before = _rows(cat.read("t"))

    def crash(*a, **kw):
        raise OSError("injected crash")

    with monkeypatch.context() as m:
        m.setattr(Catalog, "commit_snapshot", crash)
        with pytest.raises(OSError, match="injected"):
            cat.write(_df(spark, 10), "t", partition_by=["k"])
    assert _rows(cat.read("t")) == before
    cat.vacuum("t")
    assert _only_manifest_files(cat, "t")


def test_list_partitions_ignores_uncommitted_dirs(spark, cat):
    import shutil

    cat.write(_df(spark), "t", partition_by=["k"])
    src = os.path.join(cat.table_path("t"), "k=p0")
    orphan_dir = os.path.join(cat.table_path("t"), "k=p9")
    os.makedirs(orphan_dir)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src, f), orphan_dir)
    assert cat.list_partitions("t", "k") == ["p0", "p1", "p2"]


@pytest.mark.parametrize("k", [0, 3])
def test_write_crash_mid_move_converges(spark, cat, tmp_path, monkeypatch, k):
    from pyspark.sql import functions as F

    cat.write(_df(spark), "t", partition_by=["k"])
    before = _rows(cat.read("t"))
    new = _df(spark).withColumn("v", F.col("v") + 1)
    with monkeypatch.context() as m:
        m.setattr(os, "rename", _crash_after(k, os.rename))
        with pytest.raises(OSError, match="injected"):
            cat.write(new, "t", partition_by=["k"])
    assert _rows(cat.read("t")) == before

    cat.write(new, "t", partition_by=["k"])
    clean = Catalog(spark, str(tmp_path / "clean"))
    clean.write(new, "t", partition_by=["k"])
    assert _rows(cat.read("t")) == _rows(clean.read("t"))
    assert set(_layout(cat, "t")) == set(_layout(clean, "t"))
    cat.vacuum("t")
    assert _only_manifest_files(cat, "t")
    assert _rows(cat.read("t")) == _rows(clean.read("t"))


def _small_files(spark, cat, partition_by):
    """A table whose partitions each hold many small files."""
    cat.write(_df(spark, 300), "t", partition_by=partition_by, repartition=False)
    for _ in range(2):
        cat.write(
            _df(spark, 300), "t", partition_by=partition_by, mode="append",
            repartition=False,
        )


@pytest.mark.parametrize(
    "partition_by,k",
    # k renames succeed: a data file and its checksum are two; the
    # unpartitioned table compacts into one file
    [(["k"], 0), (["k"], 2), (None, 0), (None, 1)],
    ids=["partitioned-0", "partitioned-2", "unpartitioned-0", "unpartitioned-1"],
)
def test_compact_crash_mid_move_converges(spark, cat, tmp_path, monkeypatch, partition_by, k):
    _small_files(spark, cat, partition_by)
    before = _rows(cat.read("t"))
    with monkeypatch.context() as m:
        m.setattr(os, "rename", _crash_after(k, os.rename))
        with pytest.raises(OSError, match="injected"):
            cat.compact("t", sort_within=["ts"])
    assert _rows(cat.read("t")) == before
    assert cat.last_snapshot("t")["operation"] == "write:append"

    cat.compact("t", sort_within=["ts"])
    clean = Catalog(spark, str(tmp_path / "clean"))
    _small_files(spark, clean, partition_by)
    clean.compact("t", sort_within=["ts"])
    assert _rows(cat.read("t")) == _rows(clean.read("t")) == before
    assert _layout(cat, "t") == _layout(clean, "t")
    assert set(_layout(cat, "t").values()) == {1}
    cat.vacuum("t")
    assert _only_manifest_files(cat, "t")


@pytest.mark.parametrize("op", ["write", "compact", "expire"])
def test_crash_after_commit_keeps_the_new_state(spark, cat, tmp_path, monkeypatch, op):
    """The delete step fails after the commit: reads show the committed
    state and vacuum removes the files the crash left."""
    from pyspark.sql import functions as F

    def run(c):
        if op == "write":
            c.write(_df(spark).withColumn("v", F.col("v") + 1), "t", partition_by=["k"])
        elif op == "compact":
            c.compact("t")
        else:
            c.expire_partitions("t", "k", ["p0", "p1"])

    clean = Catalog(spark, str(tmp_path / "clean"))
    for c in (cat, clean):
        _small_files(spark, c, ["k"])
    run(clean)
    with monkeypatch.context() as m:
        m.setattr(os, "remove", _crash_after(1, os.remove))
        with pytest.raises(OSError, match="injected"):
            run(cat)
    assert _rows(cat.read("t")) == _rows(clean.read("t"))
    assert cat.list_partitions("t", "k") == clean.list_partitions("t", "k")
    assert not _only_manifest_files(cat, "t")
    snap = cat.vacuum("t")
    assert snap["lineage"]["removed_files"]
    assert _only_manifest_files(cat, "t")
    assert _rows(cat.read("t")) == _rows(clean.read("t"))
