"""Parallelism-independence: the tier cascade must produce IDENTICAL
results at local[1] and local[4] (the analog of the reference's
concurrency-parametrized fixtures, tests/conftest.py:11-58). Exact
decimal partials make this bit-strict for sums/counts; avg derives from
them. Subprocess per level (one JVM per master)."""

from __future__ import annotations

import subprocess
import sys

SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")
master = sys.argv[1]
out_path = sys.argv[2]
from isp_trace_parser_spark.session import get_spark
from isp_trace_parser_spark import synth
from isp_trace_parser_spark.operators import rollup

spark = get_spark(master=master, shuffle_partitions=16)
spark.sparkContext.setLogLevel("ERROR")
pages = synth.pages(spark, n_urls=40, n_slots=48 * 20, gap_pct=10, partitions=8)
t30 = rollup.rollup_raw(pages, sum_cast="decimal(28,12)")
t1d = rollup.rollup_cascade(t30, 86400)
tiers = {"agg_30m": t30, "agg_1d": t1d, "agg_1mo": rollup.rollup_cascade(t1d, None)}
import pandas as pd
frames = []
for name, df in tiers.items():
    pdf = df.toPandas()
    pdf["tier"] = name
    frames.append(pdf)
allf = pd.concat(frames).sort_values(["tier", "series", "bucket_ts"]).reset_index(drop=True)
allf.to_parquet(out_path)
spark.stop()
"""


def test_local1_equals_local4(tmp_path):
    import pandas as pd

    outs = {}
    for master in ("local[1]", "local[4]"):
        p = str(tmp_path / f"{master.replace('[','').replace(']','')}.parquet")
        r = subprocess.run(
            [sys.executable, "-c", SCRIPT, master, p],
            capture_output=True, text=True, timeout=900,
        )
        assert r.returncode == 0, r.stderr[-3000:]
        outs[master] = pd.read_parquet(p)

    a, b = outs["local[1]"], outs["local[4]"]
    assert len(a) == len(b)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            assert (a[c].to_numpy() == b[c].to_numpy()).all(), c
        else:
            assert a[c].astype(str).tolist() == b[c].astype(str).tolist(), c
