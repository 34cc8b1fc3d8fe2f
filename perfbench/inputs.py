"""Seeded benchmark inputs: crawl pages, AEMO-style wide trace CSVs and
the dashboard query mix.

Every input is a pure function of ``seed`` and the size arguments, so one
seed names one input set exactly. Sizes never depend on the seed (the gap
count is fixed, only its positions move), so throughput figures from
different seeds measure the same amount of work.

Values are whole multiples of 1/64. Every partial sum the engine forms is
then exact in float64 whatever the summation order, so the output checks
compare tier points, means and decoded blocks for exact equality.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pandas as pd

QUANTUM = 64.0
SLOTS_PER_DAY = 48

_SAFE_STEM = re.compile(r"[A-Za-z0-9_\-]+")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def pages_frame(
    seed: int,
    n_urls: int,
    start: dt.date,
    n_days: int,
    gap_frac: float = 0.05,
) -> pd.DataFrame:
    """Half-hourly crawl snapshots ``(url, warc_ts, value)`` for
    ``n_urls`` pages over ``n_days`` days from ``start``, minus exactly
    ``round(gap_frac * rows)`` seeded gaps. Timestamps label the END of
    each half hour, so a day's last point sits at the next midnight.
    Domains are skewed (a few hot sites hold most pages)."""
    rng = _rng(seed, 1)
    n_slots = n_days * SLOTS_PER_DAY
    domain = np.minimum((rng.pareto(1.2, n_urls) * 4).astype(np.int64), 49)
    urls = np.array(
        [f"https://site{d}.example.org/s{seed}/page/{i}" for i, d in enumerate(domain)],
        dtype=object,
    )
    first = np.datetime64(start, "ns") + np.timedelta64(30, "m")
    ts = first + np.arange(n_slots) * np.timedelta64(30, "m")
    level = rng.integers(0, 200 * int(QUANTUM), n_urls)[:, None]
    walk = np.cumsum(rng.integers(-64, 65, (n_urls, n_slots)), axis=1)
    values = ((level + walk) / QUANTUM).ravel()
    keep = np.ones(n_urls * n_slots, dtype=bool)
    keep[rng.choice(keep.size, round(gap_frac * keep.size), replace=False)] = False
    return pd.DataFrame(
        {
            "url": np.repeat(urls, n_slots)[keep],
            "warc_ts": np.tile(ts, n_urls)[keep],
            "value": values[keep],
        }
    )


def day_of(frame: pd.DataFrame) -> pd.Series:
    """Partition day of each point (end-labelled: midnight belongs to the
    day before), the same rule as ``plans.partitioning.day_bucket``."""
    return (frame["warc_ts"] - pd.Timedelta(seconds=1)).dt.date


def trace_stems(seed: int, n_stems: int) -> list[str]:
    """``n_stems`` stems of the bundled 2024 vocabulary whose parse
    dimensions (entity, entity_type, resource_type, parent) are unique, so
    every file becomes its own series and no mean-merge folds two files."""
    from isp_trace_parser_spark.mappings import name_mapping

    by_dims: dict[tuple, list[str]] = {}
    for stem, m in sorted(name_mapping().items()):
        if _SAFE_STEM.fullmatch(stem):
            key = (m["entity"], m["entity_type"], m["resource_type"], m["parent"])
            by_dims.setdefault(key, []).append(stem)
    unique = sorted(stems[0] for stems in by_dims.values() if len(stems) == 1)
    pick = _rng(seed, 2).choice(len(unique), n_stems, replace=False)
    return sorted(unique[i] for i in pick)


def write_trace_csvs(
    seed: int,
    directory: str,
    stems: list[str],
    ref_years: list[int],
    start: dt.date,
    n_days: int,
) -> dict[tuple[str, int], float]:
    """Write one wide CSV per (stem, reference year) under ``directory``
    (``<stem>_RefYear<year>.csv``: Year, Month, Day, 01..48) and return
    the exact mean value of each file, keyed by (stem, reference year)."""
    rng = _rng(seed, 3)
    days = pd.date_range(start, periods=n_days, freq="D")
    head = pd.DataFrame(
        {"Year": days.year, "Month": days.month, "Day": days.day}
    )
    labels = [f"{i:02d}" for i in range(1, SLOTS_PER_DAY + 1)]
    os.makedirs(directory, exist_ok=True)
    means = {}
    for year in ref_years:
        for stem in stems:
            k = rng.integers(0, 100 * int(QUANTUM), (n_days, SLOTS_PER_DAY))
            vals = k / QUANTUM
            body = pd.DataFrame(vals, columns=labels)
            pd.concat([head, body], axis=1).to_csv(
                os.path.join(directory, f"{stem}_RefYear{year}.csv"), index=False
            )
            means[(stem, year)] = float(k.sum()) / QUANTUM / k.size
    return means


# one entry per query kind: the dashboard query mix draws from these
QUERY_KINDS = [
    "series_30m",
    "series_2h",
    "series_1d",
    "series_auto",
    "percentiles",
    "cold_30m",
    "api_single",
    "api_multi",
]


def query_pool(
    seed: int,
    series: list[str],
    start: dt.date,
    n_days: int,
    entities: list[str],
    ref_years: list[int],
    fy_years: list[int],
) -> list[dict]:
    """One seeded query spec of every kind, in ``QUERY_KINDS`` order.
    Seeds move windows and pick series, entities and years; result sizes
    stay fixed."""
    rng = _rng(seed, 4)
    t0 = dt.datetime.combine(start, dt.time())

    def window(days: int) -> tuple[dt.datetime, dt.datetime]:
        lo = int(rng.integers(0, n_days - days + 1))
        return t0 + dt.timedelta(days=lo), t0 + dt.timedelta(days=lo + days)

    def pick(n: int) -> list[str]:
        return sorted(series[i] for i in rng.choice(len(series), n, replace=False))

    pool = []
    for kind in QUERY_KINDS:
        if kind == "series_30m":
            spec = {"series": pick(1), "window": window(2)}
        elif kind == "series_2h":
            spec = {"series": pick(min(20, len(series))), "window": window(7)}
        elif kind == "series_1d":
            spec = {"series": None, "window": window(n_days)}
        elif kind == "series_auto":
            spec = {"series": pick(5), "window": window(min(10, n_days))}
        elif kind == "percentiles":
            spec = {"series": pick(5), "window": window(3)}
        elif kind == "cold_30m":
            spec = {"series": pick(1), "window": window(2)}
        elif kind == "api_single":
            spec = {
                "entity": entities[int(rng.integers(len(entities)))],
                "ref_year": ref_years[int(rng.integers(len(ref_years)))],
                "year": fy_years[int(rng.integers(len(fy_years)))],
            }
        else:  # api_multi: every FY mapped to a seeded reference year
            spec = {
                "entity": entities[int(rng.integers(len(entities)))],
                "mapping": {
                    y: ref_years[int(rng.integers(len(ref_years)))]
                    for y in fy_years
                },
            }
        pool.append({"kind": kind, **spec})
    return pool
