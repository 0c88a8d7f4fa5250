"""Seeded climate-text input for the medallion workload.

:func:`write_climate_text` writes Berkeley-Earth-daily and GHCND
station text in the reference's formats, split across many files, with
``%`` comment lines and a stated share of malformed data rows, and
returns the exact counts a correct medallion run must reproduce. The
output is a pure function of ``seed`` (same seed, same bytes).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

#: Share of Berkeley data rows written malformed (a required field unparseable).
BAD_ROW_SHARE = 0.02
BERKELEY_YEARS = (1880, 2023)
STATES = ["NY", "CA", "TX", "WA", "CO", "AK", "FL", "IL"]


def _berkeley_row(y: int, doy: int, m: int, d: int, anomaly: float) -> str:
    return f"{y + (doy - 0.5) / 365:10.4f} {y:5d} {m:3d} {d:3d} {doy:4d} {anomaly:7.3f}"


def _malformed(rng: np.random.Generator, line: str) -> str:
    """Break one required field (year, month or anomaly) of a data line."""
    tok = line.split()
    kind = int(rng.integers(0, 4))
    if kind == 0:
        tok = tok[:5]  # truncated: no anomaly
    elif kind == 1:
        tok[5] = "***"
    elif kind == 2:
        tok[1] = "YYYY"
    else:
        tok[2] = "m?"
    return " ".join(tok)


def write_climate_text(
    raw_dir: str, seed: int, berkeley_files: int, station_files: int,
    stations_per_file: int,
) -> dict:
    """Write ``raw_dir/berkeley/*.txt`` and ``raw_dir/stations/*.txt``.

    Each Berkeley file is one daily anomaly series over
    ``BERKELEY_YEARS`` with a ``%`` header block; ``BAD_ROW_SHARE`` of
    its data rows are malformed so that silver rejects them. Station
    files are GHCND fixed-width rows. Returns the separate counts a
    correct pipeline reproduces: lines, comment lines, valid and
    malformed rows per feed, and raw bytes.
    """
    rng = np.random.default_rng(seed)
    bdir = os.path.join(raw_dir, "berkeley")
    sdir = os.path.join(raw_dir, "stations")
    os.makedirs(bdir, exist_ok=True)
    os.makedirs(sdir, exist_ok=True)
    days = []
    for y in range(BERKELEY_YEARS[0], BERKELEY_YEARS[1] + 1):
        day = dt.date(y, 1, 1)
        while day.year == y:
            days.append((y, day.timetuple().tm_yday, day.month, day.day))
            day += dt.timedelta(days=1)
    stats = {"berkeley_lines": 0, "berkeley_comments": 0, "berkeley_valid": 0,
             "berkeley_malformed": 0, "station_lines": 0, "station_valid": 0,
             "raw_bytes": 0}
    for f in range(berkeley_files):
        header = [
            f"% Berkeley Earth daily land-average anomaly, series {f}",
            "% Anomalies in degrees C relative to the Jan 1951-Dec 1980 average",
            "%",
            "% Date Number, Year, Month, Day, Day of Year, Anomaly",
            "%",
        ]
        trend = 0.002 * (np.array([d[0] for d in days]) - 1950)
        anomalies = rng.normal(trend, 0.8)
        bad = rng.random(len(days)) < BAD_ROW_SHARE
        rows = [_berkeley_row(*d, a) for d, a in zip(days, anomalies)]
        rows = [_malformed(rng, r) if b else r for r, b in zip(rows, bad)]
        path = os.path.join(bdir, f"berkeley_daily_{f:03d}.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(header + rows) + "\n")
        stats["berkeley_lines"] += len(header) + len(rows)
        stats["berkeley_comments"] += len(header)
        stats["berkeley_malformed"] += int(bad.sum())
        stats["berkeley_valid"] += len(rows) - int(bad.sum())
        stats["raw_bytes"] += os.path.getsize(path)
    sid = 0
    for f in range(station_files):
        lines = []
        for _ in range(stations_per_file):
            sid += 1
            lat = rng.uniform(-60.0, 75.0)
            lon = rng.uniform(-180.0, 180.0)
            elev = rng.uniform(-5.0, 3500.0)
            state = STATES[int(rng.integers(0, len(STATES)))]
            lines.append(
                f"{'USW' + format(sid, '08d'):<11s} {lat:8.4f} {lon:9.4f} {elev:6.1f} "
                f"{state:<2s} {'STATION ' + str(sid):<30s}".rstrip()
            )
        path = os.path.join(sdir, f"ghcnd_stations_{f:03d}.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        stats["station_lines"] += len(lines)
        stats["station_valid"] += len(lines)
        stats["raw_bytes"] += os.path.getsize(path)
    return stats
