"""Seeded input generator for the medallion workload.

`climate(dir, seed, ...)` writes the job's raw inputs in the reference's
formats: Berkeley Earth daily TAVG text (6-token rows, `%` comment header,
malformed rows) and a GHCND fixed-width station inventory (including rows
with blank coordinates), and returns the counts the output check needs. The
same seed always gives byte-identical files. (The curation workload reads
the reference tables in data/ instead; its seed only orders the queries.)
"""
import datetime as dt
import os

import numpy as np


def climate(dir_, seed, first_year, last_year, n_stations):
    """Raw medallion inputs plus the row counts every layer must have."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed)
    lines = ["% Berkeley Earth daily TAVG (seeded benchmark fixture)",
             "% date-number  year  month  day  day-of-year  anomaly"]
    good, years, fact_days = 0, set(), 0
    d, end = dt.date(first_year, 1, 1), dt.date(last_year, 12, 31)
    while d <= end:
        doy = d.timetuple().tm_yday
        lines.append(f"  {d.year}.{doy:03d}  {d.year}  {d.month:2d}  {d.day:2d}"
                     f"  {doy:3d}  {rng.uniform(-2.0, 2.0):.3f}")
        good += 1
        years.add(d.year)
        fact_days += d.year >= 2000
        d += dt.timedelta(days=1)
    # malformed rows the silver layer must drop: short rows (anomaly token
    # missing), a non-numeric year, a non-numeric anomaly
    bad = [f"  {y}.001  {y}  1" for y in rng.integers(first_year, last_year + 1, 20)]
    bad += ["  bad.row  YEAR  1  1  1  0.5"] * 5 + ["  2001.001  2001  1  1  1  n/a"] * 5
    for row in bad:
        lines.insert(int(rng.integers(2, len(lines) + 1)), row)
    with open(os.path.join(dir_, "berkeley_daily.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")

    st = []
    for i in range(n_stations):
        state = "  " if i % 5 == 4 else ("NY", "CA", "TX", "WA")[i % 4]
        st.append(f"{'USW%08d' % i:<11} {rng.uniform(25, 50):8.4f} "
                  f"{rng.uniform(-125, -65):9.4f} {float(rng.integers(0, 3000)):6.1f} "
                  f"{state:2} {'STATION_%d' % i:<30}")
    n_blank = max(1, n_stations // 20)
    for i in range(n_blank):       # blank coordinates: dropped by silver
        st.insert(int(rng.integers(0, len(st) + 1)),
                  f"{'USX%08d' % i:<11} {'':8} {'':9} {100.0:6.1f} NY {'BLANK_COORDS':<30}")
    with open(os.path.join(dir_, "ghcnd_stations.txt"), "w") as f:
        f.write("\n".join(st) + "\n")
    return {
        "bronze_berkeley_rows": len(lines), "silver_berkeley_rows": good,
        "bronze_station_rows": len(st), "silver_station_rows": n_stations,
        "kpi_rows": len(years), "stations_dim_rows": n_stations,
        "fact_rows": fact_days * min(50, n_stations)}
