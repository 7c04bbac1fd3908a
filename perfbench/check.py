"""Output checks for the benchmark's warm-up pass.

Each query is compared with DuckDB running its oracle SQL, exactly as
tools/check_oracle.py compares them: columns sorted by name, rows sorted,
values equal (NaN equal to NaN). Every pinned curation query has oracle SQL;
one that loses it fails the check. The medallion job is checked against the
counts the generator knows and against its own written fact table.
"""
import glob
import json
import os

import duckdb
import pandas as pd


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, exp):
    """None when equal, else what differs (the check_oracle.py rules)."""
    got, exp = norm(got), norm(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if g.dtype != e.dtype:
            try:
                e = e.astype(g.dtype)
            except Exception:
                return f"{c}: dtype {g.dtype} vs {e.dtype}"
        eq = (g == e) | (g.isna() & e.isna())
        if not eq.all():
            return f"{c}: {int((~eq).sum())} values differ"
    return None


def queries(result, data, outdir):
    con = duckdb.connect()
    for f in glob.glob(f"{data}/*.parquet"):
        t = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    with open(os.path.join(outdir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for o in result["check_ops"]:
        name = o["name"]
        if not o["ok"]:
            problems.append(f"{name}: threw {o['error']}")
            continue
        try:
            if name in oracle:
                diff = compare(pd.read_parquet(os.path.join(outdir, name)),
                               con.sql(oracle[name]).df())
            else:
                diff = "no oracle SQL"
        except Exception as e:
            diff = f"check failed: {e}"
        if diff:
            problems.append(f"{name}: {diff}")
    return problems, {}


def medallion(result, manifest, work):
    facts = result["check_facts"]
    problems = []

    def expect(what, got, want):
        if got != want:
            problems.append(f"{what}: {got} vs expected {want}")

    for k in ("bronze_berkeley_rows", "silver_berkeley_rows",
              "bronze_station_rows", "silver_station_rows"):
        expect(k, int(facts[k]), manifest[k])
    ops = {o["name"]: o for o in result["check_ops"]}
    for o in ops.values():
        if not o["ok"]:
            problems.append(f"{o['name']}: threw {o['error']}")
    out = os.path.join(work, "medallion", "pass-0")
    con = duckdb.connect()
    counts = {}
    for t, want in (("climate_kpis", "kpi_rows"), ("stations_dim", "stations_dim_rows"),
                    ("climate_anomalies_monthly", "fact_rows"), ("climate_extremes", None)):
        files = glob.glob(f"{out}/gold/{t}/*.parquet")
        csvs = glob.glob(f"{out}/csv/{t}/*.csv")
        if not files or len(csvs) != 1:
            problems.append(f"{t}: {len(files)} parquet files, {len(csvs)} csv files")
            continue
        n = con.sql(f"SELECT count(*) FROM read_parquet('{out}/gold/{t}/*.parquet')").fetchone()[0]
        n_csv = con.sql(f"SELECT count(*) FROM read_csv('{csvs[0]}', header=true)").fetchone()[0]
        counts[t] = n
        expect(f"{t} csv rows", n_csv, n)
        if want:
            expect(f"{t} rows", n, manifest[want])
    if "climate_extremes" in counts and "climate_anomalies_monthly" in counts:
        # extremes must be exactly the |z| >= 2.5 rows of the written fact
        fact = f"read_parquet('{out}/gold/climate_anomalies_monthly/*.parquet')"
        ext = f"read_parquet('{out}/gold/climate_extremes/*.parquet')"
        want = (f"SELECT date, station_id, location, temperature_anomaly, z_score, "
                f"CASE WHEN z_score > 0 THEN 'EXTREME_HEAT' ELSE 'EXTREME_COLD' END "
                f"AS event_type FROM {fact} WHERE abs(z_score) >= 2.5")
        got = f"SELECT date, station_id, location, temperature_anomaly, z_score, event_type FROM {ext}"
        missing = con.sql(f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))").fetchone()[0]
        extra = con.sql(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))").fetchone()[0]
        if missing or extra or counts["climate_extremes"] == 0:
            problems.append(f"climate_extremes: differs from the fact's |z| >= 2.5 rows "
                            f"({missing} missing, {extra} extra, "
                            f"{counts['climate_extremes']} rows)")
    bronze = facts["bronze_berkeley_rows"] + facts["bronze_station_rows"]
    silver = facts["silver_berkeley_rows"] + facts["silver_station_rows"]
    return problems, {
        "bronze_rows": bronze, "silver_rows": silver, "silver_dropped": bronze - silver,
        "fact_rows": counts.get("climate_anomalies_monthly", 0),
        "extreme_rows": counts.get("climate_extremes", 0)}
