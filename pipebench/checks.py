"""Correctness checks, run after every workload, outside the timed window.

medallion_stream: silver against the generator's manifest (exact counts, key
set, rows dropped by dedup, malformed lines), and both gold tables against a
DuckDB recomputation over the final silver snapshot.

curation_gates: every gate's result against its `SparkEntry.oracleSql`
oracle in DuckDB, compared the way tools/oracle_check.py compares: columns
sorted by name, rows sorted by every value, cell by cell, with matching
value kinds.
"""
import json
import math
import os

import duckdb
import pandas as pd

LEVEL = """CASE WHEN {c} = 'h' AND {w} >= 30.0 AND {t} >= 303.15 AND {h} <= 30.0 THEN 'EXTREME'
                WHEN {c} = 'h' AND {w} >= 30.0 THEN 'VERY_HIGH'
                WHEN {c} = 'h' AND {w} >= 20.0 THEN 'HIGH'
                WHEN {c} = 'h' THEN 'MODERATE' ELSE 'LOW' END"""
RANK = """CASE {l} WHEN 'EXTREME' THEN 0 WHEN 'VERY_HIGH' THEN 1 WHEN 'HIGH' THEN 2
                   WHEN 'MODERATE' THEN 3 ELSE 4 END"""
LEVEL_OF_RANK = """CASE {r} WHEN 0 THEN 'EXTREME' WHEN 1 THEN 'VERY_HIGH' WHEN 2 THEN 'HIGH'
                            WHEN 3 THEN 'MODERATE' ELSE 'LOW' END"""


def _cell(lat, lon, dy="0", dx="0"):
    return (f"(CAST(floor({lat} / 20.0) AS BIGINT) + {dy})::VARCHAR || ':' || "
            f"(CAST(floor({lon} / 20.0) AS BIGINT) + {dx})::VARCHAR")


def gold_oracle(con, cap):
    """Recompute GoldJob.runCycle's two tables from the silver views."""
    con.execute(f"""CREATE TABLE lw AS
        SELECT location_id AS weather_station, lat AS station_lat, lon AS station_lon,
               wind_speed, humidity, temperature, {_cell('lat', 'lon')} AS cell
        FROM (SELECT *, row_number() OVER (PARTITION BY location_id ORDER BY timestamp DESC) AS rn
              FROM silver_weather) WHERE rn = 1""")
    con.execute(f"""CREATE TABLE fx AS
        SELECT f.timestamp, f.lat, f.lon, f.confidence, {_cell('f.lat', 'f.lon', 'd.dy', 'e.dx')} AS cell
        FROM silver_fires f, (VALUES (-1), (0), (1)) d(dy), (VALUES (-1), (0), (1)) e(dx)""")
    best_h = RANK.format(l=LEVEL.format(c="'h'", w="wind_speed", t="temperature", h="humidity"))
    con.execute(f"""CREATE TABLE cs AS
        SELECT * FROM
          (SELECT cell, count(*) AS n_fire_probes,
                  max(CASE WHEN confidence = 'h' THEN 1 ELSE 0 END) AS has_h FROM fx GROUP BY cell)
        JOIN (SELECT cell, count(*) AS n_stations, min({best_h}) AS best_h_rank
              FROM lw GROUP BY cell) USING (cell)""")
    con.execute(f"CREATE TABLE dense AS SELECT cell FROM cs WHERE n_fire_probes * n_stations > {cap}")
    dist = "sqrt(pow(fx.lat - lw.station_lat, 2) + pow(fx.lon - lw.station_lon, 2))"
    level = LEVEL.format(c="fx.confidence", w="lw.wind_speed", t="lw.temperature", h="lw.humidity")
    con.execute(f"""CREATE TABLE want_alerts AS
        SELECT fx.timestamp, fx.lat AS fire_lat, fx.lon AS fire_lon, lw.weather_station,
               lw.wind_speed, lw.temperature, lw.humidity, {level} AS risk_level,
               {dist} AS distance_deg, fx.cell
        FROM fx JOIN lw ON fx.cell = lw.cell
        WHERE fx.cell NOT IN (SELECT cell FROM dense) AND {dist} < 20.0""")
    con.execute(f"""CREATE TABLE want_cells AS
        SELECT cell, 1 AS is_dense, n_fire_probes, n_stations, n_stations AS n_alerting_stations,
               {LEVEL_OF_RANK.format(r='CASE WHEN has_h = 1 THEN best_h_rank ELSE 4 END')} AS max_risk
        FROM cs WHERE cell IN (SELECT cell FROM dense)
        UNION ALL
        SELECT a.cell, 0, any_value(cs.n_fire_probes), any_value(cs.n_stations),
               count(DISTINCT a.weather_station), {LEVEL_OF_RANK.format(r='min(' + RANK.format(l='a.risk_level') + ')')}
        FROM want_alerts a JOIN cs ON a.cell = cs.cell GROUP BY a.cell""")


def _diff(con, got, want):
    sql = (f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {want})) + "
           f"(SELECT count(*) FROM ({want} EXCEPT ALL {got}))")
    return con.execute(sql).fetchone()[0]


def check_stream(chk, manifest):
    problems = []
    con = duckdb.connect()
    con.execute(f"CREATE VIEW silver_fires AS SELECT * FROM read_parquet('{chk['silver_fires']}/*.parquet')")
    con.execute(f"CREATE VIEW silver_weather AS SELECT * FROM read_parquet('{chk['silver_weather']}/*.parquet')")
    published = manifest["rounds"]
    keys = [tuple(k) for k in manifest["history"]] + [tuple(k) for r in published for k in r["fires"]]
    con.register("manifest_keys", pd.DataFrame(keys, columns=["lat", "lon", "timestamp"]))
    redeliveries = sum(r["redeliveries"] for r in published)
    malformed = sum(r["malformed"] for r in published)

    n_fires = con.execute("SELECT count(*) FROM silver_fires").fetchone()[0]
    if n_fires != len(keys):
        problems.append(f"silver fires: {n_fires} rows, manifest has {len(keys)}")
    bad = _diff(con, "SELECT lat, lon, timestamp FROM silver_fires",
                "SELECT lat, lon, timestamp FROM manifest_keys")
    if bad:
        problems.append(f"silver fires: {bad} rows differ from the manifest key set")
    want_w = manifest["history_weather"] + sum(r["weather"] for r in published)
    n_w, n_wk = con.execute("SELECT count(*), count(DISTINCT (location_id, timestamp)) "
                            "FROM silver_weather").fetchone()
    if n_w != want_w or n_wk != want_w:
        problems.append(f"silver weather: {n_w} rows / {n_wk} keys, manifest has {want_w}")
    stream_rows = n_fires - manifest["history_fires"]
    if chk["fires_rows_parsed"] - stream_rows != redeliveries:
        problems.append(f"dedup: parsed {chk['fires_rows_parsed']} - silver {stream_rows} "
                        f"!= {redeliveries} redeliveries")
    if chk["fires_dedup_dropped"] != redeliveries:
        problems.append(f"dedup: state store dropped {chk['fires_dedup_dropped']}, "
                        f"generator redelivered {redeliveries}")
    if chk["fires_rows_in"] - chk["fires_rows_parsed"] != malformed:
        problems.append(f"ingest: {chk['fires_rows_in'] - chk['fires_rows_parsed']} malformed, "
                        f"generator wrote {malformed}")
    if chk["query_errors"]:
        problems.append(f"{chk['query_errors']} streaming queries ended with an error")

    gold_oracle(con, chk["cap"])
    cols = ("timestamp, fire_lat, fire_lon, weather_station, wind_speed, temperature, "
            "humidity, risk_level, round(distance_deg, 9)")
    bad = _diff(con, f"SELECT {cols} FROM read_parquet('{chk['gold_alerts']}/*.parquet')",
                f"SELECT {cols} FROM want_alerts")
    if bad:
        problems.append(f"gold alerts: {bad} rows differ from the DuckDB recomputation")
    ccols = "cell, is_dense, n_fire_probes, n_stations, n_alerting_stations, max_risk"
    bad = _diff(con, f"SELECT {ccols} FROM read_parquet('{chk['gold_cells']}/*.parquet')",
                f"SELECT {ccols} FROM want_cells")
    if bad:
        problems.append(f"gold cells: {bad} rows differ from the DuckDB recomputation")
    return problems


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def _same(a, b):
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            return a == b or math.isclose(float(a), float(b), rel_tol=0, abs_tol=0)
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)


def _clusters(pairs):
    """(node, cluster_id = least node id of its component) over a pair list."""
    up = {}

    def find(x):
        while up.setdefault(x, x) != x:
            up[x] = up[up[x]]
            x = up[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            up[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame(sorted((n, find(n)) for n in up), columns=["node", "cluster_id"])


# The cluster gates' own oracles close the pair graph with a recursive CTE
# that DuckDB re-derives from the shingle cascade at every step (tens of
# seconds per gate). They are checked instead against a union-find over the
# same capped-ngram pair oracle: the identical result, computed once.
PAIR_ORACLE = "dedup_ngram_capped"
CLUSTER_GATES = ("dedup_clusters", "dedup_clusters_star")


def check_curation(chk):
    problems = []
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{chk['corpus']}/{t}.parquet')")
    with open(os.path.join(chk["results"], "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    pairs = con.execute(oracles.pop(PAIR_ORACLE)).fetchall()
    clusters = _clusters((a, b) for a, b, _ in pairs)
    for name in sorted(oracles):
        try:
            got = _canon(pd.read_parquet(os.path.join(chk["results"], name)))
            want = _canon(clusters.astype(got.dtypes.to_dict()) if name in CLUSTER_GATES else
                          con.execute(oracles[name]).fetch_arrow_table().to_pandas())
        except Exception as e:  # a gate that cannot be checked is a failed gate
            problems.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if list(got.columns) != list(want.columns):
            problems.append(f"{name}: columns {list(got.columns)} vs {list(want.columns)}")
        elif len(got) != len(want):
            problems.append(f"{name}: {len(got)} rows vs oracle {len(want)}")
        elif any(got[c].dtype.kind != want[c].dtype.kind for c in got.columns):
            problems.append(f"{name}: value kinds differ")
        else:
            diff = sum(not _same(x, y) for c in got.columns for x, y in zip(got[c], want[c]))
            if diff:
                problems.append(f"{name}: {diff} cells differ from the oracle")
    return problems
