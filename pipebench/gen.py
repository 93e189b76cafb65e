"""Seeded input renderer for the pipeline benchmark.

Every payload is rendered here, before the program starts: the medallion
workload gets Kafka-wire JSON event files plus a manifest of what each burst
holds; the curation workload gets a parquet corpus with the table shapes
of the test corpus at sf0.01 (TESTDATA.md). The same seed gives byte-identical files and
manifest. The program under test only ever sees these files.
"""
import hashlib
import json
import os
import random

# The 32 reference weather stations (name, lat, lon, region).
STATIONS = [
    ("Teide_National_Park", 28.27, -16.64, "canarias"),
    ("Santa_Cruz_Tenerife", 28.46, -16.25, "canarias"),
    ("Las_Palmas", 28.10, -15.41, "canarias"),
    ("Arrecife_Lanzarote", 28.96, -13.55, "canarias"),
    ("Puerto_Rosario_Fuerteventura", 28.50, -13.86, "canarias"),
    ("San_Sebastian_Gomera", 28.09, -17.11, "canarias"),
    ("Valverde_Hierro", 27.81, -17.92, "canarias"),
    ("Santa_Cruz_La_Palma", 28.68, -17.76, "canarias"),
    ("Madrid", 40.42, -3.70, "peninsula"),
    ("Barcelona", 41.39, 2.17, "peninsula"),
    ("Valencia", 39.47, -0.38, "peninsula"),
    ("Sevilla", 37.39, -5.98, "peninsula"),
    ("Zaragoza", 41.65, -0.88, "peninsula"),
    ("Malaga", 36.72, -4.42, "peninsula"),
    ("Murcia", 37.98, -1.13, "peninsula"),
    ("Palma_Mallorca", 39.57, 2.65, "peninsula"),
    ("Bilbao", 43.26, -2.93, "peninsula"),
    ("Alicante", 38.35, -0.48, "peninsula"),
    ("Cordoba", 37.89, -4.78, "peninsula"),
    ("Valladolid", 41.65, -4.72, "peninsula"),
    ("Vigo", 42.24, -8.72, "peninsula"),
    ("Gijon", 43.54, -5.66, "peninsula"),
    ("Granada", 37.18, -3.60, "peninsula"),
    ("A_Coruna", 43.36, -8.41, "peninsula"),
    ("Vitoria", 42.85, -2.67, "peninsula"),
    ("Santander", 43.46, -3.80, "peninsula"),
    ("Pamplona", 42.82, -1.64, "peninsula"),
    ("Toledo", 39.86, -4.02, "peninsula"),
    ("Badajoz", 38.88, -6.97, "peninsula"),
    ("Salamanca", 40.97, -5.66, "peninsula"),
    ("Logrono", 42.47, -2.45, "peninsula"),
    ("Caceres", 39.48, -6.37, "peninsula"),
]

# Medallion stream shape. Silver history is seeded at setup so that gold's
# full recompute costs about the same at the start and the end of the
# window; it stays far below the per-cell pair cap (the busiest cell holds
# 18 stations, so the 1M-pair cap trips only past ~55k fires). Each round
# is one burst the client publishes and then waits on until it is servable:
# one fire file, plus one weather file (32 readings) in the warm-up rounds.
HISTORY_FIRES = 2000
HISTORY_WEATHER_ROUNDS = 3
FIRES_PER_ROUND = 40
REDELIVERIES_MAX = 3          # each round re-sends 0-3 lines of recent rounds
MALFORMED_MAX = 2             # and carries 0-2 truncated lines
REDELIVERY_WINDOW = 200       # redeliveries copy one of the last 200 fires
WARMUP_ROUNDS = 1             # published during setup, before the window
# A round takes about this long on a 4-core machine; the window runs a fixed
# number of rounds, chosen from --seconds with it, so that every count the
# run reports repeats for a seed however fast the machine is.
ROUND_S = 7.0
BASE_TS = 1_700_000_000.0


def _fire(rnd, used, ts):
    while True:
        if rnd.random() < 0.15:
            region, lat, lon = "canarias", rnd.uniform(27.6, 29.2), rnd.uniform(-18.0, -13.4)
        else:
            region, lat, lon = "peninsula", rnd.uniform(36.0, 43.6), rnd.uniform(-9.2, 3.2)
        lat, lon = round(lat, 5), round(lon, 5)
        if (lat, lon) not in used:
            used.add((lat, lon))
            break
    conf = rnd.choices(["h", "n", "l"], weights=[4, 4, 2])[0]
    return {"source": "NASA_VIIRS", "region": region, "lat": lat, "lon": lon,
            "temp_k": round(rnd.uniform(300.0, 400.0), 2), "confidence": conf,
            "timestamp": ts}


def _weather(rnd, st, ts):
    name, lat, lon, _ = st
    return {"source": "OpenWeather", "location_id": name, "lat": lat, "lon": lon,
            "wind_speed": round(rnd.uniform(0.0, 60.0), 2),
            "wind_deg": float(rnd.randrange(360)),
            "humidity": round(rnd.uniform(5.0, 95.0), 1),
            "temperature": round(rnd.uniform(5.0, 40.0), 2),
            "timestamp": ts}


def _line(obj):
    return json.dumps(obj, separators=(",", ":"))


def _write(path, lines):
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def render_stream(seed, seconds, out):
    """Render the medallion_stream inputs under `out`; return the manifest."""
    rnd = random.Random(seed)
    used = set()
    for d in ("history/fires", "history/weather", "staged/fires", "staged/weather"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    ts = BASE_TS
    hist = []
    for _ in range(HISTORY_FIRES):
        ts += 1.0
        hist.append(_fire(rnd, used, ts))
    wts = BASE_TS
    hist_w = []
    for _ in range(HISTORY_WEATHER_ROUNDS):
        for st in STATIONS:
            wts += 1.0
            hist_w.append(_weather(rnd, st, wts))
    input_bytes = _write(os.path.join(out, "history/fires/part-0.json"), [_line(f) for f in hist])
    input_bytes += _write(os.path.join(out, "history/weather/part-0.json"), [_line(w) for w in hist_w])

    rounds, recent = [], []
    for r in range(WARMUP_ROUNDS + max(1, round(seconds / ROUND_S))):
        fires, lines = [], []
        for _ in range(FIRES_PER_ROUND):
            ts += 1.0
            f = _fire(rnd, used, ts)
            fires.append(f)
            lines.append(_line(f))
        redeliveries = rnd.randint(0, REDELIVERIES_MAX) if recent else 0
        lines += rnd.sample(recent[-REDELIVERY_WINDOW:], redeliveries)
        malformed = rnd.randint(0, MALFORMED_MAX)
        lines += [_line(rnd.choice(fires))[: rnd.randrange(5, 40)] for _ in range(malformed)]
        recent.extend(lines[:FIRES_PER_ROUND])
        name = f"f{r:04d}.json"
        size = _write(os.path.join(out, "staged/fires", name), lines)
        files = [["fires", name]]
        weather = 0
        if r < WARMUP_ROUNDS:
            wl = []
            for st in STATIONS:
                wts += 1.0
                wl.append(_line(_weather(rnd, st, wts)))
            name = f"w{r:04d}.json"
            size += _write(os.path.join(out, "staged/weather", name), wl)
            files.append(["weather", name])
            weather = len(wl)
        rounds.append({"warmup": r < WARMUP_ROUNDS, "files": files,
                       "fires": [[f["lat"], f["lon"], f["timestamp"]] for f in fires],
                       "weather": weather, "redeliveries": redeliveries,
                       "malformed": malformed, "bytes": size})
    manifest = {
        "seed": seed, "seconds": seconds, "input_bytes": input_bytes,
        "history_fires": len(hist), "history_weather": len(hist_w),
        "history": [[f["lat"], f["lon"], f["timestamp"]] for f in hist],
        "rounds": rounds,
    }
    _dump_manifest(manifest, out)
    return manifest


# Curation corpus: the table shapes of the test corpus at sf0.01 (TESTDATA.md,
# the corpus the gates' DuckDB oracles are verified on), read off that
# corpus with corpus_shape.py: 500 documents of 10-99 words drawn uniformly
# from a 30-word vocabulary, 5% of them overwritten by another document's
# text plus the word "dup" (the near-duplicates the cluster gates resolve);
# 500 unit-norm 64-d embeddings; 10 000 events of 150 users over 30 days
# with exponentially distributed values (mean 50); 60 000 line items over
# 15 000 order keys, 2 000 parts and 100 suppliers. README.md compares the
# rendered corpus with the test corpus.
VOCAB = ("a the key agg row scan slow fast table value part hash batch window "
         "spark order data column join small line customer query big group "
         "sort merge filter stream vector").split()
LANGS, LANG_WEIGHTS = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
N_DOCS, DUP_SHARE, N_EMB, EMB_DIM = 500, 0.05, 500, 64
N_EVENTS, N_USERS, EVENT_DAYS, VALUE_MEAN = 10_000, 150, 30, 50.0
N_LINES, N_ORDERS, N_PARTS, N_SUPPS = 60_000, 15_000, 2_000, 100
# A pass over the gate list takes about this long on a 4-core machine; the
# window runs a fixed number of passes, chosen from --seconds with it.
PASS_S = 7.5


def render_curation(seed, seconds, out):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rnd = random.Random(seed)
    os.makedirs(out, exist_ok=True)

    texts = [" ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(10, 99)))
             for _ in range(N_DOCS)]
    for i in rnd.sample(range(N_DOCS), int(N_DOCS * DUP_SHARE)):
        texts[i] = texts[rnd.choice([j for j in range(N_DOCS) if j != i])] + " dup"
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rnd.choices(LANGS, LANG_WEIGHTS, k=N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = []
    for _ in range(N_EMB):
        v = [rnd.gauss(0.0, 1.0) for _ in range(EMB_DIM)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    emb = pa.table({
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rnd.randrange(10) for _ in range(N_EMB)], pa.int32()),
    })
    t0 = 1_704_067_200_000_000  # 2024-01-01 in µs
    ev_ts = sorted(t0 + rnd.randrange(EVENT_DAYS * 86400 * 1_000_000) for _ in range(N_EVENTS))
    events = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array([rnd.randrange(N_USERS) for _ in range(N_EVENTS)], pa.int64()),
        "event_type": [rnd.choice(["click", "signup", "error", "view", "purchase"])
                       for _ in range(N_EVENTS)],
        "value": [round(rnd.expovariate(1.0 / VALUE_MEAN), 2) for _ in range(N_EVENTS)],
        "props": [f'{{"k": {rnd.randrange(100)}}}' for _ in range(N_EVENTS)],
    })
    ok = [rnd.randrange(N_ORDERS) for _ in range(N_LINES)]
    pk = [rnd.randrange(N_PARTS) for _ in range(N_LINES)]
    sk = [rnd.randrange(N_SUPPS) for _ in range(N_LINES)]
    qty = [float(rnd.randint(1, 50)) for _ in range(N_LINES)]
    d0 = 788_918_400_000_000  # 1995-01-01 in µs
    lineitem = pa.table({
        "l_orderkey": pa.array(ok, pa.int64()), "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(sk, pa.int64()),
        "l_linenumber": pa.array([rnd.randint(1, 7) for _ in range(N_LINES)], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * rnd.uniform(900.0, 2100.0), 2) for q in qty],
        "l_discount": [rnd.randint(0, 10) / 100 for _ in range(N_LINES)],
        "l_tax": [rnd.randint(0, 8) / 100 for _ in range(N_LINES)],
        "l_returnflag": [rnd.choice("ANR") for _ in range(N_LINES)],
        "l_linestatus": [rnd.choice("FO") for _ in range(N_LINES)],
        "l_shipdate": pa.array([d0 + rnd.randrange(2500) * 86_400_000_000
                                for _ in range(N_LINES)], pa.timestamp("us")),
    })
    sizes = {}
    for name, tbl in (("documents", docs), ("embeddings", emb),
                      ("events", events), ("lineitem", lineitem)):
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
        sizes[name] = tbl.num_rows
    manifest = {"seed": seed, "passes": max(1, round(seconds / PASS_S)), "rows": sizes,
                "digest": hashlib.sha256(json.dumps(
                    [texts, emb.column("label").to_pylist(), ev_ts, ok, pk, sk],
                    separators=(",", ":")).encode()).hexdigest()}
    _dump_manifest(manifest, out)
    return manifest


def _dump_manifest(manifest, out):
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True, separators=(",", ":"))
