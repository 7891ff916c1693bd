"""Seeded input generators for the benchmark.

The engine only ever sees the files written here, never the seed:

* ``accidents_csv`` writes a 46-column US-accidents CSV in the column order
  of ``graft.etl.Cleaning.accidentsSchema`` and returns the number of rows
  the cleaning stage must keep, computed here independently of the engine.
* ``engine_tables`` writes the ten parquet tables the ``SparkEntry`` queries
  read (a TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), shaped like the fixture tables at scale factor 0.1.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ACCIDENT_COLUMNS = [
    "ID", "Source", "Severity", "Start_Time", "End_Time", "Start_Lat",
    "Start_Lng", "End_Lat", "End_Lng", "Distance_mi", "Description", "Street",
    "City", "County", "State", "Zipcode", "Country", "Timezone",
    "Airport_Code", "Weather_Timestamp", "Temperature_F", "Wind_Chill_F",
    "Humidity_Percent", "Pressure_in", "Visibility_mi", "Wind_Direction",
    "Wind_Speed_mph", "Precipitation_in", "Weather_Condition", "Amenity",
    "Bump", "Crossing", "Give_Way", "Junction", "No_Exit", "Railway",
    "Roundabout", "Station", "Stop", "Traffic_Calming", "Traffic_Signal",
    "Turning_Loop", "Sunrise_Sunset", "Civil_Twilight", "Nautical_Twilight",
    "Astronomical_Twilight"]

# (city, state, lat, lng): well-separated hotspots, so the K-Means elbow
# over scaled Start_Lat/Start_Lng has a clear best k
HOTSPOTS = [("Los Angeles", "CA", 34.05, -118.24),
            ("Houston", "TX", 29.76, -95.37),
            ("Miami", "FL", 25.76, -80.19),
            ("New York", "NY", 40.71, -74.01)]
WEATHER = ["Clear", "Fair", "Cloudy", "Light Rain", "Rain", "Fog", "Snow",
           "Heavy Rain", "Overcast"]
POI_FLAGS = ["Amenity", "Bump", "Crossing", "Give_Way", "Junction",
             "No_Exit", "Railway", "Roundabout", "Station", "Stop",
             "Traffic_Calming", "Traffic_Signal", "Turning_Loop"]


def _num(values, rng, p_empty, p_nan, fmt="%.2f"):
    """Render floats as CSV tokens, some empty (null) and some ``NaN``."""
    u = rng.random(len(values))
    out = np.char.mod(fmt, values).astype(object)
    out[u < p_empty + p_nan] = "NaN"
    out[u < p_empty] = ""
    return out


def _text(values, rng, p_null, p_empty):
    """String tokens: some unquoted-empty (null), some quoted-empty ("")."""
    u = rng.random(len(values))
    out = np.asarray(values, dtype=object).copy()
    out[u < p_null + p_empty] = '""'
    out[u < p_null] = ""
    return out


def accidents_csv(path, seed, rows):
    """Write the raw accidents CSV; return the expected cleaned row count."""
    rng = np.random.default_rng(seed)
    spot = rng.integers(0, len(HOTSPOTS), rows)
    lat0 = np.array([h[2] for h in HOTSPOTS])[spot]
    lng0 = np.array([h[3] for h in HOTSPOTS])[spot]
    lat = lat0 + rng.normal(0, 0.35, rows)
    lng = lng0 + rng.normal(0, 0.35, rows)
    start = (np.datetime64("2016-01-01T00:00:00")
             + rng.integers(0, 8 * 365 * 86400, rows).astype("timedelta64[s]"))
    hour = (start.astype("datetime64[h]").astype(np.int64) % 24)
    dist = rng.gamma(1.5, 0.8, rows)
    vis = np.clip(rng.normal(9, 2.5, rows), 0, 10)
    wind = rng.gamma(2.0, 4.0, rows)
    temp = rng.normal(65, 15, rows)
    hum = np.clip(rng.normal(60, 20, rows), 0, 100)
    signal = rng.random(rows) < 0.25
    # severity depends on distance, visibility, night hours, signals and
    # the hotspot, so the forest has signal to learn
    score = (0.9 * np.log1p(dist) - 0.12 * vis + 0.5 * ((hour < 6) | (hour > 21))
             - 0.6 * signal + 0.25 * spot + rng.normal(0, 0.45, rows))
    sev = np.digitize(score, np.quantile(score, [0.15, 0.75, 0.93])) + 1
    # out-of-range and missing labels, rejected by the validity filter
    u = rng.random(rows)
    sev_tok = sev.astype(str).astype(object)
    sev_tok[u < 0.03] = rng.choice(["0", "5", "7"], rows)[u < 0.03]
    sev_tok[u < 0.01] = ""
    lat_tok = _num(lat, rng, 0.01, 0.0, "%.6f")
    lng_tok = _num(lng, rng, 0.01, 0.0, "%.6f")
    keep = (np.isin(sev_tok, ["1", "2", "3", "4"]) & (lat_tok != "")
            & (lng_tok != ""))

    start_s = np.datetime_as_string(start, unit="s")
    start_tok = np.char.replace(start_s.astype(str), "T", " ").astype(object)
    end = start + rng.integers(600, 6 * 3600, rows).astype("timedelta64[s]")
    end_tok = np.char.replace(np.datetime_as_string(end, unit="s").astype(str),
                              "T", " ").astype(object)
    city = np.array([h[0] for h in HOTSPOTS], dtype=object)[spot]
    state = np.array([h[1] for h in HOTSPOTS], dtype=object)[spot]
    night = (hour < 6) | (hour > 19)
    day_night = np.where(night, "Night", "Day").astype(object)

    def flag(p):
        b = rng.random(rows) < p
        return _text(np.where(b, "True", "False"), rng, 0.02, 0.0)

    cols = {
        "ID": np.char.add("A-", np.arange(rows).astype(str)).astype(object),
        "Source": rng.choice(["Source1", "Source2", "Source3"], rows),
        "Severity": sev_tok,
        "Start_Time": start_tok,
        "End_Time": end_tok,
        "Start_Lat": lat_tok,
        "Start_Lng": lng_tok,
        "End_Lat": _num(lat + rng.normal(0, 0.01, rows), rng, 0.3, 0.0, "%.6f"),
        "End_Lng": _num(lng + rng.normal(0, 0.01, rows), rng, 0.3, 0.0, "%.6f"),
        "Distance_mi": _num(dist, rng, 0.03, 0.01, "%.3f"),
        "Description": rng.choice(["Accident on road", "Lane blocked",
                                   "Slow traffic", "Road closed"], rows),
        "Street": rng.choice(["I-10 W", "Main St", "US-1 N", "Broadway",
                              "5th Ave"], rows),
        "City": _text(city, rng, 0.01, 0.01),
        "County": _text(city, rng, 0.01, 0.0),
        "State": state,
        "Zipcode": np.char.zfill(rng.integers(0, 99999, rows).astype(str), 5),
        "Country": np.full(rows, "US", dtype=object),
        "Timezone": rng.choice(["US/Pacific", "US/Central", "US/Eastern"], rows),
        "Airport_Code": rng.choice(["KLAX", "KHOU", "KMIA", "KJFK"], rows),
        "Weather_Timestamp": start_tok,
        "Temperature_F": _num(temp, rng, 0.03, 0.01, "%.1f"),
        "Wind_Chill_F": _num(temp - 3, rng, 0.4, 0.0, "%.1f"),
        "Humidity_Percent": _num(hum, rng, 0.03, 0.01, "%.1f"),
        "Pressure_in": _num(rng.normal(29.9, 0.3, rows), rng, 0.02, 0.0),
        "Visibility_mi": _num(vis, rng, 0.03, 0.01, "%.1f"),
        "Wind_Direction": rng.choice(["N", "S", "E", "W", "CALM", "VAR"], rows),
        "Wind_Speed_mph": _num(wind, rng, 0.03, 0.01, "%.1f"),
        "Precipitation_in": _num(rng.gamma(0.3, 0.1, rows), rng, 0.5, 0.0),
        "Weather_Condition": _text(rng.choice(WEATHER, rows), rng, 0.02, 0.01),
        "Sunrise_Sunset": _text(day_night, rng, 0.01, 0.01),
        "Civil_Twilight": day_night,
        "Nautical_Twilight": day_night,
        "Astronomical_Twilight": day_night,
    }
    for f in POI_FLAGS:
        cols[f] = flag(0.1)
    cols["Traffic_Signal"] = _text(np.where(signal, "True", "False"),
                                   rng, 0.02, 0.0)
    table = np.stack([np.asarray(cols[c], dtype=object)
                      for c in ACCIDENT_COLUMNS], axis=1)
    with open(path, "w") as f:
        f.write(",".join(ACCIDENT_COLUMNS) + "\n")
        f.writelines(",".join(r) + "\n" for r in table.tolist())
    return int(keep.sum())


WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data join vector customer the").split()
P_NAMES = ("red hot large small cold old new green").split()
P_KINDS = ("bolt ring rod plate gear widget anvil nut").split()


def _ts(start, seconds):
    return pa.array(np.datetime64(start, "us")
                    + (np.asarray(seconds) * 1_000_000).astype("timedelta64[us]"))


def engine_tables(out_dir, seed):
    """Write region ... embeddings as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    sf = 0.1
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    day = 86400
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    # every nation, segment, flag and status value occurs, so grouped
    # queries return the same number of rows for every seed
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(np.arange(n_cust) % 25, pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(np.arange(n_supp) % 25, pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(
            np.array(P_NAMES)[rng.integers(0, 8, n_part)], " "),
            np.array(P_KINDS)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", (rng.integers(1, 26, n_part)).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    odate = rng.integers(0, 2404, n_ord) * day
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    okey = rng.integers(0, n_ord, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", odate[okey] + rng.integers(0, 90, n_line) * day)})
    n_ev = int(1_000_000 * sf)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * day, n_ev))),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = int(50_000 * sf)
    lens = rng.integers(8, 90, n_doc)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # a tenth of the corpus repeats an earlier document, so the dedup
    # queries have duplicate groups to find
    dup = rng.random(n_doc) < 0.1
    src = rng.integers(0, n_doc, n_doc)
    texts = [texts[s] if d and s < i else x
             for i, (x, d, s) in enumerate(zip(texts, dup, src))]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[
            rng.integers(0, 6, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    n_emb, dim = int(20_000 * sf), 64
    label = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, dim))
    emb = centers[label] + rng.normal(0, 1.2, (n_emb, dim))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.astype(np.float32).ravel()), dim).cast(
            pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
