"""Seeded input generators and the reference model for the benchmark.

Everything the engine receives is made here from the workload seed:

* ``weather_*``: hourly current-weather and 40-step forecast JSON payloads
  for many synthetic cities, in the shapes the ingest flattens, plus a
  last-write-wins model of the stored tables keyed by ``(city_id, dt)``.
  Measures are two-decimal values, kept in the model as integer hundredths
  so every aggregate the dashboard shows is computed exactly.
* ``write_corpus``: the parquet tables the probe workloads read
  (lineitem, orders, part, documents, events), in the corpus' schemas.

The same seed always yields byte-identical output.
"""
import json
import os
from datetime import datetime, timezone

import numpy as np

EPOCH0 = int(datetime(2025, 10, 1, tzinfo=timezone.utc).timestamp())
HOUR = 3600
DAY = 86400

CONDITIONS = [(800, "Clear", "clear sky", "01d"), (801, "Clouds", "few clouds", "02d"),
              (802, "Clouds", "scattered clouds", "03d"), (500, "Rain", "light rain", "10d"),
              (501, "Rain", "moderate rain", "10d"), (701, "Mist", "mist", "50d")]
COUNTRIES = ["VN", "TH", "LA", "KH", "MY", "PH", "ID", "SG"]

# current_weather fact columns, in the stored order
FACT_COLS = ["city_id", "dt", "weather_id", "weather_main", "description", "base",
             "temp", "feels_like", "temp_min", "temp_max", "pressure", "humidity",
             "visibility", "wind_speed", "wind_deg", "wind_gust", "clouds_all",
             "sunrise", "sunset"]
FORECAST_COLS = ["city_id", "dt", "dt_txt", "temp", "feels_like", "temp_min", "temp_max",
                 "pressure", "sea_level", "grnd_level", "humidity", "temp_kf",
                 "weather_id", "weather_main", "description", "clouds_all",
                 "wind_speed", "wind_deg", "wind_gust", "visibility", "pop", "sys_pod",
                 "sunrise", "sunset"]
DIM_COLS = ["city_id", "city_name", "country", "coord_lat", "coord_lon", "timezone"]
# fact columns holding two-decimal measures, kept as integer hundredths
CENTS = {"temp", "feels_like", "temp_min", "temp_max", "wind_speed", "wind_gust",
         "temp_kf", "pop"}
TS_COLS = {"dt", "sunrise", "sunset"}


def cents(x):
    """Integer hundredths -> the double the payload carries."""
    return None if x is None else round(x / 100.0, 2)


class Weather:
    """Payload generator plus the model of what the store must hold."""

    def __init__(self, seed, n_cities, start=EPOCH0):
        self.rng = np.random.default_rng([seed, 17])
        self.start = start
        r = self.rng
        self.cities = []
        for i in range(n_cities):
            self.cities.append({
                "city_id": 1_500_000 + 37 * i,
                "city_name": f"City-{i:04d}",
                "country": COUNTRIES[i % len(COUNTRIES)],
                "coord_lat": round(float(r.uniform(-10, 25)), 4),
                "coord_lon": round(float(r.uniform(95, 125)), 4),
                "timezone": int(r.choice([25200, 28800, 21600])),
                "base_temp": int(r.integers(1500, 3200)),
                "minute": int(r.integers(0, 60)),
            })
        self.fact = {}      # (city_id, dt) -> row dict, last write wins
        self.forecast = {}  # (city_id, dt) -> row dict
        self.by_id = {c["city_id"]: c for c in self.cities}
        self.dim = {c["city_id"]: {k: c[k] for k in DIM_COLS} for c in self.cities}

    # ---------------------------------------------------------------- rows
    def obs_dt(self, city, hour):
        return self.start + hour * HOUR + city["minute"] * 60

    def sunrise(self, city, t):
        return self.start + (t - self.start) // DAY * DAY - city["timezone"] + 6 * HOUR

    def current_rows(self, pairs):
        """Readings for a list of (city, hour), drawn from the generator's
        stream in order, so a later draw for the same pair revises it."""
        n = len(pairs)
        r = self.rng
        temp = np.array([c["base_temp"] for c, _ in pairs]) + r.integers(-400, 400, n)
        v = {
            "cond": r.integers(0, len(CONDITIONS), n),
            "feels": temp + r.integers(-150, 150, n),
            "tmin": temp - r.integers(0, 200, n), "tmax": temp + r.integers(0, 200, n),
            "pressure": r.integers(995, 1030, n), "humidity": r.integers(30, 100, n),
            "vis": np.where(r.random(n) < 0.2, -1, r.integers(20, 101, n) * 100),
            "wind": r.integers(0, 1500, n), "deg": r.integers(0, 360, n),
            "gust": np.where(r.random(n) < 0.3, -1, r.integers(0, 2500, n)),
            "clouds": r.integers(0, 101, n),
        }
        v = {k: x.tolist() for k, x in v.items()}
        temp = temp.tolist()
        rows = []
        for i, (c, h) in enumerate(pairs):
            dt = self.obs_dt(c, h)
            cond = CONDITIONS[v["cond"][i]]
            sunrise = self.sunrise(c, dt)
            rows.append({
                "city_id": c["city_id"], "dt": dt,
                "weather_id": cond[0], "weather_main": cond[1], "description": cond[2],
                "base": "stations", "temp": temp[i], "feels_like": v["feels"][i],
                "temp_min": v["tmin"][i], "temp_max": v["tmax"][i],
                "pressure": v["pressure"][i], "humidity": v["humidity"][i],
                "visibility": None if v["vis"][i] < 0 else v["vis"][i],
                "wind_speed": v["wind"][i], "wind_deg": v["deg"][i],
                "wind_gust": None if v["gust"][i] < 0 else v["gust"][i],
                "clouds_all": v["clouds"][i],
                "sunrise": sunrise, "sunset": sunrise + 12 * HOUR,
            })
        return rows

    def current_payload(self, row):
        c = self.by_id[row["city_id"]]
        icon = next(x[3] for x in CONDITIONS if x[0] == row["weather_id"])
        vis = "" if row["visibility"] is None else f',"visibility":{row["visibility"]}'
        gust = "" if row["wind_gust"] is None else f',"gust":{cents(row["wind_gust"])!r}'
        return (
            f'{{"coord":{{"lon":{c["coord_lon"]!r},"lat":{c["coord_lat"]!r}}},'
            f'"weather":[{{"id":{row["weather_id"]},"main":"{row["weather_main"]}",'
            f'"description":"{row["description"]}","icon":"{icon}"}}],"base":"stations",'
            f'"main":{{"temp":{cents(row["temp"])!r},"feels_like":{cents(row["feels_like"])!r},'
            f'"temp_min":{cents(row["temp_min"])!r},"temp_max":{cents(row["temp_max"])!r},'
            f'"pressure":{row["pressure"]},"humidity":{row["humidity"]}}}{vis},'
            f'"wind":{{"speed":{cents(row["wind_speed"])!r},"deg":{row["wind_deg"]}{gust}}},'
            f'"clouds":{{"all":{row["clouds_all"]}}},"dt":{row["dt"]},'
            f'"sys":{{"country":"{c["country"]}","sunrise":{row["sunrise"]},'
            f'"sunset":{row["sunset"]}}},"timezone":{c["timezone"]},"id":{c["city_id"]},'
            f'"name":"{c["city_name"]}","cod":200}}')

    def forecast_payload(self, city, hour):
        """40 three-hourly steps from `hour`, and their model rows."""
        r = self.rng
        base_dt = self.start + hour * HOUR
        base_dt -= base_dt % (3 * HOUR)
        sunrise = self.sunrise(city, base_dt)
        k = 40
        temp = city["base_temp"] + r.integers(-500, 500, k)
        v = {"cond": r.integers(0, len(CONDITIONS), k), "feels": temp + r.integers(-150, 150, k),
             "tmin": temp - r.integers(0, 200, k), "tmax": temp + r.integers(0, 200, k),
             "pressure": r.integers(995, 1030, k), "sea": r.integers(995, 1030, k),
             "grnd": r.integers(990, 1025, k), "humidity": r.integers(30, 100, k),
             "kf": r.integers(-200, 200, k), "clouds": r.integers(0, 101, k),
             "wind": r.integers(0, 1500, k), "deg": r.integers(0, 360, k),
             "gust": r.integers(0, 2500, k), "vis": r.integers(20, 101, k) * 100,
             "pop": r.integers(0, 101, k)}
        v = {name: x.tolist() for name, x in v.items()}
        temp = temp.tolist()
        entries, rows = [], []
        for i in range(k):
            dt = base_dt + (i + 1) * 3 * HOUR
            cond = CONDITIONS[v["cond"][i]]
            row = {
                "city_id": city["city_id"], "dt": dt,
                "dt_txt": datetime.fromtimestamp(dt, timezone.utc).strftime("%Y-%m-%d %H:%M:%S"),
                "temp": temp[i], "feels_like": v["feels"][i],
                "temp_min": v["tmin"][i], "temp_max": v["tmax"][i],
                "pressure": v["pressure"][i], "sea_level": v["sea"][i],
                "grnd_level": v["grnd"][i], "humidity": v["humidity"][i],
                "temp_kf": v["kf"][i], "weather_id": cond[0], "weather_main": cond[1],
                "description": cond[2], "clouds_all": v["clouds"][i],
                "wind_speed": v["wind"][i], "wind_deg": v["deg"][i], "wind_gust": v["gust"][i],
                "visibility": v["vis"][i], "pop": v["pop"][i],
                "sys_pod": "d" if i % 2 else "n",
                "sunrise": sunrise, "sunset": sunrise + 12 * HOUR,
            }
            rows.append(row)
            entries.append(
                f'{{"dt":{dt},"dt_txt":"{row["dt_txt"]}","main":{{"temp":{cents(row["temp"])!r},'
                f'"feels_like":{cents(row["feels_like"])!r},"temp_min":{cents(row["temp_min"])!r},'
                f'"temp_max":{cents(row["temp_max"])!r},"pressure":{row["pressure"]},'
                f'"sea_level":{row["sea_level"]},"grnd_level":{row["grnd_level"]},'
                f'"humidity":{row["humidity"]},"temp_kf":{cents(row["temp_kf"])!r}}},'
                f'"weather":[{{"id":{cond[0]},"main":"{cond[1]}","description":"{cond[2]}",'
                f'"icon":"{cond[3]}"}}],"clouds":{{"all":{row["clouds_all"]}}},'
                f'"wind":{{"speed":{cents(row["wind_speed"])!r},"deg":{row["wind_deg"]},'
                f'"gust":{cents(row["wind_gust"])!r}}},"visibility":{row["visibility"]},'
                f'"pop":{cents(row["pop"])!r},"sys":{{"pod":"{row["sys_pod"]}"}}}}')
        doc = (f'{{"cod":"200","message":0,"cnt":40,"list":[{",".join(entries)}],'
               f'"city":{{"id":{city["city_id"]},"name":"{city["city_name"]}",'
               f'"coord":{{"lat":{city["coord_lat"]!r},"lon":{city["coord_lon"]!r}}},'
               f'"country":"{city["country"]}","population":{100000 + city["city_id"] % 997},'
               f'"timezone":{city["timezone"]},"sunrise":{sunrise},"sunset":{sunrise + 12 * HOUR}}}}}')
        return doc, rows

    # ------------------------------------------------------------- batches
    def history(self, hours):
        """Payloads and model rows for `hours` hours of every city."""
        rows = self.current_rows([(c, h) for h in range(hours) for c in self.cities])
        return [self.current_payload(row) for row in rows], rows

    def ingest_batches(self, first_hour, n):
        """The ingest batch sequence: a list of dicts with the kind, the
        payloads, the ok/bad document counts the gate must report, and the
        rows the batch upserts (to apply to the model with `apply`).

        Batches repeat a four-step cycle: a new hour for every city, the
        next new hour plus a 404 and a truncated document, an earlier hour
        replayed with revised values for half the cities (the DO UPDATE
        path), and a 40-step forecast pull that touches ~6 dates."""
        r = self.rng
        batches, hour = [], first_hour
        for i in range(n):
            step = i % 4
            if step == 3:
                payloads, rows = [], []
                for c in self.cities:
                    doc, frows = self.forecast_payload(c, hour)
                    payloads.append(doc)
                    rows.extend(frows)
                batches.append({"kind": "forecast", "payloads": payloads,
                                "ok": len(rows), "bad": 0, "rows": rows})
                continue
            if step == 2:
                h = int(r.integers(max(0, hour - 72), hour))
                cities = [c for c in self.cities if r.random() < 0.5]
            else:
                h, cities = hour, self.cities
                hour += 1
            rows = self.current_rows([(c, h) for c in cities])
            payloads = [self.current_payload(row) for row in rows]
            bad = []
            if step == 1:
                bad = ['{"cod":"404","message":"city not found"}',
                       payloads[0][: len(payloads[0]) // 2]]
                payloads = payloads[:1] + bad[:1] + payloads[1:] + bad[1:]
            batches.append({"kind": "current", "payloads": payloads,
                            "ok": len(rows), "bad": len(bad), "rows": rows})
        return batches

    def apply(self, kind, rows):
        """Last write wins per (city_id, dt)."""
        table = self.forecast if kind == "forecast" else self.fact
        for row in rows:
            table[(row["city_id"], row["dt"])] = row

    def dashboard_ops(self, n, hours):
        """Seeded widget requests over the history: (widget, city, from, to)."""
        r = self.rng
        widgets = ["latest_per_city", "scorecards", "temperature_by_hour",
                   "city_map", "temperature_scale"]
        days = hours // 24
        ops = []
        for i in range(n):
            city = None
            if r.random() < 0.5:
                city = self.cities[int(r.integers(0, len(self.cities)))]["city_name"]
            lo = hi = None
            if r.random() < 0.8:
                d0 = int(r.integers(0, days))
                span = int(r.integers(1, 8))
                lo = self.start + d0 * DAY
                hi = min(self.start + (d0 + span) * DAY, self.start + hours * HOUR) - 1
            ops.append({"widget": widgets[i % len(widgets)], "city": city,
                        "from": fmt_ts(lo), "to": fmt_ts(hi)})
        return ops


    def pipeline_ops(self, hours, n_ops):
        """The pipeline's op sequence: every third op an ingest batch (in
        the order `ingest_batches` fixes), the others widget requests, so
        every twelve ops hold one full batch cycle. Returns (ops, batches)."""
        batches = self.ingest_batches(hours, n_ops // 3 + 1)
        widgets = self.dashboard_ops(n_ops, hours)
        ops = []
        for i in range(n_ops):
            if i % 3 == 0:
                ops.append({"kind": "batch", "batch": i // 3})
            else:
                ops.append(dict(kind="widget", **widgets[i]))
        return ops, batches


def fmt_ts(t):
    if t is None:
        return None
    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def parse_ts(s):
    if s is None:
        return None
    return int(datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc).timestamp())


# --------------------------------------------------------------------------
# probe corpus
# --------------------------------------------------------------------------

WORDS = ("a batch big column data fast filter group hash key line merge order part "
         "query row scan slow small sort spark stream table value vector window agg").split()


def write_corpus(seed, sf, out_dir):
    """Corpus tables at scale factor `sf` (lineitem has 600000*sf rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = np.random.default_rng([seed, 29])
    n_li, n_ord, n_part = int(6_000_000 * sf), int(1_500_000 * sf), int(200_000 * sf)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_docs, n_events, n_users = int(50_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    os.makedirs(out_dir, exist_ok=True)
    us_day = 86_400_000_000

    def days(lo, hi, n):
        base = int(datetime(*lo, tzinfo=timezone.utc).timestamp()) * 1_000_000
        span = (int(datetime(*hi, tzinfo=timezone.utc).timestamp()) * 1_000_000 - base) // us_day
        return pa.array(base + r.integers(0, span + 1, n) * us_day, pa.timestamp("us"))

    def money(lo, hi, n):
        return np.round(r.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    qty = r.integers(1, 51, n_li).astype(np.float64)
    tables = {
        "lineitem": pa.table({
            "l_orderkey": r.integers(0, n_ord, n_li),
            "l_partkey": r.integers(0, n_part, n_li),
            "l_suppkey": r.integers(0, n_supp, n_li),
            "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * money(900, 2000, n_li), 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(r.choice(["O", "F"], n_li)),
            "l_shipdate": days((1995, 1, 2), (2001, 11, 4), n_li),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": days((1995, 1, 1), (2001, 8, 1), n_ord),
            "o_orderpriority": pa.array(r.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array([f"{WORDS[a]} {WORDS[b]}" for a, b in
                                r.integers(0, len(WORDS), (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{k}" for k in r.integers(1, 26, n_part)]),
            "p_type": pa.array(r.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL",
                                         "MEDIUM"], n_part)),
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": money(900, 1000, n_part),
        }),
    }
    texts = [" ".join(WORDS[w] for w in r.integers(0, len(WORDS), int(k)))
             for k in r.integers(10, 90, n_docs)]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(r.choice(["en", "fr", "es", "zh", "de"], n_docs,
                                  p=[0.44, 0.14, 0.14, 0.14, 0.14])),
        "source": pa.array([f"src{k}" for k in r.integers(0, 20, n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    t0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
    ts = np.sort(t0 + r.integers(0, 30 * us_day, n_events))
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_events),
        "event_type": pa.array(r.choice(["click", "signup", "error", "view", "purchase"],
                                        n_events)),
        "value": money(0.01, 490.02, n_events),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tables.items()}
