"""Correctness checks and metric arithmetic for the benchmark.

Every op's result is compared with an independent answer:

* dashboard widgets with the generator's last-write-wins model, whose
  aggregates are exact (integer hundredths, ``fractions.Fraction``);
* ingest batches with the gate counts the generator fixed, and the final
  stored tables with the model;
* probes with DuckDB running the engine's published oracle SQL over the
  same parquet corpus.

Results arrive in one canonical form (see ``Results.canonical`` on the JVM
side): columns sorted by name, a type class per column, cells as exact JSON
values, timestamps as epoch microseconds. The comparison follows the
engine's oracle checker: same columns, same type classes, exact cells, and
a float tolerance only where both sides are DOUBLE.
"""
import bisect
import math
from datetime import date, datetime, timezone
from decimal import Decimal
from fractions import Fraction

import gen

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


# ---------------------------------------------------------------------------
# canonical form
# ---------------------------------------------------------------------------

def type_class(duck_type):
    t = str(duck_type).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "double"
    if t == "VARCHAR":
        return "string"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t == "BOOLEAN":
        return "bool"
    return t.lower()


def canon_cell(v):
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    return v


def duck_answer(con, sql):
    rel = con.sql(sql)
    names = list(rel.columns)
    types = [type_class(t) for t in rel.types]
    rows = rel.fetchall()
    order = sorted(range(len(names)), key=lambda i: names[i])
    return {"cols": [names[i] for i in order], "types": [types[i] for i in order],
            "rows": [[canon_cell(r[i]) for i in order] for r in rows]}


def cells_equal(a, b, ta, tb):
    if a is None or b is None:
        return a is None and b is None
    if ta == "double" and tb == "double":
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) < 1e-9
    if ta == "decimal" or tb == "decimal":
        return Decimal(str(a)) == Decimal(str(b))
    return a == b


def diff(got, want, ordered=True):
    """None when `got` matches `want`, else a one-line reason."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if got["types"] != want["types"]:
        return f"types {got['types']} != {want['types']}"
    g, w = got["rows"], want["rows"]
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    if not ordered:
        key = lambda r: [(x is None, str(x)) for x in r]
        g, w = sorted(g, key=key), sorted(w, key=key)
    for i, (rg, rw) in enumerate(zip(g, w)):
        for j, (a, b) in enumerate(zip(rg, rw)):
            if not cells_equal(a, b, got["types"][j], want["types"][j]):
                return f"row {i} col {got['cols'][j]}: got {a!r} want {b!r}"
    return None


# ---------------------------------------------------------------------------
# dashboard model
# ---------------------------------------------------------------------------

def rounded_mean_ok(got, num, den, scale=4):
    """`got` is round(mean, scale) for mean = num/den computed in floating
    point: it is a `scale`-decimal value within half a unit of the exact
    mean (a float sum can land on either side of a rounding midpoint)."""
    if got is None or den == 0:
        return got is None and den == 0
    exact = Fraction(num, den)
    unit = Fraction(1, 10 ** scale)
    q = Fraction(got).limit_denominator(10 ** (scale + 2))
    on_grid = abs(got * 10 ** scale - round(got * 10 ** scale)) < 1e-6
    return on_grid and abs(q - exact) <= unit / 2 + Fraction(1, 10 ** 9)


class DashboardModel:
    """Answers Q1-Q6 for a filter from the model of the stored tables."""

    def __init__(self, weather):
        self.w = weather
        self.by_name = {c["city_name"]: c["city_id"] for c in weather.cities}
        self.dts = {c["city_id"]: [] for c in weather.cities}   # sorted dt per city
        self.vals = {c["city_id"]: [] for c in weather.cities}  # rows in dt order
        self.apply(sorted(weather.fact.values(), key=lambda r: r["dt"]))

    def apply(self, rows):
        """Upsert current-weather rows, last write wins per (city_id, dt)."""
        for row in rows:
            dts, vals = self.dts[row["city_id"]], self.vals[row["city_id"]]
            i = bisect.bisect_left(dts, row["dt"])
            if i < len(dts) and dts[i] == row["dt"]:
                vals[i] = row
            else:
                dts.insert(i, row["dt"])
                vals.insert(i, row)

    def rows(self, spec):
        cids = sorted(self.dts) if spec["city"] is None else (
            [self.by_name[spec["city"]]] if spec["city"] in self.by_name else [])
        lo, hi = gen.parse_ts(spec["from"]), gen.parse_ts(spec["to"])
        out = {}
        for cid in cids:
            dts = self.dts[cid]
            a = 0 if lo is None else bisect.bisect_left(dts, lo)
            b = len(dts) if hi is None else bisect.bisect_right(dts, hi)
            out[cid] = self.vals[cid][a:b]
        return out

    def check(self, spec, got):
        """None when the widget result `got` is right for `spec`."""
        sel = self.rows(spec)
        allrows = [r for rs in sel.values() for r in rs]
        widget = spec["widget"]
        if widget == "latest_per_city":
            want = [fact_cells(rs[-1]) for rs in sel.values() if rs]
            return diff(got, table(gen.FACT_COLS, FACT_TYPES, want), ordered=False)
        if widget == "city_map":
            dim = self.w.dim
            want = [{"city_id": cid, "city_name": dim[cid]["city_name"],
                     "coord_lat": dim[cid]["coord_lat"], "coord_lon": dim[cid]["coord_lon"],
                     "temp": gen.cents(rs[-1]["temp"]), "dt": rs[-1]["dt"] * 1_000_000}
                    for cid, rs in sorted(sel.items()) if rs]
            cols = ["city_id", "city_name", "coord_lat", "coord_lon", "temp", "dt"]
            return diff(got, table(cols, MAP_TYPES, want), ordered=True)
        if widget == "temperature_scale":
            temps = [r["temp"] for r in allrows]
            want = [{"temp_min": gen.cents(min(temps)) if temps else None,
                     "temp_max": gen.cents(max(temps)) if temps else None}]
            return diff(got, table(["temp_min", "temp_max"], {"temp_min": "double",
                                                           "temp_max": "double"}, want))
        if widget == "scorecards":
            n = len(allrows)
            want = {"avg_humidity": (sum(r["humidity"] for r in allrows), n),
                    "avg_pressure": (sum(r["pressure"] for r in allrows), n),
                    "avg_wind_speed": (sum(r["wind_speed"] for r in allrows), 100 * n)}
            return check_means(got, want, n)
        if widget == "temperature_by_hour":
            hours = {}
            for r in allrows:
                h = r["dt"] - r["dt"] % 3600
                s, k = hours.get(h, (0, 0))
                hours[h] = (s + r["temp"], k + 1)
            cols = sorted(["hour", "avg_temp"])
            if got["cols"] != cols or got["types"] != ["double", "timestamp"]:
                return f"columns {got['cols']} {got['types']}"
            if len(got["rows"]) != len(hours):
                return f"rows {len(got['rows'])} != {len(hours)}"
            for (avg, hour), h in zip(got["rows"], sorted(hours)):
                if hour != h * 1_000_000:
                    return f"hour {hour} != {h * 1_000_000}"
                s, k = hours[h]
                if not rounded_mean_ok(avg, s, 100 * k):
                    return f"hour {h}: avg_temp {avg} != {Fraction(s, 100 * k)}"
            return None
        return f"unknown widget {widget}"


FACT_TYPES = {c: ("double" if c in gen.CENTS else "timestamp" if c in gen.TS_COLS else
                  "string" if c in ("weather_main", "description", "base") else "int")
              for c in gen.FACT_COLS}
MAP_TYPES = {"city_id": "int", "city_name": "string", "coord_lat": "double",
             "coord_lon": "double", "temp": "double", "dt": "timestamp"}


def fact_cells(row, cols=gen.FACT_COLS):
    out = {}
    for c in cols:
        v = row[c]
        if v is not None and c in gen.CENTS:
            v = gen.cents(v)
        elif v is not None and c in gen.TS_COLS:
            v = v * 1_000_000
        out[c] = v
    return out


def table(cols, types, dict_rows):
    cs = sorted(cols)
    return {"cols": cs, "types": [types[c] for c in cs],
            "rows": [[r[c] for c in cs] for r in dict_rows]}


def check_means(got, want, n):
    cols = sorted(want)
    if got["cols"] != cols or got["types"] != ["double"] * len(cols):
        return f"columns {got['cols']} {got['types']}"
    if len(got["rows"]) != 1:
        return f"rows {len(got['rows'])} != 1"
    for c, v in zip(cols, got["rows"][0]):
        num, den = want[c]
        if not rounded_mean_ok(v, num, den if n else 0):
            return f"{c}: {v} != {Fraction(num, den) if den else None}"
    return None


# ---------------------------------------------------------------------------
# stored tables
# ---------------------------------------------------------------------------

def stored_table_diff(con, path, cols, model_rows):
    """None when the parquet table at `path` holds exactly `model_rows`."""
    import glob
    import os
    if not glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        return None if not model_rows else f"{path}: no files, {len(model_rows)} expected"
    sel = ", ".join(cols)
    got = duck_answer(con, f"SELECT {sel} FROM read_parquet('{path}/**/*.parquet', "
                           f"hive_partitioning = false)")
    types = {c: ("double" if c in gen.CENTS or c in ("coord_lat", "coord_lon") else
                 "timestamp" if c in gen.TS_COLS else
                 "string" if c in ("weather_main", "description", "base", "dt_txt",
                                   "sys_pod", "city_name", "country") else "int")
             for c in cols}
    want = table(cols, types, [fact_cells(r, cols) for r in model_rows])
    return diff(got, want, ordered=False)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

TAIL_CANDIDATES = (99.9, 99, 95, 90, 75)


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def tail(xs):
    """(percentile, value): the highest percentile of the candidates with
    at least ten samples beyond it; the maximum (recorded as percentile 100)
    when the run is too short to support a percentile above the median."""
    n = len(xs)
    for p in TAIL_CANDIDATES:
        if n - max(1, math.ceil(p / 100 * n)) >= 10:
            return p, percentile(xs, p)
    return 100, max(xs)


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
