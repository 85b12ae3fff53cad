"""sql_interactive: a seeded closed-loop mix of vinum-dialect queries
through ``Table.sql`` and ``vinum_spark.sql``, each checked against a
DuckDB twin of its template."""

from __future__ import annotations

import os
import time

import numpy as np

import common
import gen

# (name, class, tables, vinum query, DuckDB twin, ordered).  ``tables``
# names the Tables the query runs over: one -> ``Table.sql``, several ->
# ``vinum_spark.sql``.  Literals are filled per query from the seed.
TEMPLATES = [
    ("filter_project", "builtin", ("f",),
     "SELECT id, city_from, tip FROM f WHERE vendor_u = {v} AND tip > {x} "
     "ORDER BY id LIMIT 50",
     "SELECT id, city_from, tip FROM f WHERE vendor_u = {v} AND tip > {x} "
     "ORDER BY id LIMIT 50", True),
    ("global_agg", "builtin", ("f",),
     "SELECT count(*) AS n, sum(tip) AS s, min(total) AS mn, max(lat) AS mx, "
     "count(total) AS nt FROM f WHERE ts < {t}",
     "SELECT count(*) AS n, sum(tip) AS s, min(total) AS mn, max(lat) AS mx, "
     "count(total) AS nt FROM f WHERE ts < {t}", False),
    ("group_having", "builtin", ("f",),
     "SELECT vendor_z, count(*) AS n, avg(tip) AS a FROM f GROUP BY vendor_z "
     "HAVING count(*) > {n} ORDER BY vendor_z",
     "SELECT vendor_z, count(*) AS n, avg(tip) AS a FROM f GROUP BY vendor_z "
     "HAVING count(*) > {n} ORDER BY vendor_z", True),
    ("distinct", "builtin", ("f",),
     "SELECT DISTINCT city_from, vendor_u FROM f WHERE vendor_u < {v_small} AND lat > {lat}",
     "SELECT DISTINCT city_from, vendor_u FROM f WHERE vendor_u < {v_small} AND lat > {lat}",
     False),
    ("order_limit_offset", "builtin", ("f",),
     "SELECT id, tip, total FROM f WHERE vendor_z = {z} ORDER BY tip DESC, id "
     "LIMIT 20 OFFSET {o}",
     "SELECT id, tip, total FROM f WHERE vendor_z = {z} ORDER BY tip DESC, id "
     "LIMIT 20 OFFSET {o}", True),
    ("datetime", "builtin", ("f",),
     "SELECT date(from_timestamp(ts)) AS day, count(*) AS n FROM f "
     "WHERE from_timestamp(ts) >= datetime('{day}') AND vendor_u = {v} "
     "GROUP BY date(from_timestamp(ts)) ORDER BY day LIMIT 10",
     "SELECT CAST(to_timestamp(ts) AS DATE) AS day, count(*) AS n FROM f "
     "WHERE to_timestamp(ts) >= TIMESTAMPTZ '{day}' AND vendor_u = {v} "
     "GROUP BY 1 ORDER BY day LIMIT 10", True),
    ("np_call", "udf", ("f",),
     "SELECT id, np.log1p(tip) AS lt, np.hypot(lat, lng) AS h FROM f "
     "WHERE vendor_u = {v} AND city_from = '{city}' ORDER BY id LIMIT 100",
     "SELECT id, ln(1 + tip) AS lt, sqrt(lat * lat + lng * lng) AS h FROM f "
     "WHERE vendor_u = {v} AND city_from = '{city}' ORDER BY id LIMIT 100", True),
    ("numpy_udf", "udf", ("f",),
     "SELECT vendor_u, avg(tip_score(tip, lat)) AS s FROM f WHERE vendor_z = {z} "
     "GROUP BY vendor_u",
     "SELECT vendor_u, avg(ln(1 + tip) * lat / 10) AS s FROM f WHERE vendor_z = {z} "
     "GROUP BY vendor_u", False),
    ("numpy_agg", "udf", ("t",),
     "SELECT city_from, spread(lat) AS sp FROM t WHERE id % {m} = 0 GROUP BY city_from",
     "SELECT city_from, max(lat) - min(lat) AS sp FROM t WHERE id % {m} = 0 "
     "GROUP BY city_from", False),
    ("join", "builtin", ("f", "d"),
     "SELECT d.region, count(*) AS n, sum(f.tip * d.rate) AS s FROM f "
     "JOIN d ON f.vendor_u = d.vendor_id WHERE f.lat > {lat} GROUP BY d.region",
     "SELECT d.region, count(*) AS n, sum(f.tip * d.rate) AS s FROM f "
     "JOIN d ON f.vendor_u = d.vendor_id WHERE f.lat > {lat} GROUP BY d.region", False),
    ("nulls", "builtin", ("t",),
     "SELECT city_from, count(*) AS n, count(total) AS nt, sum(total) AS s FROM t "
     "WHERE timestamp > {t_trip} GROUP BY city_from",
     "SELECT city_from, count(*) AS n, count(total) AS nt, sum(total) AS s FROM t "
     "WHERE timestamp > {t_trip} GROUP BY city_from", False),
]


def _literals(rng) -> dict:
    day = 1_590_000_000 + int(rng.integers(0, 38_000_000))
    return {
        "v": int(rng.integers(1, gen.DIM_ROWS + 1)),
        "v_small": int(rng.integers(3, 12)),
        "x": round(float(rng.uniform(0.5, 8.0)), 2),
        "t": 1_590_000_000 + int(rng.integers(0, 40_000_000)),
        "t_trip": 1_596_000_000 + int(rng.integers(0, 9_000_000)),
        "n": int(rng.integers(100, 5000)),
        "lat": round(float(rng.uniform(36.0, 59.0)), 2),
        "z": int(rng.integers(5, 60)),
        "o": int(rng.integers(0, 40)),
        "m": int(rng.integers(2, 9)),
        "city": gen.CITIES[int(rng.integers(0, len(gen.CITIES)))],
        "day": time.strftime("%Y-%m-%d", time.gmtime(day)),
    }


def query_cycles(seed: int):
    """Endless seeded sequence of cycles, each a list of (template,
    literals).  Every cycle holds each template once, so the class mix is
    the same in every run.  The first cycle, which pays every template's
    cold first call, runs in template order so that the same calls are cold
    in every run; later cycles run in seeded order."""
    rng = gen.rng_for(seed, "sql", 1)
    order = range(len(TEMPLATES))
    while True:
        yield [(TEMPLATES[i], _literals(rng)) for i in order]
        order = rng.permutation(len(TEMPLATES))


def register_udfs(vs) -> None:
    vs.register_numpy("tip_score", lambda tip, lat: np.log1p(tip) * lat / 10, "double")
    vs.register_numpy_agg("spread", lambda x: float(np.max(x) - np.min(x)), "double")


def _rows(table) -> list:
    return [tuple(r.values()) for r in table.to_pylist()]


class SqlInteractive:
    # one step is one full cycle of the mix.  Five cycles whatever
    # ``--seconds`` says: the cold first one and four warm ones, so that
    # each template's median cost is a warm call
    min_steps = 5
    ops_per_step = len(TEMPLATES)

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self) -> None:
        self.dir = gen.sql_inputs(self.seed)

    def open(self, spark, tracer) -> None:
        import pyarrow.parquet as pq
        import vinum_spark as vs

        self.vs = vs
        register_udfs(vs)
        with tracer.span("io.read_parquet"):
            f = vs.read_parquet(os.path.join(self.dir, "fact"))
        with tracer.span("io.read_parquet"):
            d = vs.read_parquet(os.path.join(self.dir, "dim.parquet"))
        trips = pq.read_table(os.path.join(self.dir, "trips.parquet"))
        with tracer.span("api.from_arrow"):
            t = vs.Table.from_arrow(trips, spark)
        self.tables = {"f": f, "d": d, "t": t}
        self.cycles = query_cycles(self.seed)
        self.done = []

    def step(self, tracer, cpu) -> dict:
        """One cycle of the mix: each query submitted and materialized with
        ``to_arrow()``.  ``cpu()`` reads the process tree's CPU seconds (JIT
        compilation left out); each query's cost is charged to its template."""
        lats, costs = [], []
        for (name, cls, tables, q, duck, ordered), lit in next(self.cycles):
            sql = q.format(**lit)
            c0 = cpu()
            t0 = time.perf_counter()
            with tracer.span("query", template=name, cls=cls):
                with tracer.span("api.sql_build"):
                    if len(tables) == 1:
                        res = self.tables[tables[0]].sql(sql)
                    else:
                        res = self.vs.sql(sql, **{k: self.tables[k] for k in tables})
                with tracer.span("api.to_arrow"):
                    out = res.to_arrow()
            lats.append(time.perf_counter() - t0)
            costs.append((name, cpu() - c0))
            self.done.append((name, duck.format(**lit), ordered, _rows(out)))
        return {"latencies": lats, "items": len(lats), "ops": len(lats), "costs": costs}

    def after_step(self) -> None:
        pass

    def describe(self, wall: dict) -> str:
        return (f"query_p50_s={wall['p50']:.4f} query_p90_s={wall['p90']:.4f} "
                f"queries_per_s={wall['per_s']:.4f} over {wall['n']} queries "
                f"({wall['beyond_p90']} beyond p90; ten beyond it takes "
                f"{common.min_samples_for(90)} queries)")

    def layer_metrics(self, spark, tracer) -> dict:
        return {}

    def check(self) -> list:
        """Failures of the queries run so far against DuckDB."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE VIEW f AS SELECT * FROM read_parquet('{self.dir}/fact/*.parquet')")
        con.execute(f"CREATE VIEW d AS SELECT * FROM read_parquet('{self.dir}/dim.parquet')")
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{self.dir}/trips.parquet')")
        failures = []
        for name, duck, ordered, got in self.done:
            want = [tuple(r) for r in con.execute(duck).fetchall()]
            if not common.rows_equal(got, want, ordered):
                failures.append(f"{name}: {len(got)} rows vs DuckDB {len(want)} for {duck!r}")
        con.close()
        self.done = []
        return failures
