"""The workloads' inputs, chosen from the seed.

A spec names each input slice as a SQL predicate over the copied sf0.1
tables in perfbench/data; the harness filters with it in Spark and the
checks in DuckDB, so both see the same rows, and the program sees only
the resulting frames. The same seed always gives the same spec.

A round makes its build and then its updates, keyed `update1.`,
`update2.`, ... in the order they run; `updates` holds their number.

warehouse: each update is one seeded event day plus one seeded order
  month, no two alike; the build takes every other order and event.
corpus: the build takes all documents; the updates are the erasure
  requests for every doc_id in the residue classes `seed mod 97` and
  `(seed + 24) mod 97`.

Each spec also carries the warm-up's fixed small slices (`warmup.`),
with one update: for the warehouse a one-month, one-day build of 200
users and a late correction of 3 of those users and 4 customers, which
takes the bucket-scoped merge path; for the corpus a 100-document build
and an erasure. A full-size warm-up made the measured builds no steadier
and cost a run 6–9 s, which a third warehouse delta uses better.
"""

import random

import duckdb

DELTAS = 3  # warehouse updates per round
ERASURES = 2  # corpus updates per round


def _day(d):
    return f"CAST(ts AS DATE) = DATE '{d}'"


def _month(m):
    y, mo = m.split("-")
    return f"year(o_orderdate) = {int(y)} AND month(o_orderdate) = {int(mo)}"


def _in(col, xs):
    return f"{col} IN ({', '.join(map(str, xs))})"


def warehouse(seed, data):
    con = duckdb.connect()
    q = lambda sql: [r[0] for r in con.execute(sql).fetchall()]
    days = q(f"SELECT DISTINCT CAST(ts AS DATE)::VARCHAR AS d "
             f"FROM '{data}/events.parquet' ORDER BY d")
    months = q(f"SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m "
               f"FROM '{data}/orders.parquet' ORDER BY m")
    rng = random.Random(seed)
    ds, ms = rng.sample(days, DELTAS), rng.sample(months, DELTAS)
    # warm-up: 4 customers with orders in the first month and 3 of the
    # first 200 users with events on the second day, lowest ids first
    custs = q(f"SELECT DISTINCT o_custkey FROM '{data}/orders.parquet' "
              f"WHERE {_month(months[0])} ORDER BY 1 LIMIT 4")
    users = q(f"SELECT DISTINCT user_id FROM '{data}/events.parquet' "
              f"WHERE {_day(days[1])} AND user_id < 200 ORDER BY 1 LIMIT 3")
    spec = {
        "updates": DELTAS,
        "build.orders": " AND ".join(f"NOT ({_month(m)})" for m in ms),
        "build.events": " AND ".join(f"NOT ({_day(d)})" for d in ds),
        "warmup.updates": 1,
        "warmup.build.orders":
            f"{_month(months[0])} AND NOT {_in('o_custkey', custs)}",
        "warmup.build.events": f"{_day(days[0])} AND user_id < 200",
        "warmup.update1.orders":
            f"{_month(months[0])} AND {_in('o_custkey', custs)}",
        "warmup.update1.events":
            f"{_day(days[1])} AND {_in('user_id', users)}",
    }
    for i, (d, m) in enumerate(zip(ds, ms), 1):
        spec[f"update{i}.orders"] = _month(m)
        spec[f"update{i}.events"] = _day(d)
    return spec


def corpus(seed, data):
    spec = {
        "updates": ERASURES,
        "build.docs": "TRUE",
        "warmup.updates": 1,
        "warmup.build.docs": "doc_id < 100",
        "warmup.update1.docs": "doc_id % 97 = 1",
    }
    for i in range(1, ERASURES + 1):
        spec[f"update{i}.docs"] = f"doc_id % 97 = {(seed + 24 * (i - 1)) % 97}"
    return spec


SPECS = {"warehouse": warehouse, "corpus": corpus}
