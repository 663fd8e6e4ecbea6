"""Independent DuckDB computations the benchmark checks the program against.

Every check recomputes the expected output from the raw input files and
the seed's split, never from a stored copy of an earlier output:

- warehouse: the build report against the shape of the repo's q243
  oracle over the build's rows, each update report against the q250
  shape over the rows applied before it and its own, each dashboard read
  against a from-scratch group-by over every row applied so far
  (incremental equals rebuild);
- corpus: the build report against the q245 oracle chain, each erasure
  report against the q246 oracle shape for its request set, each read of
  the published manifest against a from-scratch shard packing, and no
  doc_id erased so far left in any published corpus table.

The spec's SQL predicates (perfbench/workloads.py) name the rows of each
slice; `prefix` selects the measured rounds' slices or the warm-up's.

The corpus chain restates the q245 oracle SQL with every intermediate
materialized once (the single-statement form re-evaluates its shared
CTEs and takes minutes); the constants are the program's documented
ones (quality threshold 0.5, eval probe every 20th id, 3-token shingles,
16 minhashes in 4 bands, Jaccard 0.5, 2 shared grams, 4096-token shards,
10000-id partitions).
"""

import functools
from decimal import Decimal

import duckdb


def connect(data, workload, docs="TRUE"):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    if workload == "warehouse":
        for t in ("orders", "customer", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data}/{t}.parquet')")
    else:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{data}/documents.parquet') WHERE {docs}")
    return con


def _report(rows):
    return {(r[0], r[1], r[2]): int(r[3]) for r in rows}


def _updates(spec, prefix, key):
    """The spec's predicates `key` of the round's updates, in order."""
    return [spec[f"{prefix}update{i}.{key}"]
            for i in range(1, int(spec[f"{prefix}updates"]) + 1)]


def _diff(got, want):
    """Human-readable difference of two report dicts, or '' if equal."""
    keys = sorted(set(got) | set(want))
    bad = [f"{k}: got {got.get(k)} want {want.get(k)}" for k in keys
           if got.get(k) != want.get(k)]
    return "; ".join(bad[:6])


# ------------------------------------------------------------- warehouse

class Warehouse:
    """The oracles over one round's slices."""

    VALID = "o_totalprice > 0 AND o_custkey IS NOT NULL"

    def __init__(self, data, spec, prefix):
        self.con = connect(data, "warehouse")
        self.build = (spec[f"{prefix}build.orders"],
                      spec[f"{prefix}build.events"])
        self.updates = list(zip(_updates(spec, prefix, "orders"),
                                _updates(spec, prefix, "events")))

    def _scd(self, events_pred):
        return f"""scd AS (
          SELECT user_id, ts AS valid_from,
            LEAD(ts) OVER w AS valid_to,
            (LEAD(ts) OVER w IS NULL) AS is_current,
            ROW_NUMBER() OVER w AS version
          FROM events WHERE {events_pred}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        ov AS (
          SELECT COUNT(*) AS n FROM (
            SELECT valid_to, LEAD(valid_from) OVER (
              PARTITION BY user_id ORDER BY valid_from, version) AS nf
            FROM scd)
          WHERE nf IS NOT NULL AND (valid_to IS NULL OR valid_to > nf)),
        cv AS (
          SELECT COUNT(*) AS n FROM (
            SELECT user_id, SUM(CASE WHEN is_current THEN 1 ELSE 0 END) AS nc
            FROM scd GROUP BY 1)
          WHERE nc <> 1)"""

    def _marts_tail(self):
        cents = ("CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
                 "AS BIGINT)) AS BIGINT)")
        return f"""
        UNION ALL SELECT 'dim', 'dim_user_scd2', 'versions',
          (SELECT COUNT(*) FROM scd)
        UNION ALL SELECT 'dim', 'dim_user_scd2', 'current_rows',
          (SELECT COUNT(*) FROM scd WHERE is_current)
        UNION ALL SELECT 'dim', 'dim_user_scd2', 'overlap_violations',
          (SELECT n FROM ov)
        UNION ALL SELECT 'dim', 'dim_user_scd2', 'current_violations',
          (SELECT n FROM cv)
        UNION ALL SELECT 'mart', 'mart_monthly_revenue', 'rows',
          (SELECT COUNT(DISTINCT date_trunc('month', o_orderdate)) FROM so)
        UNION ALL SELECT 'mart', 'mart_monthly_revenue', 'revenue_cents',
          (SELECT {cents} FROM so)
        UNION ALL SELECT 'mart', 'mart_monthly_revenue', 'published', 1
        UNION ALL SELECT 'mart', 'mart_monthly_revenue',
          'audit_violations', 0
        UNION ALL SELECT 'mart', 'mart_segment_revenue', 'rows',
          (SELECT COUNT(DISTINCT c_mktsegment) FROM seg)
        UNION ALL SELECT 'mart', 'mart_segment_revenue', 'revenue_cents',
          (SELECT {cents} FROM seg)
        UNION ALL SELECT 'mart', 'mart_segment_revenue', 'published', 1
        UNION ALL SELECT 'mart', 'mart_segment_revenue',
          'audit_violations', 0"""

    def _common(self, applied_o, applied_e):
        return f"""so AS (
          SELECT * FROM orders WHERE ({applied_o}) AND {self.VALID}),
        sc AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
        seg AS (
          SELECT c.c_mktsegment, o.o_totalprice
          FROM so o JOIN sc c ON o.o_custkey = c.c_custkey),
        {self._scd(applied_e)}"""

    def build_report(self, o, e):
        """The q243 report shape over the orders/events predicates."""
        sql = f"""WITH {self._common(o, e)}
        SELECT 'staging', 'stg_orders', 'rows_in',
          (SELECT COUNT(*) FROM orders WHERE {o})
        UNION ALL SELECT 'staging', 'stg_orders', 'rows_kept',
          (SELECT COUNT(*) FROM so)
        UNION ALL SELECT 'staging', 'stg_orders', 'dropped_invalid',
          (SELECT COUNT(*) FROM orders WHERE ({o})
           AND (o_totalprice <= 0 OR o_custkey IS NULL))
        UNION ALL SELECT 'staging', 'stg_orders', 'high_value',
          (SELECT COUNT(*) FROM orders WHERE ({o}) AND o_totalprice > 400000)
        UNION ALL SELECT 'staging', 'stg_customer', 'rows_in',
          (SELECT COUNT(*) FROM customer)
        UNION ALL SELECT 'staging', 'stg_customer', 'rows_kept',
          (SELECT COUNT(*) FROM sc)
        UNION ALL SELECT 'staging', 'stg_customer', 'soft_deleted',
          (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 0)
        {self._marts_tail()}"""
        return _report(self.con.execute(sql).fetchall())

    def delta_report(self, prior_o, prior_e, d_o, d_e):
        """The q250 report shape for delta (d_o, d_e) applied on top of
        the state built from (prior_o, prior_e)."""
        sql = f"""WITH od AS (SELECT * FROM orders WHERE {d_o}),
        odv AS (SELECT * FROM od WHERE {self.VALID}),
        obv AS (SELECT * FROM orders WHERE ({prior_o}) AND {self.VALID}),
        resub AS (
          SELECT COUNT(*) AS n FROM odv
          WHERE o_orderkey IN (SELECT o_orderkey FROM obv)),
        ed AS (SELECT * FROM events WHERE {d_e}),
        {self._common(f"({prior_o}) OR ({d_o})", f"({prior_e}) OR ({d_e})")}
        SELECT 'staging', 'stg_orders_delta', 'rows_in',
          (SELECT COUNT(*) FROM od)
        UNION ALL SELECT 'staging', 'stg_orders_delta', 'rows_kept',
          (SELECT COUNT(*) FROM odv)
        UNION ALL SELECT 'staging', 'stg_orders_delta', 'dropped_invalid',
          (SELECT COUNT(*) FROM od
           WHERE o_totalprice <= 0 OR o_custkey IS NULL)
        UNION ALL SELECT 'staging', 'stg_orders_delta', 'high_value',
          (SELECT COUNT(*) FROM od WHERE o_totalprice > 400000)
        UNION ALL SELECT 'staging', 'stg_orders_delta',
          'resubmitted_dropped', (SELECT n FROM resub)
        UNION ALL SELECT 'staging', 'stg_orders', 'rows_appended',
          (SELECT COUNT(*) FROM odv) - (SELECT n FROM resub)
        UNION ALL SELECT 'staging', 'stg_orders', 'months_touched',
          (SELECT COUNT(DISTINCT strftime(o_orderdate, '%Y-%m'))
           FROM odv WHERE o_orderkey NOT IN (SELECT o_orderkey FROM obv))
        UNION ALL SELECT 'dim', 'dim_user_scd2', 'affected_users',
          (SELECT COUNT(DISTINCT user_id) FROM ed)
        UNION ALL SELECT 'dim', 'dim_user_scd2', 'versions_added',
          (SELECT COUNT(*) FROM scd) -
          (SELECT COUNT(*) FROM events WHERE {prior_e})
        {self._marts_tail()}"""
        return _report(self.con.execute(sql).fetchall())

    @functools.lru_cache(maxsize=None)
    def marts(self, o):
        """Both published marts recomputed from scratch over the orders
        applied so far: (mart, key, revenue) rows."""
        rows = self.con.execute(f"""
          WITH so AS (
            SELECT * FROM orders WHERE ({o}) AND {self.VALID})
          SELECT 'monthly', strftime(date_trunc('month', o_orderdate),
              '%Y-%m-%d'),
            SUM(CAST(o_totalprice AS DECIMAL(18,2)))::VARCHAR FROM so
          GROUP BY 2
          UNION ALL
          SELECT 'segment', c.c_mktsegment,
            SUM(CAST(o_totalprice AS DECIMAL(18,2)))::VARCHAR
          FROM so JOIN customer c ON so.o_custkey = c.c_custkey
          WHERE c.c_custkey % 10 <> 0 GROUP BY 2""").fetchall()
        return frozenset((r[0], r[1], Decimal(r[2])) for r in rows)

    def check_round(self, ops):
        """Yield (op, error or '') for every program call of one round, in
        order."""
        applied_o, applied_e = self.build
        updates = iter(self.updates)
        for op in ops:
            name = op["name"]
            d_o, d_e = next(updates) if name == "update" else (None, None)
            if op.get("error"):
                yield op, op["error"]
                continue
            if name == "build":
                err = _diff(_report(op["rows"]),
                            self.build_report(applied_o, applied_e))
            elif name == "update":
                err = _diff(_report(op["rows"]), self.delta_report(
                    applied_o, applied_e, d_o, d_e))
                applied_o = f"({applied_o}) OR ({d_o})"
                applied_e = f"({applied_e}) OR ({d_e})"
            else:  # read: incremental state equals a from-scratch rebuild
                got = set((r[0], r[1], Decimal(r[2])) for r in op["rows"])
                want = self.marts(applied_o)
                err = "" if got == want else (
                    f"marts differ from rebuild: {len(got ^ want)} rows")
            yield op, err


# ---------------------------------------------------------------- corpus

_TOKENS = "string_split_regex(trim(lower(text)), '\\s+')"
_STOP_EN = "('the', 'a', 'and', 'of', 'to')"


def _shingles(src):
    return f"""SELECT doc_id, list_distinct(
        [array_to_string(list_slice(w, i, i + 2), ' ')
         for i in range(1, len(w) - 1)]) AS s
      FROM (SELECT doc_id, {_TOKENS} AS w FROM {src}) WHERE len(w) >= 3"""


_CORPUS_CHAIN = [
    ("f", f"""SELECT doc_id, text, len(w) AS tok,
        len(list_filter(w, x -> x IN {_STOP_EN})) AS stop_hits,
        len(list_filter(w, x -> x IN {_STOP_EN})) AS he,
        len(list_filter(w, x -> x IN ('der', 'die', 'und', 'ist'))) AS hd,
        len(list_filter(w, x -> x IN ('el', 'la', 'que', 'y'))) AS hs,
        len(list_filter(w, x -> x IN ('le', 'les', 'et', 'une'))) AS hf,
        chars, punct
      FROM (SELECT doc_id, text, {_TOKENS} AS w, length(text) AS chars,
          length(text) -
            length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct
        FROM documents)"""),
    ("sc", """SELECT doc_id, text, tok,
        0.3 * least(tok / 50.0, 1.0) +
        0.3 * (stop_hits::DOUBLE / tok) +
        0.2 * (1.0 - least(10.0 * punct / greatest(chars, 1), 1.0)) +
        0.2 * least(chars::DOUBLE / tok / 8.0, 1.0) AS score,
        CASE WHEN greatest(he, hd, hs, hf) = 0 THEN 'und'
             WHEN he >= greatest(hd, hs, hf) THEN 'en'
             WHEN hd >= greatest(hs, hf) THEN 'de'
             WHEN hs >= hf THEN 'es'
             ELSE 'fr' END AS predicted
      FROM f"""),
    ("keptq", """SELECT doc_id, text, tok FROM sc
      WHERE score >= 0.5 AND predicted = 'en'"""),
    ("dk", """SELECT doc_id, text, tok FROM (
        SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM (SELECT doc_id, text, tok,
            md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM keptq))
      WHERE rn = 1"""),
    ("corpus", "SELECT * FROM dk WHERE doc_id % 20 <> 0"),
    ("ndsh", _shingles("corpus")),
    ("ndh", """SELECT doc_id,
        ('0x' || substr(md5(x), 1, 15))::BIGINT AS h1,
        ('0x' || substr(md5('999:' || x), 1, 15))::BIGINT
          % 1125899906842624 AS h2
      FROM (SELECT doc_id, unnest(s) AS x FROM ndsh)"""),
    ("ndsig", "SELECT doc_id, " + ", ".join(
        f"min(h1 + {i} * h2) AS sig{i}" for i in range(16))
        + " FROM ndh GROUP BY doc_id"),
    ("ndbands", "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_id, md5("
        + " || '|' || ".join(f"sig{4 * b + j}" for j in range(4))
        + ") AS band_key FROM ndsig" for b in range(4))),
    ("ndlosers", """SELECT DISTINCT c.doc_b AS doc_id
      FROM (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM ndbands a JOIN ndbands b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id) c
      JOIN ndsh x ON x.doc_id = c.doc_a
      JOIN ndsh y ON y.doc_id = c.doc_b
      WHERE len(list_intersect(x.s, y.s))::DOUBLE /
            len(list_distinct(list_concat(x.s, y.s)))::DOUBLE >= 0.5"""),
    ("corpus2", """SELECT * FROM corpus
      WHERE doc_id NOT IN (SELECT doc_id FROM ndlosers)"""),
    ("psh", _shingles("(SELECT * FROM documents WHERE doc_id % 20 = 0)")),
    ("csh", _shingles("corpus2")),
    ("contam", """SELECT DISTINCT doc_id FROM (
        SELECT cg.doc_id, pg.probe_id
        FROM (SELECT doc_id, unnest(s) AS gram FROM csh) cg
        JOIN (SELECT doc_id AS probe_id, unnest(s) AS gram FROM psh) pg
          USING (gram)
        WHERE cg.doc_id != pg.probe_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)"""),
    ("fin", """SELECT * FROM corpus2
      WHERE doc_id NOT IN (SELECT doc_id FROM contam)"""),
]


def _manifest_sql(src):
    return f"""SELECT CAST(FLOOR(prev / 4096.0) AS BIGINT) AS shard,
        COUNT(*) AS n_docs, SUM(tok) AS shard_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM (SELECT doc_id, tok,
          COALESCE(SUM(tok) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        FROM {src})
      GROUP BY 1 ORDER BY 1"""


@functools.lru_cache(maxsize=None)
def _corpus_chain(data, docs):
    """A connection holding the q245 chain over the documents matching
    `docs`; the warm-up and the rounds build over the same documents, so
    they share one."""
    con = connect(data, "corpus", docs)
    for name, sql in _CORPUS_CHAIN:
        con.execute(f"CREATE TEMP TABLE {name} AS {sql}")
    return con


class Corpus:
    """The q245 chain over the build slice, then the erasure oracles."""

    TABLES = ("curated", "probes", "grams", "bands", "removed")

    def __init__(self, data, spec, prefix):
        self.con = _corpus_chain(data, spec[f"{prefix}build.docs"])
        self.requests = _updates(spec, prefix, "docs")

    def _manifest(self, erased):
        rows = self.con.execute(_manifest_sql(
            f"(SELECT * FROM fin WHERE NOT ({erased}))")).fetchall()
        return [[int(x) for x in r] for r in rows]

    def build_report(self):
        m = self._manifest("FALSE")
        q = lambda sql: self.con.execute(sql).fetchone()[0]
        n = lambda t, w="TRUE": q(f"SELECT COUNT(*) FROM {t} WHERE {w}")
        kept_q = n("keptq")
        rep = {
            ("quality", "corpus", "rows_in"): n("documents"),
            ("quality", "corpus", "dropped_low_quality"): n("sc", "score < 0.5"),
            ("langid", "corpus", "dropped_non_en"):
                n("sc", "score >= 0.5 AND predicted <> 'en'"),
            ("dedup", "corpus", "rows_kept"): n("dk"),
            ("dedup", "corpus", "dup_rows_removed"): kept_q - n("dk"),
            ("dedup", "corpus", "near_dup_removed"): n("ndlosers"),
            ("decontam", "corpus", "eval_docs_removed"):
                n("dk", "doc_id % 20 = 0"),
            ("decontam", "corpus", "contaminated_removed"): n("contam"),
            ("corpus", "curated", "rows_final"): n("fin"),
        }
        rep.update(self._shards(m))
        return rep

    @staticmethod
    def _shards(m):
        tokens = [r[2] for r in m]
        return {
            ("shards", "manifest", "n_shards"): len(m),
            ("shards", "manifest", "total_tokens"): sum(tokens),
            ("shards", "manifest", "max_shard_tokens"): max(tokens, default=0),
            ("shards", "manifest", "published"): 1,
            ("shards", "manifest", "audit_violations"): 0,
        }

    def erase_report(self, p, before):
        """The q246 shape for the erasure request of doc_ids matching `p`,
        after the earlier requests matching `before` (disjoint from `p`);
        ids the build never published count as not erased."""
        q = lambda sql: int(self.con.execute(sql).fetchone()[0] or 0)
        rep = {
            ("erase", "curated", "docs_erased"):
                q(f"SELECT COUNT(*) FROM fin WHERE {p}"),
            ("erase", "curated", "partitions_rewritten"):
                q(f"SELECT COUNT(DISTINCT CAST(FLOOR(doc_id / 10000.0) "
                  f"AS BIGINT)) FROM fin WHERE {p}"),
            ("erase", "grams", "rows_erased"):
                q(f"SELECT SUM(len(s)) FROM csh WHERE doc_id IN "
                  f"(SELECT doc_id FROM fin WHERE {p})"),
            ("erase", "probes", "docs_erased"):
                q(f"SELECT COUNT(*) FROM documents "
                  f"WHERE doc_id % 20 = 0 AND {p}"),
            ("erase", "bands", "rows_erased"):
                4 * q(f"SELECT COUNT(*) FROM ndsh WHERE {p}"),
            ("erase", "removed", "docs_erased"):
                q(f"SELECT COUNT(*) FROM corpus WHERE {p} "
                  f"AND doc_id NOT IN (SELECT doc_id FROM fin)"),
        }
        m = self._manifest(f"({before}) OR ({p})")
        rep[("corpus", "curated", "rows_final")] = sum(r[1] for r in m)
        rep.update(self._shards(m))
        return rep

    def check_round(self, ops):
        """Yield (op, error or '') for every program call of one round."""
        erased = "FALSE"
        requests = iter(self.requests)
        for op in ops:
            name = op["name"]
            if name == "update":  # a failed request counts as erased too
                p, before = next(requests), erased
                erased = f"({erased}) OR ({p})"
            if op.get("error"):
                yield op, op["error"]
                continue
            if name == "build":
                err = _diff(_report(op["rows"]), self.build_report())
            elif name == "update":
                err = _diff(_report(op["rows"]), self.erase_report(p, before))
                ids = ",".join(f"({i})" for t in self.TABLES
                               for i in op["published_ids"].get(t, []))
                left = self.con.execute(
                    f"SELECT COUNT(*) FROM (VALUES {ids or '(NULL)'}) "
                    f"v(doc_id) WHERE {erased}").fetchone()[0]
                if sorted(op["published_ids"]) != sorted(self.TABLES):
                    err = (err + "; " if err else "") + "tables missing"
                if left:
                    err = (err + "; " if err else "") + (
                        f"{left} erased doc_ids still published")
            else:  # read of the published manifest
                want = self._manifest(erased)
                got = [[int(x) for x in r] for r in op["rows"]]
                err = "" if got == want else "manifest differs from repack"
            yield op, err
