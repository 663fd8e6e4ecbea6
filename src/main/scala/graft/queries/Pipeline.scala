package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StringType,
  StructField, StructType}

import graft.functions.Functions._
import graft.operators.{Marts, Multimodal}
import graft.sources.{Ingest, Materialize, Tables}
import graft.stage.Staging
import graft.streaming.Streaming

/** Ingestion / seeds / audit / streaming / multimodal queries — the
  * reference's raw-layer and ops-layer surface (CSV loads with rejects,
  * seed normalization, FX conversion, load audit, partitioned
  * incremental loads, freshness of the streaming path), each with a
  * DuckDB oracle over the same files. */
object Pipeline {

  private val SeedDir = "/root/repo/seeds"

  // ------------------------------------------------------------ q31

  /** CSV raw-layer ingest over a deliberately dirty fixture exercising
    * the reference's dirty-data rulebook (mixed date formats, comma
    * decimals, malformed numerics, null qty, negative price, dup rows —
    * reference `data_gen/pseudo_code_rules.txt:39-74`): all-varchar
    * read (autodetect parity) → string repair → strict cast with
    * rejects → value sanitization, summarized. */
  val q31 = Query(
    "q31_csv_dirty_ingest",
    s"""WITH raw AS (
       |  SELECT * FROM read_csv('$SeedDir/dirty_orders.csv',
       |    header=true, all_varchar=true)),
       |rep AS (
       |  SELECT order_id, qty AS qty_raw, TRY_CAST(qty AS INTEGER) AS qty_c,
       |    regexp_replace(price, ',', '.', 'g') AS price_r,
       |    COALESCE(
       |      TRY_CAST(try_strptime(order_date, '%Y-%m-%d') AS DATE),
       |      TRY_CAST(try_strptime(order_date, '%m/%d/%Y') AS DATE),
       |      TRY_CAST(try_strptime(order_date, '%d-%m-%Y') AS DATE)) AS d
       |  FROM raw),
       |c AS (
       |  SELECT *, TRY_CAST(price_r AS DECIMAL(18,2)) AS price_c FROM rep),
       |flags AS (
       |  SELECT *, ((qty_raw IS NOT NULL AND qty_c IS NULL) OR
       |    (price_r IS NOT NULL AND price_c IS NULL)) AS cast_reject
       |  FROM c),
       |castable AS (SELECT * FROM flags WHERE NOT cast_reject),
       |final AS (
       |  SELECT * FROM castable
       |  WHERE COALESCE(price_c >= 0 AND qty_c > 0, false))
       |SELECT
       |  CAST((SELECT COUNT(*) FROM raw) AS BIGINT) AS n_raw,
       |  CAST((SELECT COUNT(*) FROM flags WHERE cast_reject) AS BIGINT)
       |    AS n_cast_rejects,
       |  CAST((SELECT COUNT(*) FROM castable
       |        WHERE NOT COALESCE(price_c >= 0 AND qty_c > 0, false))
       |    AS BIGINT) AS n_value_rejects,
       |  CAST((SELECT COUNT(*) FROM final) AS BIGINT) AS n_final,
       |  CAST((SELECT SUM(qty_c) FROM final) AS BIGINT) AS sum_qty,
       |  CAST((SELECT SUM(price_c) FROM final) AS DOUBLE) AS sum_price,
       |  CAST((SELECT COUNT(*) FROM final WHERE d IS NULL) AS BIGINT)
       |    AS n_null_date,
       |  CAST((SELECT COUNT(DISTINCT order_id) FROM final) AS BIGINT)
       |    AS n_distinct_ids""".stripMargin) { (s, _) =>
    val raw = Ingest.readCsvRaw(s, s"$SeedDir/dirty_orders.csv")
    val repaired = raw
      .withColumn("price", regexp_replace(col("price"), ",", "."))
      .withColumn("d", multiFormatDate(col("order_date")))
    val (castable, castRejects) = Staging.castStrict(repaired,
      Map("qty" -> IntegerType, "price" -> DecimalType(18, 2)))
    val (fin, valueRejects) =
      Staging.splitValid(castable, col("price") >= 0 && col("qty") > 0)
    val counts = raw.agg(count(lit(1)).as("n_raw"))
      .crossJoin(castRejects.agg(count(lit(1)).as("n_cast_rejects")))
      .crossJoin(valueRejects.agg(count(lit(1)).as("n_value_rejects")))
    counts.crossJoin(fin.agg(
      count(lit(1)).as("n_final"),
      sum(col("qty")).cast("long").as("sum_qty"),
      sum(col("price")).cast("double").as("sum_price"),
      sum(when(col("d").isNull, 1).otherwise(0)).cast("long")
        .as("n_null_date"),
      countDistinct(col("order_id")).as("n_distinct_ids")))
  }

  // ------------------------------------------------------------ q32

  /** Seed-driven country normalization (reference `iso_countries` seed,
    * `README.md:22`; inconsistent name-vs-code storage,
    * `generate_and_load_script.py:74,87`): mixed-case country values
    * normalized through the broadcast seed, revenue per ISO code. */
  val q32 = Query(
    "q32_country_normalize",
    s"""WITH seed AS (
       |  SELECT * FROM read_csv('$SeedDir/iso_countries.csv',
       |    header=true, all_varchar=true)),
       |cust AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 2 = 0 THEN lower(n_name) ELSE n_name END
       |      AS country
       |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
       |norm AS (
       |  SELECT c_custkey, COALESCE(upper(trim(s.iso_code)),
       |    CASE WHEN length(upper(trim(country))) = 2
       |         THEN upper(trim(country)) END) AS country_iso
       |  FROM cust LEFT JOIN seed s
       |    ON upper(trim(country)) = upper(trim(s.country_name))
       |    OR upper(trim(country)) = upper(trim(s.iso_code)))
       |SELECT country_iso,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS revenue,
       |  CAST(COUNT(*) AS BIGINT) AS n_orders
       |FROM orders o JOIN norm ON o.o_custkey = norm.c_custkey
       |GROUP BY country_iso""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val cust = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(col("c_custkey"),
        when(pmod(col("c_custkey"), lit(2)) === 0, lower(col("n_name")))
          .otherwise(col("n_name")).as("country"))
    val norm = Staging
      .normalizeCountry(cust, "country", Ingest.seed(s, "iso_countries"))
      .select(col("c_custkey"), col("country_iso"))
    val o = Tables.orders(s, dir)
    o.join(norm, o("o_custkey") === norm("c_custkey"))
      .groupBy(col("country_iso"))
      .agg(sumMoney(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  // ------------------------------------------------------------ q33

  /** FX normalization through the `fx_rates` seed (reference
    * `README.md:23`; orders carry USD/GBP/EUR,
    * `generate_and_load_script.py:122`): deterministic currency
    * assignment, broadcast seed join, exact-decimal conversion. */
  val q33 = Query(
    "q33_fx_revenue",
    s"""WITH fx AS (
       |  SELECT * FROM read_csv('$SeedDir/fx_rates.csv', header=true,
       |    columns={'currency': 'VARCHAR', 'rate_to_usd': 'DECIMAL(4,2)'})),
       |o AS (
       |  SELECT o_totalprice,
       |    CASE o_orderkey % 3 WHEN 0 THEN 'USD' WHEN 1 THEN 'GBP'
       |         ELSE 'EUR' END AS currency
       |  FROM orders)
       |SELECT o.currency, CAST(COUNT(*) AS BIGINT) AS n_orders,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * fx.rate_to_usd)
       |    AS DOUBLE) AS revenue_usd
       |FROM o JOIN fx ON o.currency = fx.currency
       |GROUP BY o.currency""".stripMargin) { (s, dir) =>
    val fx = Ingest.seedTyped(s, "fx_rates", StructType(Seq(
      StructField("currency", StringType),
      StructField("rate_to_usd", DecimalType(4, 2)))))
    val o = Tables.orders(s, dir).select(col("o_totalprice"),
      when(pmod(col("o_orderkey"), lit(3)) === 0, "USD")
        .when(pmod(col("o_orderkey"), lit(3)) === 1, "GBP")
        .otherwise("EUR").as("currency"))
    o.join(broadcast(fx), Seq("currency"))
      .groupBy(col("currency"))
      .agg(count(lit(1)).as("n_orders"),
        sum(money(col("o_totalprice")) * col("rate_to_usd")).cast("double")
          .as("revenue_usd"))
  }

  // ------------------------------------------------------------ q34

  /** Late-arrival rate (reference `README.md:57`; lateness = received −
    * event, `generate_and_load_script.py:162`). The fixture has no
    * `received_ts`, so one is derived deterministically from the event
    * id — same derivation in the oracle. */
  val q34 = Query(
    "q34_late_arrival",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN event_id % 600 > 300 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_late,
      |  ROUND(CAST(SUM(CASE WHEN event_id % 600 > 300 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS late_rate
      |FROM events""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir).withColumn("received_ts",
      expr("ts + make_interval(0, 0, 0, 0, 0, 0, event_id % 600)"))
    Marts.lateArrivalRate(ev, col("ts"), col("received_ts"), 300)
  }

  // ------------------------------------------------------------ q35

  /** Load-audit row-count reconciliation (reference `raw_audit`,
    * `models/schema.yml:122-141`): per-table counts through the
    * registered-view SQL surface (S6/P5) — the engine side of the
    * loader-vs-warehouse count compare. */
  private val auditSql =
    """SELECT 'orders' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders
      |UNION ALL SELECT 'lineitem', CAST(COUNT(*) AS BIGINT) FROM lineitem
      |UNION ALL SELECT 'customer', CAST(COUNT(*) AS BIGINT) FROM customer
      |UNION ALL SELECT 'events', CAST(COUNT(*) AS BIGINT) FROM events
      |UNION ALL SELECT 'documents', CAST(COUNT(*) AS BIGINT) FROM documents
      |UNION ALL SELECT 'embeddings', CAST(COUNT(*) AS BIGINT) FROM embeddings""".stripMargin

  /** The exact same SQL text runs on both engines (Spark over temp
    * views, DuckDB over the parquet files). */
  val q35 = Query("q35_load_audit", auditSql) { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql(auditSql)
  }

  // ------------------------------------------------------------ q36

  /** Partitioned incremental load (reference raw partitions by
    * source/date `README.md:24`, daily `--day` runs `:82`): base write
    * partitioned by event_date, late batch appended, read back through
    * partition discovery, rolled up. The oracle aggregates the logical
    * union directly — proving write→append→read loses nothing. */
  val q36 = Query(
    "q36_partitioned_incremental",
    """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
    val path = s"/tmp/graft_incremental_${math.abs(dir.hashCode)}"
    Ingest.deletePath(s, path)
    val ev = Tables.events(s, dir)
      .withColumn("event_date", to_date(col("ts")))
    val cutoff = lit("2024-01-15").cast("date")
    Ingest.writePartitioned(ev.filter(col("event_date") < cutoff),
      path, Seq("event_date"), "overwrite")
    Ingest.writePartitioned(ev.filter(col("event_date") >= cutoff),
      path, Seq("event_date"), "append")
    s.read.parquet(path)
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        sum(money(col("value"))).cast("double").as("total_value"))
      .withColumn("event_date", col("event_date").cast("timestamp_ntz"))
  }

  // ------------------------------------------------------------ q37

  /** JSON construct + extract roundtrip (F5/F6: `to_json` over a
    * struct, key extraction back out) — serialized payloads must be
    * byte-identical across engines. */
  val q37 = Query(
    "q37_to_json_roundtrip",
    """SELECT o_orderkey,
      |  to_json({'o_orderkey': o_orderkey, 'o_orderstatus': o_orderstatus})
      |    AS payload,
      |  json_extract_string(
      |    to_json({'o_orderkey': o_orderkey, 'o_orderstatus': o_orderstatus}),
      |    '$.o_orderstatus') = o_orderstatus AS roundtrip_ok
      |FROM orders WHERE o_orderkey <= 32""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .filter(col("o_orderkey") <= 32)
      .select(col("o_orderkey"),
        to_json(struct(col("o_orderkey"), col("o_orderstatus")))
          .as("payload"),
        (get_json_object(
          to_json(struct(col("o_orderkey"), col("o_orderstatus"))),
          "$.o_orderstatus") === col("o_orderstatus")).as("roundtrip_ok"))
  }

  // ------------------------------------------------------------ q38

  /** String templating (F11: the reference's `SKU-####` pattern,
    * `generate_and_load_script.py:97`). */
  val q38 = Query(
    "q38_sku_template",
    """SELECT p_partkey % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  MIN(printf('SKU-%05d', p_partkey)) AS min_sku,
      |  MAX(printf('SKU-%05d', p_partkey)) AS max_sku
      |FROM part GROUP BY 1""".stripMargin) { (s, dir) =>
    Tables.part(s, dir)
      .select(pmod(col("p_partkey"), lit(10)).as("bucket"),
        format_string("SKU-%05d", col("p_partkey")).as("sku"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_parts"),
        min(col("sku")).as("min_sku"), max(col("sku")).as("max_sku"))
  }

  // ------------------------------------------------------------ q39

  /** A8 at 100 TB: `approx_count_distinct` (HLL++) beside the exact
    * count. HLL sketches differ per engine, so the contract checked is
    * the accuracy bound, not the sketch value. */
  val q39 = Query(
    "q39_approx_distinct",
    """SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
      |  TRUE AS approx_within_tolerance
      |FROM orders""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir).agg(
      countDistinct(col("o_custkey")).as("exact_custkeys"),
      (abs(approx_count_distinct(col("o_custkey")) -
        countDistinct(col("o_custkey"))).cast("double") /
        countDistinct(col("o_custkey")) < 0.15)
        .as("approx_within_tolerance"))
  }

  // ------------------------------------------------------------ q40

  /** Structured Streaming daily rollup (ST5): the batch mart executed
    * through readStream → tumbling window → AvailableNow, checked
    * against the batch oracle — stream/batch parity. */
  val q40 = Query(
    "q40_streaming_rollup",
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
    Streaming.dailyRollupAvailableNow(s, s"$dir/events.parquet")
  }

  // ------------------------------------------------------------ q41

  /** Multimodal metadata pipeline: binary payloads + stubbed decode /
    * resize (deterministic fake — the codec is the only missing piece;
    * schema and plumbing are real). Oracle derives the same metadata
    * from the content hash. */
  val q41 = Query(
    "q41_multimodal_meta",
    s"""WITH m AS (
       |  SELECT source,
       |    octet_length(CAST(text AS BLOB)) AS n_bytes,
       |    ['png', 'jpeg', 'webp'][(${dH("text")} % 3 + 1)::INT] AS media_format,
       |    (${dH("text")} % 1024 + 1) AS width,
       |    ((${dH("text")} >> 10) % 1024 + 1) AS height
       |  FROM documents),
       |r AS (
       |  SELECT source, n_bytes, media_format, width, height,
       |    CASE WHEN greatest(width, height) > 512
       |         THEN CAST(FLOOR(width * 512 / greatest(width, height))
       |              AS BIGINT)
       |         ELSE width END AS resized_width
       |  FROM m)
       |SELECT media_format, CAST(COUNT(*) AS BIGINT) AS n_assets,
       |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       |  CAST(SUM(width) AS BIGINT) AS total_width,
       |  CAST(SUM(resized_width) AS BIGINT) AS total_resized_width,
       |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
       |FROM r GROUP BY media_format""".stripMargin) { (s, dir) =>
    val staged = Multimodal.resizeStub(
      Multimodal.decodeStub(
        Multimodal.attachBinary(Tables.documents(s, dir), "text"), "text"),
      512)
    staged.groupBy(col("media_format"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).cast("long").as("total_bytes"),
        sum(col("width")).cast("long").as("total_width"),
        sum(col("resized_width")).cast("long").as("total_resized_width"),
        countDistinct(col("source")).as("n_sources"))
  }

  /** DuckDB fragment: portable 60-bit md5 hash of a column. */
  private def dH(c: String) = s"('0x' || substr(md5($c), 1, 15))::BIGINT"

  // ------------------------------------------------------------ q42

  /** JSON raw source (S8: reference declares CSV/Parquet/JSON raw
    * layers, `README.md:18`): events projected to JSON lines, read
    * back with an explicit schema, re-aggregated — the oracle runs on
    * the original table, so any roundtrip loss would mismatch. */
  val q42 = Query(
    "q42_json_source",
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
    val path = s"/tmp/graft_json_src_${math.abs(dir.hashCode)}"
    Ingest.deletePath(s, path)
    Tables.events(s, dir).select("event_id", "event_type", "value")
      .write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("event_id", org.apache.spark.sql.types.LongType),
      StructField("event_type", StringType),
      StructField("value", org.apache.spark.sql.types.DoubleType)))
    s.read.schema(schema).json(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(money(col("value"))).cast("double").as("total_value"))
  }

  // ------------------------------------------------------------ q43

  /** CSV sink + reload (S1/S2: the reference's raw interchange format,
    * `generate_and_load_script.py:211-217`): a mart written with
    * header, read back typed, emitted verbatim. Doubles survive via
    * Java's roundtrip-exact toString. */
  val q43 = Query(
    "q43_csv_sink_roundtrip",
    """SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE)
      |    AS TIMESTAMP) AS month,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
    val path = s"/tmp/graft_csv_sink_${math.abs(dir.hashCode)}"
    Ingest.deletePath(s, path)
    val mart = Tables.orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
        .as("month"))
      .agg(sumMoney(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
    mart.write.mode("overwrite").option("header", "true").csv(path)
    s.read.option("header", "true")
      .schema(StructType(Seq(
        StructField("month", org.apache.spark.sql.types.DateType),
        StructField("revenue", org.apache.spark.sql.types.DoubleType),
        StructField("n_orders", org.apache.spark.sql.types.LongType))))
      .csv(path)
      .withColumn("month", col("month").cast("timestamp_ntz"))
  }

  // ------------------------------------------------------------ q44

  /** Generator-parity audit (F10): the Spark-native seeded generator's
    * dirty-data invariants, checked in-engine. The oracle is the
    * expected invariant table — the hash matches iff every generated
    * rate lands in its contracted band (the reference embeds exactly
    * these "Validate the dataset" steps in its rulebook,
    * `pseudo_code_rules.txt:10,19,...,74`). */
  val q44 = Query(
    "q44_datagen_validate",
    """SELECT 'fk_users_orgs' AS rule, TRUE AS passed
      |UNION ALL SELECT 'null_email_rate', TRUE
      |UNION ALL SELECT 'soft_delete_rate', TRUE
      |UNION ALL SELECT 'order_skew_top5pct', TRUE
      |UNION ALL SELECT 'late_arrival_rate', TRUE
      |UNION ALL SELECT 'malformed_json_rate', TRUE
      |UNION ALL SELECT 'payment_fee_exact_3pct', TRUE
      |UNION ALL SELECT 'payment_multi_charge_orders', TRUE
      |UNION ALL SELECT 'payment_reconciliation', TRUE""".stripMargin) {
    (s, _) =>
      import graft.datagen.Generate
      val orgs = Generate.orgs(s, 20, 42)
      val users = Generate.users(s, orgs, 500, 42, nOrgs = 20)
      val products = Generate.products(s, 50, 42)
      val orders = Generate.orders(s, users, products, 2000, 42,
        nUsers = 500, nProducts = 50)
      val events = Generate.events(s, users, 4000, 42, nUsers = 500)
      val pays = Generate.payments(orders, 1.2, 42)
      def leg(rule: String, passed: org.apache.spark.sql.DataFrame) =
        passed.select(lit(rule).as("rule"), col("passed"))
      val fk = leg("fk_users_orgs",
        users.join(orgs, Seq("org_id"), "left_anti")
          .agg((count(lit(1)) === 0).as("passed")))
      val nullEmail = leg("null_email_rate",
        users.agg((avg(when(col("email").isNull, 1.0).otherwise(0.0))
          .between(0.005, 0.05)).as("passed")))
      val softDel = leg("soft_delete_rate",
        users.agg((avg(when(col("is_deleted"), 1.0).otherwise(0.0))
          .between(0.05, 0.15)).as("passed")))
      val skew = {
        val perUser = orders.groupBy(col("user_id"))
          .agg(count(lit(1)).as("c"))
        val top = perUser.orderBy(col("c").desc).limit(25)
          .agg(sum(col("c")).as("topc"))
        leg("order_skew_top5pct",
          top.crossJoin(orders.agg(count(lit(1)).as("n")))
            .select((col("topc").cast("double") / col("n") > 0.3)
              .as("passed")))
      }
      val late = leg("late_arrival_rate",
        events.agg((avg(when(unix_timestamp(col("received_ts")) -
          unix_timestamp(col("event_ts")) >= 86400, 1.0).otherwise(0.0))
          .between(0.10, 0.20)).as("passed")))
      val badJson = leg("malformed_json_rate",
        events.agg((avg(when(
          from_json(col("properties"),
            org.apache.spark.sql.types.MapType(StringType, StringType))
            .isNull && col("properties").isNotNull, 1.0).otherwise(0.0))
          .between(0.005, 0.03)).as("passed")))
      // payment invariants (reference money math,
      // `generate_and_load_script.py:133,144-146`, and the declared
      // "orders ≈ payments" reconciliation, `README.md:56`)
      val feeExact = leg("payment_fee_exact_3pct",
        pays.agg((sum(when(col("fee_amount") =!=
          (col("amount") * lit(BigDecimal("0.03")))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)), 1)
          .otherwise(0)) === 0).as("passed")))
      val multiCharge = leg("payment_multi_charge_orders",
        pays.groupBy(col("order_id")).agg(count(lit(1)).as("c"))
          .agg((sum(when(col("c") > 1, 1).otherwise(0)) > 0).as("passed")))
      val recon = {
        // every charge's amount must equal its order's derived amount
        val o = orders.select(col("order_id"),
          (col("unit_price") * greatest(col("quantity"), lit(1)))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .as("expected"))
        leg("payment_reconciliation",
          pays.join(o, "order_id")
            .agg((sum(when(col("amount") =!= col("expected"), 1)
              .otherwise(0)) === 0).as("passed")))
      }
      Seq(fk, nullEmail, softDel, skew, late, badJson,
        feeExact, multiCharge, recon)
        .reduce(_ unionByName _)
  }

  // ------------------------------------------------------------ q46

  /** Skew-safe salted aggregation (reference org-skew rule,
    * `pseudo_code_rules.txt:2-10`): the two-phase salted sum must equal
    * the plain aggregate exactly — decimal partials make the equality
    * bit-exact, and the oracle IS the plain aggregate. */
  val q46 = Query(
    "q46_salted_revenue",
    """SELECT o_orderstatus,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
    graft.operators.Skew.saltedSumCount(
      Tables.orders(s, dir), Seq("o_orderstatus"),
      money(col("o_totalprice")), "revenue", "n_orders")
      .withColumn("revenue", col("revenue").cast("double"))
  }

  // ------------------------------------------------------------ q47

  /** Exact percentile surfaces (statistical mart aggregates): Spark's
    * exact `percentile` and DuckDB's `quantile_cont` both
    * linear-interpolate over the sorted values, so the doubles
    * hash-match. (`approx_percentile` is engine-specific — covered by
    * the q39-style tolerance pattern, not value equality.) */
  val q47 = Query(
    "q47_percentiles",
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.95) AS p95,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.95)").as("p95"),
        count(lit(1)).as("n_orders"))
  }

  // ------------------------------------------------------------ q50

  /** Streaming sessionization through the oracle (ST2/§2.9): the
    * custom-state `flatMapGroupsWithState` sessionizer run to
    * completion with AvailableNow must produce EXACTLY the batch
    * sessions — the oracle is the same SQL as q17 (same 30-minute
    * gap), so stream/batch parity is hash-checked end to end, not just
    * asserted in a spec. */
  val q50 = Query(
    "q50_sessionize_stream",
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM g)
      |SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM s GROUP BY user_id, session_id""".stripMargin) { (s, dir) =>
    Streaming.sessionizeAvailableNow(s, Tables.events(s, dir), 30)
  }

  // ------------------------------------------------------------ q51

  /** Table-materialization roundtrip (S7: `CREATE TABLE AS` parity):
    * a revenue mart persisted through `saveAsTable` and read back from
    * the catalog must carry every value unchanged — the oracle runs
    * the mart directly, so any loss in the parquet store/reload
    * mismatches. */
  val q51 = Query(
    "q51_table_roundtrip",
    """SELECT o_orderstatus,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
    val mart = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(sumMoney(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
    graft.sources.Materialize.table(mart, "graft_mart_roundtrip",
      Some(s"/tmp/graft_mart_roundtrip_${math.abs(dir.hashCode)}"))
  }

  // ------------------------------------------------------------ q52

  /** Soft-delete staging filter (P7: the reference's `is_deleted` flag,
    * `generate_and_load_script.py:88`): flag derived deterministically
    * from the key (the fixture has no such column), active rows
    * aggregated after `Staging.dropSoftDeleted`. */
  val q52 = Query(
    "q52_soft_delete",
    """WITH c AS (
      |  SELECT c_mktsegment, (c_custkey % 10 = 0) AS is_deleted
      |  FROM customer)
      |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_active
      |FROM c WHERE NOT COALESCE(is_deleted, false)
      |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir).withColumn("is_deleted",
      pmod(col("c_custkey"), lit(10)) === 0)
    Staging.dropSoftDeleted(c)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_active"))
  }

  // ------------------------------------------------------------ q59

  /** PNG container roundtrip: each doc's payload is wrapped in REAL
    * container bytes (PNG signature + IHDR with width/height), then
    * the dimensions are parsed back OUT OF THE BYTES (big-endian IHDR
    * fields) — the byte-level metadata-extraction path an ingest
    * pipeline runs before any codec. The oracle builds and parses the
    * identical bytes in SQL. */
  val q59 = Query(
    "q59_png_container",
    s"""WITH m AS (
       |  SELECT encode(text) AS payload,
       |    (${dH("text")} % 1024 + 1) AS width,
       |    ((${dH("text")} >> 10) % 1024 + 1) AS height
       |  FROM documents),
       |p AS (
       |  SELECT width, height,
       |    unhex('89504E470D0A1A0A' || '0000000D' || '49484452'
       |      || lpad(hex(width), 8, '0') || lpad(hex(height), 8, '0')
       |      || '0806000000') || payload AS png
       |  FROM m),
       |x AS (
       |  SELECT width, height, octet_length(png) AS nb,
       |    substring(hex(png), 1, 16) = '89504E470D0A1A0A' AS sig_ok,
       |    ('0x' || substring(hex(png), 33, 8))::BIGINT AS pw,
       |    ('0x' || substring(hex(png), 41, 8))::BIGINT AS ph
       |  FROM p)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
       |  CAST(SUM(CASE WHEN sig_ok THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_valid_sig,
       |  CAST(SUM(CASE WHEN pw = width AND ph = height THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_roundtrip_ok,
       |  CAST(SUM(pw) AS BIGINT) AS total_width,
       |  CAST(SUM(nb) AS BIGINT) AS total_bytes
       |FROM x""".stripMargin) { (s, dir) =>
    val staged = Multimodal.wrapPng(
      Multimodal.decodeStub(
        Multimodal.attachBinary(Tables.documents(s, dir), "text"), "text"))
    Multimodal.parsePngMeta(staged).agg(
      count(lit(1)).as("n_images"),
      sum(when(col("sig_ok"), 1).otherwise(0)).cast("long")
        .as("n_valid_sig"),
      sum(when(col("parsed_width") === col("width") &&
        col("parsed_height") === col("height"), 1).otherwise(0))
        .cast("long").as("n_roundtrip_ok"),
      sum(col("parsed_width")).cast("long").as("total_width"),
      sum(length(col("png"))).cast("long").as("total_bytes"))
  }

  // ------------------------------------------------------------ q76

  /** The codec boundary, end to end: real PNG container bytes (q59's
    * construction) flow through `Multimodal.decodeWith` — one decoder
    * instance per partition over the binary column — using the
    * byte-parsing `PngIhdrDecoder` fake, so the pluggable interface is
    * exercised with a codec that genuinely reads the bytes (signature
    * check, big-endian IHDR fields, color-type→channels). The oracle
    * recomputes the expected metadata from the container construction;
    * any drift in the mapPartitions plumbing (schema, row order,
    * partition handling) or the parser would mismatch. */
  val q76 = Query(
    "q76_codec_boundary",
    s"""WITH m AS (
       |  SELECT encode(text) AS payload,
       |    (${dH("text")} % 1024 + 1) AS width,
       |    ((${dH("text")} >> 10) % 1024 + 1) AS height
       |  FROM documents)
       |SELECT 'png' AS media_format,
       |  CAST(COUNT(*) AS BIGINT) AS n_images,
       |  CAST(SUM(width) AS BIGINT) AS total_width,
       |  CAST(SUM(height) AS BIGINT) AS total_height,
       |  CAST(COUNT(*) AS BIGINT) AS n_rgba
       |FROM m""".stripMargin) { (s, dir) =>
    val containers = Multimodal.wrapPng(
      Multimodal.decodeStub(
        Multimodal.attachBinary(Tables.documents(s, dir), "text"), "text"))
      .select(col("doc_id"), col("png")) // narrow projection into the codec
    Multimodal.decodeWith(containers, "png",
        () => new Multimodal.PngIhdrDecoder)
      .groupBy(col("media_format"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("width")).cast("long").as("total_width"),
        sum(col("height")).cast("long").as("total_height"),
        sum(when(col("channels") === 4, 1).otherwise(0)).cast("long")
          .as("n_rgba"))
  }

  // ------------------------------------------------------------ q178

  /** Every [[BfEvery]]-th doc lands as a file in the q178 landing zone. */
  private val BfEvery = 23

  /** Binary-file landing zone, both directions: PNG containers (q59's
    * real bytes) are written one FILE per image by
    * [[Multimodal.writeBinaryFiles]] — executor-side Hadoop FS IO, the
    * layout of an image/audio drop directory — then ingested back
    * through Spark's `binaryFile` source (path + length + content) and
    * validated byte-level: signature check, IHDR width parse, file
    * size, and the id recovered from the FILENAME. The oracle
    * recomputes every figure from the container construction, so a
    * drift anywhere in write → list → read → parse mismatches.
    * Container-format ingestion is the front door of the multimodal
    * pipeline (SURVEY §2's media columns) — this is the source side;
    * q41/q76 are the decode side. */
  val q178 = Query(
    "q178_binaryfile_scan",
    s"""WITH m AS (
       |  SELECT doc_id, encode(text) AS payload,
       |    (${dH("text")} % 1024 + 1) AS width
       |  FROM documents WHERE doc_id % $BfEvery = 0)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(COUNT(*) AS BIGINT) AS n_valid_sig,
       |  CAST(SUM(29 + octet_length(payload)) AS BIGINT) AS total_bytes,
       |  CAST(SUM(width) AS BIGINT) AS total_width,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
       |FROM m""".stripMargin) { (s, dir) =>
    val path = s"/tmp/graft_binfiles_${math.abs(dir.hashCode)}"
    Ingest.deletePath(s, path)
    val staged = Multimodal.wrapPng(
      Multimodal.decodeStub(
        Multimodal.attachBinary(
          Tables.documents(s, dir)
            .filter(col("doc_id") % BfEvery === 0), "text"), "text"))
      .select(col("doc_id"), col("png"))
    Multimodal.writeBinaryFiles(staged, "doc_id", "png", path)
    val files = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(path)
    Multimodal.parsePngMeta(files, "content")
      .select(col("sig_ok"), col("parsed_width"), col("length"),
        regexp_extract(col("path"), "doc_(\\d+)\\.png$", 1)
          .cast("long").as("file_id"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("sig_ok"), 1L).otherwise(0L)).as("n_valid_sig"),
        sum(col("length")).as("total_bytes"),
        sum(col("parsed_width")).as("total_width"),
        sum(col("file_id")).as("id_checksum"))
  }

  // ------------------------------------------------------------ q77

  /** Streaming upsert, end to end (ST3∘S7 composed — the q50/q51
    * pattern applied to the table lifecycle): two version files (v1 =
    * every event, v2 = restated values for keys ≡ 0 mod 13) flow as
    * separate micro-batches through `Streaming.streamIntoIncremental`,
    * whose `foreachBatch` merges each batch into the partition-bounded
    * incremental table. The oracle describes the POST-STREAM TABLE
    * STATE (latest version per key), so the check covers the stream →
    * merge → at-rest-dedup → read-back path, not just the plan. The
    * partition key (event_id mod 8) is version-stable by construction,
    * honoring the incremental contract, and the keep-latest merge makes
    * final state independent of micro-batch arrival order. */
  val q77 = Query(
    "q77_stream_upsert",
    """WITH v1 AS (
      |  SELECT event_id, 1 AS ver, CAST(value AS DECIMAL(18,2)) AS value,
      |    event_id % 8 AS bucket
      |  FROM events),
      |v2 AS (
      |  SELECT event_id, 2 AS ver,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)) AS value,
      |    event_id % 8 AS bucket
      |  FROM events WHERE event_id % 13 = 0),
      |final AS (
      |  SELECT * FROM v1 WHERE event_id NOT IN (SELECT event_id FROM v2)
      |  UNION ALL SELECT * FROM v2)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(ver) AS BIGINT) AS total_ver,
      |  CAST(SUM(value) AS DOUBLE) AS total_value
      |FROM final GROUP BY bucket""".stripMargin) { (s, dir) =>
    val name = s"graft_stream_inc_${math.abs(dir.hashCode)}"
    s.sql(s"DROP TABLE IF EXISTS $name")
    Ingest.deletePath(s,
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/$name")
    val ev = Tables.events(s, dir)
    def versioned(src: org.apache.spark.sql.DataFrame, ver: Long,
        value: org.apache.spark.sql.Column) =
      src.select(col("event_id"), lit(ver).as("ver"),
        money(value).as("value"),
        pmod(col("event_id"), lit(8)).cast("long").as("bucket"))
    val srcDir = s"/tmp/graft_stream_upsert_${math.abs(dir.hashCode)}"
    Ingest.deletePath(s, srcDir)
    versioned(ev, 1L, col("value"))
      .coalesce(1).write.parquet(srcDir)
    versioned(ev.filter(col("event_id") % 13 === 0), 2L, col("value") * 2)
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1) // one version file per micro-batch
      .parquet(srcDir)
    val ckpt = s"/tmp/graft_stream_upsert_ckpt_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.streaming.Streaming.streamIntoIncremental(
      stream, name, Seq("event_id"), "ver", "bucket", ckpt)
    q.awaitTermination()
    s.table(name).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("ver")).cast("long").as("total_ver"),
        sum(col("value")).cast("double").as("total_value"))
  }

  // ------------------------------------------------------------ q61

  /** Approximate percentiles — the 100 TB path for q47: exact
    * `percentile` materializes every group's values (memory-bound at
    * scale); `approx_percentile` (KLL/GK-style sketch) is bounded-state
    * and mergeable. Sketches are engine-specific, so the checked
    * contract is the q39 pattern, stated in RANK space (the sketch's
    * actual guarantee — a value-ratio tolerance breaks on sparse small
    * groups where adjacent data values sit >1% apart): the approximate
    * p-th percentile must lie between the exact (p-1)th and (p+1)th
    * percentiles, verified IN-ENGINE and surfaced as booleans the
    * oracle expects to be TRUE. accuracy=1000 bounds rank error at
    * ~0.1% of the group plus compression slack, well inside the
    * 1-percentile-point window at every scale. */
  val q61 = Query(
    "q61_approx_percentiles",
    """SELECT o_orderstatus,
      |  TRUE AS p50_within_tol, TRUE AS p95_within_tol,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
    def withinTol(p: Double, name: String) = {
      val approx = expr(s"approx_percentile(o_totalprice, $p, 1000)")
      val lo = expr(s"percentile(o_totalprice, ${p - 0.01})")
      val hi = expr(s"percentile(o_totalprice, ${math.min(p + 0.01, 1.0)})")
      (approx >= lo && approx <= hi).as(name)
    }
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(withinTol(0.5, "p50_within_tol"),
        withinTol(0.95, "p95_within_tol"),
        count(lit(1)).as("n_orders"))
  }

  // ------------------------------------------------------------ q62

  /** Cohort retention — the classic operations mart (reference
    * `README.md:38` "operations marts"): users grouped by first-seen
    * week, activity counted per weeks-since-signup. Two shuffles
    * total: per-user min (map-side combinable) + the cohort rollup;
    * the cohort join is a broadcast of the per-user firsts at dim
    * scale or a plain shuffled join at fact scale — never a window. */
  val q62 = Query(
    "q62_retention_cohorts",
    """WITH first_seen AS (
      |  SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort
      |  FROM events GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events)
      |SELECT CAST(f.cohort AS TIMESTAMP) AS cohort_week,
      |  CAST(FLOOR((epoch(wk) - epoch(f.cohort)) / 604800) AS BIGINT)
      |    AS weeks_since,
      |  CAST(COUNT(*) AS BIGINT) AS active_users
      |FROM activity a JOIN first_seen f ON a.user_id = f.user_id
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort"))
    ev.distinct()
      .join(firstSeen, "user_id")
      .groupBy(col("cohort").cast("timestamp_ntz").as("cohort_week"),
        floor((col("wk").cast("timestamp").cast("double") -
          col("cohort").cast("timestamp").cast("double")) / 604800)
          .cast("long").as("weeks_since"))
      .agg(count(lit(1)).as("active_users"))
  }

  // ------------------------------------------------------------ q69

  /** The `dbt build` lifecycle (SURVEY §3 E2) as one run: raw tables
    * registered as views, a staging layer as a VIEW (lazy — Catalyst
    * fuses through it), marts materialized as TABLES via the catalog,
    * then a per-layer row-count audit read back FROM THE CATALOG — so
    * the counts prove each materialization actually holds the layer's
    * rows, not just that the plans analyze. */
  val q69 = Query(
    "q69_warehouse_build",
    """SELECT 'raw' AS layer, 'orders' AS relation,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders
      |UNION ALL SELECT 'staging', 'stg_orders', CAST(COUNT(*) AS BIGINT)
      |FROM orders WHERE CAST(o_totalprice AS DOUBLE) >= 0
      |UNION ALL SELECT 'mart', 'mart_monthly_revenue',
      |  CAST(COUNT(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT)
      |FROM orders
      |UNION ALL SELECT 'mart', 'mart_segment_revenue',
      |  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT)
      |FROM customer""".stripMargin) { (s, dir) =>
    import graft.sources.Materialize
    Tables.registerAll(s, dir)
    Materialize.view(
      s.table("orders").filter(col("o_totalprice") >= 0), "stg_orders")
    Materialize.table(
      s.table("stg_orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sumMoney(col("o_totalprice")).as("revenue")),
      "mart_monthly_revenue",
      Some(s"/tmp/graft_mart_monthly_${math.abs(dir.hashCode)}"))
    Materialize.table(
      s.table("stg_orders").join(s.table("customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sumMoney(col("o_totalprice")).as("revenue")),
      "mart_segment_revenue",
      Some(s"/tmp/graft_mart_segment_${math.abs(dir.hashCode)}"))
    def leg(layer: String, rel: String, n: org.apache.spark.sql.Column) =
      s.table(rel).agg(n.as("n_rows"))
        .select(lit(layer).as("layer"), lit(rel).as("relation"),
          col("n_rows"))
    leg("raw", "orders", count(lit(1)))
      .unionByName(leg("staging", "stg_orders", count(lit(1))))
      .unionByName(leg("mart", "mart_monthly_revenue", count(lit(1))))
      .unionByName(leg("mart", "mart_segment_revenue", count(lit(1))))
  }

  // ------------------------------------------------------------ q74

  /** Compaction of cross-partition movers — the reconciliation pass for
    * the reference's daily partitioned runs (`README.md:82`) when a key
    * is RESTATED into a different partition: v1 of every order lands in
    * its order month; a restated v2 (keys ≡ 0 mod 97, price doubled)
    * lands one month later, leaving the v1 row stranded in a partition
    * the incremental merge never touched. `Materialize.compact` then
    * restores the global keep-latest invariant rewriting only affected
    * partitions, and the read-back aggregate must equal the oracle's
    * logical "latest version of every key" — which it can only do if
    * every stranded v1 was purged. */
  val q74 = Query(
    "q74_compaction_movers",
    """WITH base AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
      |    date_trunc('month', o_orderdate) AS month
      |  FROM orders),
      |restated AS (
      |  SELECT k, CAST(price * 2 AS DECIMAL(18,2)) AS price,
      |    CAST(month + INTERVAL 1 MONTH AS DATE) AS month
      |  FROM base WHERE k % 97 = 0),
      |final AS (
      |  SELECT * FROM base WHERE k NOT IN (SELECT k FROM restated)
      |  UNION ALL SELECT * FROM restated)
      |SELECT CAST(month AS TIMESTAMP) AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(price) AS DOUBLE) AS total_price
      |FROM final GROUP BY 1""".stripMargin) { (s, dir) =>
    import graft.sources.Materialize
    val name = s"graft_compact_${math.abs(dir.hashCode)}"
    s.sql(s"DROP TABLE IF EXISTS $name")
    Ingest.deletePath(s,
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/$name")
    val base = Tables.orders(s, dir).select(
      col("o_orderkey").as("k"),
      money(col("o_totalprice")).as("price"),
      trunc(col("o_orderdate"), "MM").as("month"))
    val v1 = base.select(col("k"), lit(1L).as("ver"), col("price"),
      col("month"))
    val v2 = base.filter(col("k") % 97 === 0)
      .select(col("k"), lit(2L).as("ver"),
        money(col("price") * 2).as("price"),
        add_months(col("month"), 1).as("month"))
    Materialize.tableIncremental(s, name, v1, Seq("k"), "ver", "month")
    Materialize.tableIncremental(s, name, v2, Seq("k"), "ver", "month")
    Materialize.compact(s, name, Seq("k"), "ver", "month")
    s.table(name)
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("total_price"))
      .withColumn("month", col("month").cast("timestamp_ntz"))
  }

  // ------------------------------------------------------------ q101

  /** Bucketed co-located fact⋈fact join ([[Materialize.bucketedTable]],
    * reference "clustering" intent `README.md:12,90`): both fact tables
    * are materialized bucketed + sorted on the join key, so the join
    * needs NO exchange on either side — at 100 TB this turns the
    * single most expensive mart-layer operation (fact-to-fact shuffle)
    * into a zero-movement merge; the shuffle-free plan shape is locked
    * by ScaleSpec's bucketed-join contract test. The oracle sees the
    * same rows via a plain join, proving the bucketed physical layout
    * changes nothing semantically. */
  val q101 = Query(
    "q101_bucketed_join",
    """SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP)
      |    AS month,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS gross,
      |  CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    val h = math.abs(dir.hashCode)
    val bo = Materialize.bucketedTable(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
      "graft_bk_orders", Seq("o_orderkey"), 8,
      Some(s"/tmp/graft_bk_orders_$h"))
    val bl = Materialize.bucketedTable(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice")),
      "graft_bk_lineitem", Seq("l_orderkey"), 8,
      Some(s"/tmp/graft_bk_lineitem_$h"))
    bo.join(bl, col("o_orderkey") === col("l_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sumMoney(col("l_extendedprice")).as("gross"),
        count(lit(1)).as("n_items"))
  }

  // ------------------------------------------------------------ q105

  /** The Morton interleave as DuckDB bit arithmetic (mirror of
    * [[graft.operators.Zorder.zValue2]]). */
  private def dZ(x: String, y: String): String =
    (0 until 16).map { b =>
      s"((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1})"
    }.mkString(" +\n    ")

  /** Z-order locality audit ([[graft.operators.Zorder]]): events are
    * quantized on (user_id, value cents), Morton-interleaved, and
    * summarized per z-bucket (the top 12 bits — what a file would hold
    * under z-clustered layout). Each bucket's min/max on BOTH columns
    * is a tight rectangle — the footer stats a scan prunes on — and
    * the `bit_xor` of raw z-values pins the interleave bit-for-bit
    * against the oracle. ScaleSpec proves the payoff: a value-range
    * predicate touches strictly fewer files under z-layout than under
    * a single-column sort. */
  val q105 = Query(
    "q105_zorder_stats",
    s"""WITH q AS (
       |  SELECT greatest(0, least(user_id, 65535)) AS x,
       |    greatest(0, least(CAST(floor(value * 100) AS BIGINT), 65535))
       |      AS y
       |  FROM events),
       |z AS (
       |  SELECT x, y,
       |    ${dZ("x", "y")} AS z
       |  FROM q)
       |SELECT CAST(z >> 20 AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
       |  CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max,
       |  CAST(bit_xor(z) AS BIGINT) AS z_checksum
       |FROM z GROUP BY 1""".stripMargin) { (s, dir) =>
    import graft.operators.Zorder
    val q = Tables.events(s, dir).select(
      Zorder.clampBits(col("user_id")).as("x"),
      Zorder.clampBits(floor(col("value") * 100)).as("y"))
    q.select(col("x"), col("y"),
        Zorder.zValue2(col("x"), col("y")).as("z"))
      .groupBy(shiftrightunsigned(col("z"), 20).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"),
        expr("bit_xor(z)").as("z_checksum"))
  }

  // ------------------------------------------------------------ q145

  /** Stream-STATIC enrichment join (ST: the reference-data lookup
    * inside a stream — `Streaming.enrichedRollupAvailableNow`): each
    * micro-batch joins the broadcast category dimension before the
    * keyed rollup; run to completion and checked against the batch
    * oracle, the stream/batch-parity pattern of q40/q50. */
  val q145 = Query(
    "q145_stream_static_enrich",
    """WITH dim(event_type, category) AS (VALUES
      |  ('view', 'browse'), ('click', 'browse'),
      |  ('purchase', 'convert'), ('signup', 'convert'),
      |  ('error', 'ops'))
      |SELECT category, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events JOIN dim USING (event_type)
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val dim = Seq(
      "view" -> "browse", "click" -> "browse",
      "purchase" -> "convert", "signup" -> "convert",
      "error" -> "ops").toDF("event_type", "category")
    Streaming.enrichedRollupAvailableNow(s, s"$dir/events.parquet",
      dim, "event_type", "category")
  }

  // ------------------------------------------------------------ q147

  /** Schema evolution across raw-zone batches (the daily-load reality:
    * a source adds a column mid-stream): an early batch without
    * `o_orderpriority` and a later batch with it land in the SAME
    * parquet directory; the `mergeSchema` read reconciles the footers
    * into one schema with nulls for the missing column — no rewrite of
    * the old files (at 100 TB, rewriting history for a schema change
    * is not an option). The oracle replays the split from the source
    * table, nulling the column for early-batch rows. */
  val q147 = Query(
    "q147_schema_evolution",
    s"""WITH h AS (
       |  SELECT o_orderkey, o_totalprice,
       |    CASE WHEN ${Llm.dHash64(
              "'evo:' || CAST(o_orderkey AS VARCHAR)")} % 2 = 1
       |      THEN o_orderpriority END AS o_orderpriority
       |  FROM orders)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(o_orderpriority) AS BIGINT) AS n_with_priority,
       |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total
       |FROM h""".stripMargin) { (s, dir) =>
    val h = Tables.orders(s, dir).withColumn("__h",
      md5Long(concat(lit("evo:"), col("o_orderkey").cast("string"))) % 2)
    val out = s"/tmp/graft_schema_evo_${dir.replaceAll("[^0-9a-zA-Z]", "_")}"
    h.filter(col("__h") === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(out)
    h.filter(col("__h") === 1)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .write.mode("append").parquet(out)
    s.read.option("mergeSchema", "true").parquet(out)
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_orderpriority")).as("n_with_priority"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        sumMoney(col("o_totalprice")).as("total"))
  }

  // ------------------------------------------------------------ q149

  private val RetentionCutoff = "2024-01-20"

  /** Partition retention (`Materialize.expirePartitions`): the daily
    * events table drops every partition before the cutoff as a
    * METADATA-ONLY operation — retained data is never read or
    * rewritten (at 100 TB, retention must cost O(partitions dropped),
    * not a scan). The oracle recomputes the retained window from the
    * raw source; the table read-back must equal it exactly. Completes
    * the table lifecycle: create (q51) → incremental (q36) → compact
    * (q74) → expire. */
  val q149 = Query(
    "q149_partition_retention",
    s"""SELECT strftime(ts, '%Y-%m-%d') AS day,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       |FROM events
       |WHERE strftime(ts, '%Y-%m-%d') >= '$RetentionCutoff'
       |GROUP BY 1""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Materialize.dropOrphanLocation(s, "events_retention")
    ev.repartition(col("day"))
      .write.mode("overwrite").format("parquet")
      .partitionBy("day").saveAsTable("events_retention")
    Materialize
      .expirePartitions(s, "events_retention", "day", RetentionCutoff)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        sumMoney(col("value")).as("total_value"))
  }

  // ------------------------------------------------------------ q160

  /** Write-audit-publish lifecycle (a one-member
    * [[Materialize.publishSetAudited]] set): a clean mart build passes
    * its audit and publishes; a subsequent POISONED rebuild (status
    * nulled for urgent orders — a simulated broken upstream) fails
    * `not_null` and is rejected, leaving the published table exactly
    * at version 1. Readers can never observe the bad build: publish is
    * a catalog swap after the audit, and a reject drops only the
    * invisible staging table. Output: the audit
    * trail of both attempts joined with the FINAL table state (which
    * must equal the v1 build in both rows and total). */
  val q160 = Query(
    "q160_wap_publish",
    """WITH m AS (
      |  SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1),
      |f AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS final_status_rows,
      |    CAST(SUM(n) AS BIGINT) AS final_orders
      |  FROM m)
      |SELECT CAST(attempt AS BIGINT) AS attempt, check_name, status,
      |  published, final_status_rows, final_orders
      |FROM (VALUES
      |  (1, 'not_null_o_orderstatus', 'pass', TRUE),
      |  (2, 'not_null_o_orderstatus', 'error', FALSE))
      |  AS a(attempt, check_name, status, published)
      |CROSS JOIN f""".stripMargin) { (s, dir) =>
    import graft.quality.{NotNull, Quality}
    val checks = Seq(NotNull("o_orderstatus"))
    val mart = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    def publish(df: org.apache.spark.sql.DataFrame) = {
      val (ok, r) = Materialize.publishSetAudited("wap_mart",
        Seq(Materialize.Member(df, "wap_mart", checks)))
      (ok, r.head._2)
    }
    val (ok1, r1) = publish(mart)
    // poisoned rebuild: urgent orders lose their status upstream
    val poisoned = Tables.orders(s, dir)
      .withColumn("o_orderstatus",
        when(col("o_orderpriority") === "1-URGENT", lit(null))
          .otherwise(col("o_orderstatus")))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val (ok2, r2) = publish(poisoned)
    val finalState = s.table("wap_mart")
      .agg(count(lit(1)).as("final_status_rows"),
        sum(col("n")).as("final_orders"))
    val trail = Seq((1L, r1.head, ok1), (2L, r2.head, ok2))
    import s.implicits._
    trail.map { case (a, r: Quality.Result, ok) =>
      (a, r.check, r.status, ok)
    }.toDF("attempt", "check_name", "status", "published")
      .crossJoin(broadcast(finalState))
  }

  // ------------------------------------------------------------ q165

  /** GDPR right-to-erasure ([[Materialize.eraseKeys]]): a request
    * list of user ids is deleted from a day-partitioned events table
    * by rewriting ONLY the partitions that contain those users (one
    * pruned semi-join scan finds them; dynamic partition overwrite
    * rewrites them; a fully-erased partition is dropped). Output is
    * the post-erasure per-day audit — identical to filtering the
    * erased users out of the source, which is exactly what the oracle
    * does. Erased set: every 97th user (deterministic). */
  val q165 = Query(
    "q165_gdpr_erasure",
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events WHERE user_id % 97 <> 0
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")).cast("string"))
    s.sql("DROP TABLE IF EXISTS events_gdpr")
    Ingest.deletePath(s, s.conf.get("spark.sql.warehouse.dir")
      + "/events_gdpr")
    ev.repartition(col("day"))
      .write.mode("overwrite").format("parquet")
      .partitionBy("day").saveAsTable("events_gdpr")
    val erased = ev.select(col("user_id"))
      .filter(col("user_id") % 97 === 0).distinct()
    Materialize.eraseKeys(s, "events_gdpr", "user_id", erased, "day")
    s.table("events_gdpr")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
  }

  // ------------------------------------------------------------ q168

  /** Small-file compaction ([[Materialize.compactFiles]]): a
    * fragmented write (16-way shuffle before a day-partitioned save →
    * up to 16 files per partition) is compacted down to one file per
    * partition; the audit proves BOTH invariants in-engine — file
    * count per partition is 1 afterwards (`input_file_name()`
    * aggregate), and content is byte-for-byte the source (the oracle
    * recomputes the same rollup from the raw events). */
  val q168 = Query(
    "q168_file_compaction",
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  TRUE AS compacted
      |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")).cast("string"))
    s.sql("DROP TABLE IF EXISTS events_compact")
    Ingest.deletePath(s, s.conf.get("spark.sql.warehouse.dir")
      + "/events_compact")
    // fragmented layout: hash shuffle spreads every day over 16 tasks
    ev.repartition(16)
      .write.mode("overwrite").format("parquet")
      .partitionBy("day").saveAsTable("events_compact")
    Materialize.compactFiles(s, "events_compact", "day", maxFiles = 1)
    s.table("events_compact")
      .withColumn("__f", input_file_name())
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        sumMoney(col("value")).as("total_value"),
        (countDistinct(col("__f")) === 1).as("compacted"))
  }

  // ------------------------------------------------------------ q172

  /** Late-arriving dimension repair: the enrichment mart is built
    * while a THIRD of the customer dimension hasn't landed (those
    * orders get segment 'UNKNOWN' — the standard late-dim
    * placeholder), then the full dimension arrives and a repair pass
    * rewrites ONLY the partitions that still hold now-resolvable
    * placeholder rows (pruned semi-join detection → dynamic partition
    * overwrite, the [[Materialize.eraseKeys]] shape applied to
    * updates). Post-condition, which IS the oracle: mart ≡ the
    * enrichment under the complete dimension; `n_late_resolved`
    * counts the repaired rows per segment. */
  val q172 = Query(
    "q172_late_dim_repair",
    """SELECT c_mktsegment AS segment,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue,
      |  CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_late_resolved
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    val name = "orders_enriched"
    s.sql(s"DROP TABLE IF EXISTS $name")
    Ingest.deletePath(s, s.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:") + s"/$name")
    val fact = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        money(col("o_totalprice")).as("price"),
        date_trunc("month", col("o_orderdate")).cast("date")
          .cast("string").as("month"))
    def enrich(f: org.apache.spark.sql.DataFrame,
        dim: org.apache.spark.sql.DataFrame) =
      f.join(broadcast(dim.select(col("c_custkey"), col("c_mktsegment"))),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("price"),
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
          col("month"))
    val dim = Tables.customer(s, dir)
    // wave 1: a third of the dimension is late
    enrich(fact, dim.filter(col("c_custkey") % 3 =!= 0))
      .repartition(col("month"))
      .write.mode("overwrite").format("parquet")
      .partitionBy("month").saveAsTable(name)
    // the late wave lands — repair only partitions holding resolvable
    // placeholder rows
    val t = s.table(name)
    val lateDim = broadcast(dim.select(col("c_custkey"),
      col("c_mktsegment")))
    val parts = t.filter(col("segment") === "UNKNOWN")
      .join(lateDim, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("month")).distinct().collect().map(_.get(0)).toSeq
    if (parts.nonEmpty) {
      val fixed = t.filter(col("month").isin(parts: _*))
        .drop("segment")
        .join(lateDim, col("c_custkey") === col("o_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("price"),
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
          col("month"))
      val PoKey = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.getOption(PoKey)
      s.conf.set(PoKey, "dynamic")
      try fixed.repartition(col("month"))
        .write.mode("overwrite").insertInto(name)
      finally prev match {
        case Some(v) => s.conf.set(PoKey, v)
        case None => s.conf.unset(PoKey)
      }
    }
    s.table(name)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("revenue"),
        sum(when(col("o_custkey") % 3 === 0, 1L).otherwise(0L))
          .as("n_late_resolved"))
  }

  // ------------------------------------------------------------ q233

  /** Cohort lifetime-value curve: customers grouped by first-order
    * month, cumulative revenue per customer tracked by months since
    * acquisition — the LTV mart a SaaS finance team reads next to
    * q62's retention triangle (retention counts heads; this counts
    * dollars). Ages are exact integer month arithmetic
    * ((Δyear)·12 + Δmonth — no epoch division), revenue cumulates as
    * exact cents under a per-cohort window over the calendar-bounded
    * (cohort, age) grid, and the per-customer division is the one
    * string-parse-pinned double op. */
  val q233 = Query(
    "q233_cohort_ltv",
    """WITH b AS (
      |  SELECT o_custkey,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders),
      |fc AS (SELECT o_custkey, MIN(m) AS cohort FROM b GROUP BY 1),
      |cs AS (SELECT cohort, COUNT(*) AS n_customers FROM fc GROUP BY 1),
      |rev AS (
      |  SELECT fc.cohort,
      |    (year(b.m) - year(fc.cohort)) * 12
      |      + (month(b.m) - month(fc.cohort)) AS age_months,
      |    SUM(b.cents) AS rev
      |  FROM b JOIN fc ON fc.o_custkey = b.o_custkey
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort, age_months,
      |    CAST(SUM(rev) OVER (
      |      PARTITION BY cohort ORDER BY age_months) AS HUGEINT) AS crev
      |  FROM rev)
      |SELECT CAST(cohort AS TIMESTAMP) AS cohort_month,
      |  CAST(age_months AS BIGINT) AS age_months,
      |  CAST(n_customers AS BIGINT) AS n_customers,
      |  ROUND(CAST(CAST(crev AS VARCHAR) AS DOUBLE)
      |    / (CAST(CAST(n_customers AS VARCHAR) AS DOUBLE) * 100.0), 6)
      |    AS cum_ltv
      |FROM cum JOIN cs USING (cohort)""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d38 = DecimalType(38, 0)
    def dd(c: org.apache.spark.sql.Column) =
      c.cast("string").cast("double")
    val b = Tables.orders(s, dir).select(col("o_custkey"),
      date_trunc("month", col("o_orderdate")).cast("date").as("m"),
      (money(col("o_totalprice")) * 100).cast("long").as("cents"))
    val fc = b.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort"))
    val cs = fc.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_customers"))
    val rev = b.join(fc, Seq("o_custkey"))
      .groupBy(col("cohort"),
        ((year(col("m")) - year(col("cohort"))) * 12 +
          (month(col("m")) - month(col("cohort")))).cast("long")
          .as("age_months"))
      .agg(sum(col("cents").cast(d38)).as("rev"))
    val cum = rev.withColumn("crev", sum(col("rev")).over(
      Window.partitionBy(col("cohort")).orderBy(col("age_months"))))
    cum.join(broadcast(cs), Seq("cohort"))
      .select(col("cohort").cast("timestamp_ntz").as("cohort_month"),
        col("age_months"),
        col("n_customers").cast("long").as("n_customers"),
        round(dd(col("crev")) /
          (dd(col("n_customers")) * lit(100.0d)), 6).as("cum_ltv"))
  }

  // ------------------------------------------------------------ q234

  /** Monthly-revenue movement waterfall (the MRR bridge): per month,
    * how much revenue came from NEW customers, EXPANSION (spend up
    * vs last month), CONTRACTION (spend down), and CHURN (spent last
    * month, nothing now) — the reference's revenue marts
    * (`README.md:38`) decomposed into the growth-accounting view a
    * SaaS board reads, plus the quick ratio (new+expansion over
    * churn+contraction). Months join on an exact integer month index
    * (y·12+m — no interval arithmetic to disagree on), the
    * classification is one full-outer self-join of the per-customer
    * month rollup against itself shifted one month, and every
    * movement is an exact cents sum. The phantom month after the
    * data's end (where everyone "churns") is excluded in both
    * engines. */
  val q234 = Query(
    "q234_mrr_movement",
    """WITH b AS (
      |  SELECT o_custkey,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders),
      |mm AS (
      |  SELECT o_custkey, year(m) * 12 + month(m) AS mi,
      |    SUM(cents) AS rev
      |  FROM b GROUP BY 1, 2),
      |j AS (
      |  SELECT COALESCE(c.mi, p.mi + 1) AS mi,
      |    COALESCE(c.rev, 0) AS cur, COALESCE(p.rev, 0) AS prev
      |  FROM mm c FULL OUTER JOIN mm p
      |    ON c.o_custkey = p.o_custkey AND c.mi = p.mi + 1),
      |agg AS (
      |  SELECT mi,
      |    SUM(CASE WHEN cur > 0 THEN 1 ELSE 0 END) AS n_active,
      |    CAST(SUM(CASE WHEN prev = 0 THEN cur ELSE 0 END) AS HUGEINT)
      |      AS newc,
      |    CAST(SUM(CASE WHEN prev > 0 AND cur > prev THEN cur - prev
      |      ELSE 0 END) AS HUGEINT) AS expc,
      |    CAST(SUM(CASE WHEN cur > 0 AND prev > cur THEN prev - cur
      |      ELSE 0 END) AS HUGEINT) AS conc,
      |    CAST(SUM(CASE WHEN cur = 0 THEN prev ELSE 0 END) AS HUGEINT)
      |      AS chuc
      |  FROM j
      |  WHERE mi <= (SELECT MAX(mi) FROM mm)
      |  GROUP BY 1)
      |SELECT CAST(make_date(CAST(floor((mi - 1) / 12.0) AS INTEGER),
      |    CAST((mi - 1) % 12 + 1 AS INTEGER), 1) AS TIMESTAMP) AS month,
      |  CAST(n_active AS BIGINT) AS n_active,
      |  ROUND(CAST(CAST(newc AS VARCHAR) AS DOUBLE) / 100.0, 6)
      |    AS new_mrr,
      |  ROUND(CAST(CAST(expc AS VARCHAR) AS DOUBLE) / 100.0, 6)
      |    AS expansion_mrr,
      |  ROUND(CAST(CAST(conc AS VARCHAR) AS DOUBLE) / 100.0, 6)
      |    AS contraction_mrr,
      |  ROUND(CAST(CAST(chuc AS VARCHAR) AS DOUBLE) / 100.0, 6)
      |    AS churned_mrr,
      |  ROUND(CAST(CAST((newc + expc) - (conc + chuc) AS VARCHAR)
      |    AS DOUBLE) / 100.0, 6) AS net_change,
      |  CASE WHEN conc + chuc > 0 THEN
      |    ROUND(CAST(CAST(newc + expc AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(conc + chuc AS VARCHAR) AS DOUBLE), 6)
      |  END AS quick_ratio
      |FROM agg""".stripMargin) { (s, dir) =>
    val d38 = DecimalType(38, 0)
    def dd(c: org.apache.spark.sql.Column) =
      c.cast("string").cast("double")
    val b = Tables.orders(s, dir).select(col("o_custkey"),
      date_trunc("month", col("o_orderdate")).cast("date").as("m"),
      (money(col("o_totalprice")) * 100).cast("long").as("cents"))
    val mm = b.groupBy(col("o_custkey"),
        (year(col("m")) * 12 + month(col("m"))).as("mi"))
      .agg(sum(col("cents")).as("rev"))
    val c = mm.select(col("o_custkey"), col("mi"), col("rev"))
    val p = mm.select(col("o_custkey").as("p_cust"),
      col("mi").as("p_mi"), col("rev").as("p_rev"))
    val j = c.join(p,
        col("o_custkey") === col("p_cust") &&
          col("mi") === col("p_mi") + 1, "full_outer")
      .select(coalesce(col("mi"), col("p_mi") + 1).as("mi"),
        coalesce(col("rev"), lit(0L)).as("cur"),
        coalesce(col("p_rev"), lit(0L)).as("prev"))
    val maxMi = mm.agg(max(col("mi")).as("max_mi"))
    val agg = j.crossJoin(broadcast(maxMi))
      .filter(col("mi") <= col("max_mi"))
      .groupBy(col("mi"))
      .agg(
        sum(when(col("cur") > 0, 1L).otherwise(0L)).as("n_active"),
        sum(when(col("prev") === 0, col("cur")).otherwise(0L)
          .cast(d38)).as("newc"),
        sum(when(col("prev") > 0 && col("cur") > col("prev"),
          col("cur") - col("prev")).otherwise(0L).cast(d38)).as("expc"),
        sum(when(col("cur") > 0 && col("prev") > col("cur"),
          col("prev") - col("cur")).otherwise(0L).cast(d38)).as("conc"),
        sum(when(col("cur") === 0, col("prev")).otherwise(0L)
          .cast(d38)).as("chuc"))
    agg.select(
      make_date(floor((col("mi") - 1) / lit(12.0)).cast("int"),
        (pmod(col("mi") - 1, lit(12)) + 1).cast("int"), lit(1))
        .cast("timestamp_ntz").as("month"),
      col("n_active").cast("long").as("n_active"),
      round(dd(col("newc")) / 100.0d, 6).as("new_mrr"),
      round(dd(col("expc")) / 100.0d, 6).as("expansion_mrr"),
      round(dd(col("conc")) / 100.0d, 6).as("contraction_mrr"),
      round(dd(col("chuc")) / 100.0d, 6).as("churned_mrr"),
      round(dd((col("newc") + col("expc")) -
        (col("conc") + col("chuc"))) / 100.0d, 6).as("net_change"),
      when(col("conc") + col("chuc") > 0,
        round(dd(col("newc") + col("expc")) /
          dd(col("conc") + col("chuc")), 6)).as("quick_ratio"))
  }

  // ------------------------------------------------------------ q243

  /** The composed `dbt build` product (SURVEY §3 E2 as a PIPELINE, not
    * per-operator entries): [[graft.sources.WarehouseBuild.run]]
    * chains ingest → staging (observe-instrumented) → SCD2 dim →
    * marts → quality audit → WAP publish in one run and returns one
    * audit report. The oracle recomputes EVERY metric independently
    * from the raw tables — including the counters that Spark-side
    * came out of `Dataset.observe` and the `published`/
    * `audit_violations` gate outcomes — so the whole lifecycle (the
    * observe plumbing, the staged-table feed-forward through the
    * catalog, the WAP swap) is hash-checked end to end. q69 checks
    * the layer row-counts; this checks the full build. */
  val q243 = Query(
    "q243_build_e2e",
    """WITH so AS (
      |  SELECT * FROM orders
      |  WHERE o_totalprice > 0 AND o_custkey IS NOT NULL),
      |sc AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
      |scd AS (
      |  SELECT user_id, ts AS valid_from,
      |    LEAD(ts) OVER w AS valid_to,
      |    (LEAD(ts) OVER w IS NULL) AS is_current,
      |    ROW_NUMBER() OVER w AS version
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |ov AS (
      |  SELECT COUNT(*) AS n FROM (
      |    SELECT valid_to, LEAD(valid_from) OVER (
      |      PARTITION BY user_id ORDER BY valid_from, version) AS nf
      |    FROM scd)
      |  WHERE nf IS NOT NULL
      |    AND (valid_to IS NULL OR valid_to > nf)),
      |cv AS (
      |  SELECT COUNT(*) AS n FROM (
      |    SELECT user_id,
      |      SUM(CASE WHEN is_current THEN 1 ELSE 0 END) AS nc
      |    FROM scd GROUP BY 1)
      |  WHERE nc <> 1),
      |seg AS (
      |  SELECT c.c_mktsegment, o.o_totalprice
      |  FROM so o JOIN sc c ON o.o_custkey = c.c_custkey)
      |SELECT 'staging' AS step, 'stg_orders' AS relation,
      |  'rows_in' AS metric,
      |  (SELECT COUNT(*) FROM orders)::BIGINT AS value
      |UNION ALL SELECT 'staging', 'stg_orders', 'rows_kept',
      |  (SELECT COUNT(*) FROM so)
      |UNION ALL SELECT 'staging', 'stg_orders', 'dropped_invalid',
      |  (SELECT COUNT(*) FROM orders
      |   WHERE o_totalprice <= 0 OR o_custkey IS NULL)
      |UNION ALL SELECT 'staging', 'stg_orders', 'high_value',
      |  (SELECT COUNT(*) FROM orders WHERE o_totalprice > 400000)
      |UNION ALL SELECT 'staging', 'stg_customer', 'rows_in',
      |  (SELECT COUNT(*) FROM customer)
      |UNION ALL SELECT 'staging', 'stg_customer', 'rows_kept',
      |  (SELECT COUNT(*) FROM sc)
      |UNION ALL SELECT 'staging', 'stg_customer', 'soft_deleted',
      |  (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 0)
      |UNION ALL SELECT 'dim', 'dim_user_scd2', 'versions',
      |  (SELECT COUNT(*) FROM scd)
      |UNION ALL SELECT 'dim', 'dim_user_scd2', 'current_rows',
      |  (SELECT COUNT(*) FROM scd WHERE is_current)
      |UNION ALL SELECT 'dim', 'dim_user_scd2', 'overlap_violations',
      |  (SELECT n FROM ov)
      |UNION ALL SELECT 'dim', 'dim_user_scd2', 'current_violations',
      |  (SELECT n FROM cv)
      |UNION ALL SELECT 'mart', 'mart_monthly_revenue', 'rows',
      |  (SELECT COUNT(DISTINCT date_trunc('month', o_orderdate))
      |   FROM so)
      |UNION ALL SELECT 'mart', 'mart_monthly_revenue', 'revenue_cents',
      |  (SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |     AS BIGINT)) AS BIGINT) FROM so)
      |UNION ALL SELECT 'mart', 'mart_monthly_revenue', 'published',
      |  1::BIGINT
      |UNION ALL SELECT 'mart', 'mart_monthly_revenue',
      |  'audit_violations', 0::BIGINT
      |UNION ALL SELECT 'mart', 'mart_segment_revenue', 'rows',
      |  (SELECT COUNT(DISTINCT c_mktsegment) FROM seg)
      |UNION ALL SELECT 'mart', 'mart_segment_revenue', 'revenue_cents',
      |  (SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |     AS BIGINT)) AS BIGINT) FROM seg)
      |UNION ALL SELECT 'mart', 'mart_segment_revenue', 'published',
      |  1::BIGINT
      |UNION ALL SELECT 'mart', 'mart_segment_revenue',
      |  'audit_violations', 0::BIGINT""".stripMargin) { (s, dir) =>
    graft.sources.WarehouseBuild.run(s, dir)
  }

  // ------------------------------------------------------------ q250

  /** The INCREMENTAL warehouse build (the dbt incremental-run /
    * snapshot semantic): a base build over ~6/7 of orders and ~4/5 of
    * events, then one [[graft.sources.WarehouseBuild.runIncremental]]
    * folding the late arrivals into the published state — month-
    * partition order append with key dedup, affected-users-only SCD2
    * re-versioning with bucket-scoped rewrites, touched-month mart
    * recompute, all-or-nothing mart republish. The oracle recomputes
    * every delta counter, the dim deltas, the post-merge invariants,
    * and the final mart state from the raw tables (base ∪ delta =
    * everything, so the final state metrics equal the full build's —
    * which is exactly the semantic being claimed). */
  val q250 = Query(
    "q250_build_incremental",
    """WITH od AS (
      |  SELECT * FROM orders WHERE o_orderkey % 7 = 3),
      |odv AS (
      |  SELECT * FROM od
      |  WHERE o_totalprice > 0 AND o_custkey IS NOT NULL),
      |obv AS (
      |  SELECT * FROM orders WHERE o_orderkey % 7 <> 3
      |    AND o_totalprice > 0 AND o_custkey IS NOT NULL),
      |resub AS (
      |  SELECT COUNT(*) AS n FROM odv
      |  WHERE o_orderkey IN (SELECT o_orderkey FROM obv)),
      |so AS (
      |  SELECT * FROM orders
      |  WHERE o_totalprice > 0 AND o_custkey IS NOT NULL),
      |sc AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
      |scd AS (
      |  SELECT user_id, ts AS valid_from,
      |    LEAD(ts) OVER w AS valid_to,
      |    (LEAD(ts) OVER w IS NULL) AS is_current,
      |    ROW_NUMBER() OVER w AS version
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |ov AS (
      |  SELECT COUNT(*) AS n FROM (
      |    SELECT valid_to, LEAD(valid_from) OVER (
      |      PARTITION BY user_id ORDER BY valid_from, version) AS nf
      |    FROM scd)
      |  WHERE nf IS NOT NULL
      |    AND (valid_to IS NULL OR valid_to > nf)),
      |cv AS (
      |  SELECT COUNT(*) AS n FROM (
      |    SELECT user_id,
      |      SUM(CASE WHEN is_current THEN 1 ELSE 0 END) AS nc
      |    FROM scd GROUP BY 1)
      |  WHERE nc <> 1),
      |seg AS (
      |  SELECT c.c_mktsegment, o.o_totalprice
      |  FROM so o JOIN sc c ON o.o_custkey = c.c_custkey)
      |SELECT 'staging' AS step, 'stg_orders_delta' AS relation,
      |  'rows_in' AS metric, (SELECT COUNT(*) FROM od)::BIGINT AS value
      |UNION ALL SELECT 'staging', 'stg_orders_delta', 'rows_kept',
      |  (SELECT COUNT(*) FROM odv)
      |UNION ALL SELECT 'staging', 'stg_orders_delta', 'dropped_invalid',
      |  (SELECT COUNT(*) FROM od
      |   WHERE o_totalprice <= 0 OR o_custkey IS NULL)
      |UNION ALL SELECT 'staging', 'stg_orders_delta', 'high_value',
      |  (SELECT COUNT(*) FROM od WHERE o_totalprice > 400000)
      |UNION ALL SELECT 'staging', 'stg_orders_delta',
      |  'resubmitted_dropped', (SELECT n FROM resub)
      |UNION ALL SELECT 'staging', 'stg_orders', 'rows_appended',
      |  (SELECT COUNT(*) FROM odv) - (SELECT n FROM resub)
      |UNION ALL SELECT 'staging', 'stg_orders', 'months_touched',
      |  (SELECT COUNT(DISTINCT strftime(o_orderdate, '%Y-%m'))
      |   FROM odv WHERE o_orderkey NOT IN (SELECT o_orderkey FROM obv))
      |UNION ALL SELECT 'dim', 'dim_user_scd2', 'affected_users',
      |  (SELECT COUNT(DISTINCT user_id) FROM events
      |   WHERE event_id % 5 = 2)
      |UNION ALL SELECT 'dim', 'dim_user_scd2', 'versions_added',
      |  (SELECT COUNT(*) FROM events WHERE event_id % 5 = 2)
      |UNION ALL SELECT 'dim', 'dim_user_scd2', 'versions',
      |  (SELECT COUNT(*) FROM scd)
      |UNION ALL SELECT 'dim', 'dim_user_scd2', 'current_rows',
      |  (SELECT COUNT(*) FROM scd WHERE is_current)
      |UNION ALL SELECT 'dim', 'dim_user_scd2', 'overlap_violations',
      |  (SELECT n FROM ov)
      |UNION ALL SELECT 'dim', 'dim_user_scd2', 'current_violations',
      |  (SELECT n FROM cv)
      |UNION ALL SELECT 'mart', 'mart_monthly_revenue', 'rows',
      |  (SELECT COUNT(DISTINCT date_trunc('month', o_orderdate))
      |   FROM so)
      |UNION ALL SELECT 'mart', 'mart_monthly_revenue', 'revenue_cents',
      |  (SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |     AS BIGINT)) AS BIGINT) FROM so)
      |UNION ALL SELECT 'mart', 'mart_monthly_revenue', 'published',
      |  1::BIGINT
      |UNION ALL SELECT 'mart', 'mart_monthly_revenue',
      |  'audit_violations', 0::BIGINT
      |UNION ALL SELECT 'mart', 'mart_segment_revenue', 'rows',
      |  (SELECT COUNT(DISTINCT c_mktsegment) FROM seg)
      |UNION ALL SELECT 'mart', 'mart_segment_revenue', 'revenue_cents',
      |  (SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |     AS BIGINT)) AS BIGINT) FROM seg)
      |UNION ALL SELECT 'mart', 'mart_segment_revenue', 'published',
      |  1::BIGINT
      |UNION ALL SELECT 'mart', 'mart_segment_revenue',
      |  'audit_violations', 0::BIGINT""".stripMargin) { (s, dir) =>
    import graft.sources.{Tables, WarehouseBuild}
    val h = s"inc${math.abs(dir.hashCode)}"
    val orders = Tables.orders(s, dir)
    val events = Tables.events(s, dir)
    WarehouseBuild.runOn(s,
      orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 3),
      Tables.customer(s, dir),
      events.filter(pmod(col("event_id"), lit(5)) =!= 2), h)
    WarehouseBuild.runIncremental(s, h,
      orders.filter(pmod(col("o_orderkey"), lit(7)) === 3),
      events.filter(pmod(col("event_id"), lit(5)) === 2))
  }

  val all: Seq[Query] = Seq(q31, q32, q33, q34, q35, q36, q37, q38, q39,
    q40, q41, q42, q43, q44, q46, q47, q50, q51, q52, q59, q61, q62, q69,
    q74, q76, q77, q101, q105, q145, q147, q149, q160, q165, q168, q172,
    q178, q233, q234, q243, q250)
}
