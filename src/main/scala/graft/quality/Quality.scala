package graft.quality

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality check ADT — Spark-native form of the reference's dbt
  * schema tests (reference `models/schema.yml`: `unique`, `not_null`,
  * `relationships`, `accepted_values`, freshness `:13-14`) plus its
  * declared custom checks (`README.md:54-59`).
  *
  * Each check produces a *violations* DataFrame (dbt semantics: a test
  * compiles to a SELECT returning offending rows; non-zero rows = fail)
  * and the runner folds them into one summary frame. Violations are
  * computed lazily; the runner triggers one aggregate per check.
  *
  * Scale notes: `Unique` is a group-count (map-side combinable);
  * `Relationship` is a broadcast/shuffled left-anti join with the
  * null-key exclusion dbt applies (null child keys are NOT violations);
  * `Freshness` is a single max() scan.
  */
/** Check severity tier (reference `models/schema.yml:13-14`: freshness
  * `warn_after` vs hard test errors; dbt's `severity: warn` config). A
  * `Warn` check that fires reports `warn` and does NOT fail the run —
  * unless the runner promotes warnings (`--warn-error` parity,
  * reference `.github/workflows/dbt-ci.yml:42`). */
sealed abstract class Severity(val label: String)
object Severity {
  case object Warn extends Severity("warn")
  case object Error extends Severity("error")
}

sealed trait Check {
  def name: String
  def violations(df: DataFrame): DataFrame
  /** Failure tier when violations exist; `Error` unless overridden. */
  def severity: Severity = Severity.Error
}

/** PK uniqueness (reference `models/schema.yml:17,29,47,58,85,105`). */
final case class Unique(cols: Seq[String]) extends Check {
  val name = s"unique_${cols.mkString("_")}"
  def violations(df: DataFrame): DataFrame =
    df.groupBy(cols.map(col): _*).count().filter(col("count") > 1)
}

/** Column not-null (reference `models/schema.yml:17,29-30,...`). */
final case class NotNull(c: String) extends Check {
  val name = s"not_null_$c"
  def violations(df: DataFrame): DataFrame = df.filter(col(c).isNull)
}

/** Enum membership (reference `accepted_values` pattern; enums cited in
  * SURVEY §1.2). */
final case class AcceptedValues(c: String, values: Seq[String]) extends Check {
  val name = s"accepted_values_$c"
  def violations(df: DataFrame): DataFrame =
    df.filter(col(c).isNotNull && !col(c).isin(values: _*))
}

/** FK integrity (reference `relationships` tests,
  * `models/schema.yml:31-35,59-73,86-90,108-117`). dbt ignores null child
  * keys, so the anti-join filters them first (SURVEY §7.3 risk note).
  *
  * `broadcastParent` defaults to false: the parent's distinct-key set is
  * fact-sized whenever the parent is a fact (orders at 100 TB = billions
  * of keys through the driver — OOM). Opt in only for true constant-size
  * dims; otherwise AQE picks broadcast by itself when the side is small. */
final case class Relationship(childCol: String, parent: DataFrame,
    parentCol: String, broadcastParent: Boolean = false) extends Check {
  val name = s"relationship_$childCol"
  def violations(df: DataFrame): DataFrame = {
    val p = parent.select(col(parentCol)).distinct()
    val pk = if (broadcastParent) broadcast(p) else p
    df.filter(col(childCol).isNotNull)
      .join(pk, df(childCol) === pk(parentCol), "left_anti")
  }
}

/** Source freshness (reference `models/schema.yml:9,13-14`:
  * `loaded_at_field` + `warn_after: 24 hours`). `asOf` is injected rather
  * than `current_timestamp()` so checks are reproducible. */
final case class Freshness(loadedAt: String, warnAfterHours: Int,
    asOf: java.sql.Timestamp,
    override val severity: Severity = Severity.Warn) extends Check {
  val name = s"freshness_$loadedAt"
  def violations(df: DataFrame): DataFrame =
    df.agg(max(col(loadedAt)).as("max_loaded_at"))
      .filter(col("max_loaded_at") <
        lit(asOf) - expr(s"INTERVAL $warnAfterHours HOURS"))
}

/** Arbitrary predicate check (the reference's declared custom tests:
  * no-negative-price, PII-in-JSON, late-arrival rate — `README.md:54-59`).
  * Violations are rows where `bad` holds. */
final case class Predicate(name: String, bad: Column) extends Check {
  def violations(df: DataFrame): DataFrame = df.filter(bad)
}

/** Table NON-EMPTINESS — the anti-vacuity audit for publish gates:
  * every row-level check (NotNull/Unique/AcceptedValues/…) holds
  * VACUOUSLY on zero rows, so a pipeline bug that stages an EMPTY
  * table sails through a WAP audit and replaces a healthy published
  * version with nothing (r11 lesson: an empty ANN index also SCORES
  * perfectly — recall 1.0 on a zero-row exact set). One aggregate leg
  * that fires exactly when the table has no rows; add it to any suite
  * whose table must never legitimately be empty. */
final case class NonEmpty() extends Check {
  val name = "non_empty"
  def violations(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n")).filter(col("n") === 0)
}

object Quality {

  /** dbt-style check outcome: `status` is `pass`/`warn`/`error`
    * (`warn` when a Warn-tier check fires and warnings are not
    * promoted); `passed` means "does not fail the run" — a firing
    * warn-tier check reports `warn` with `passed = true`. */
  final case class Result(check: String, violations: Long,
      severity: String, status: String, passed: Boolean)

  private def statusOf(n: Long, sev: Severity, warnAsError: Boolean): String =
    if (n == 0) "pass"
    else if (sev == Severity.Warn && !warnAsError) "warn"
    else "error"

  /** Run checks against a table; one count() action per check.
    * `warnAsError` promotes warn-tier failures to errors (dbt
    * `--warn-error` parity). For a single-pass variant over one table,
    * see `summarize`. */
  def run(df: DataFrame, checks: Seq[Check],
      warnAsError: Boolean = false): Seq[Result] =
    checks.map { c =>
      val n = c.violations(df).count()
      val st = statusOf(n, c.severity, warnAsError)
      Result(c.name, n, c.severity.label, st, st != "error")
    }

  /** [[run]] with ONE Spark action for the whole suite: every check's
    * violation count is a one-row aggregate leg, the legs union, and a
    * single bounded collect (≤ #checks rows) reads them all. Results
    * are element-for-element what [[run]] returns — this exists
    * because composed pipelines are action-latency-bound at fixture
    * scale (and action-SCHEDULING-bound at 100 TB: one job per audit
    * gate, not one per check). */
  def runOnce(df: DataFrame, checks: Seq[Check],
      warnAsError: Boolean = false): Seq[Result] =
    if (checks.isEmpty) Nil
    else resultsOf(checks, countsOnce(Seq(df -> checks)).head, warnAsError)

  /** The shared one-action core: per (table, suite) pair, every
    * check's count, collected in one job. Returns counts aligned with
    * the input structure. */
  private[graft] def countsOnce(
      suites: Seq[(DataFrame, Seq[Check])]): Seq[Seq[Long]] = {
    val legs = for {
      ((df, checks), t) <- suites.zipWithIndex
      (c, i) <- checks.zipWithIndex
    } yield c.violations(df)
      .agg(count(lit(1)).cast("long").as("n"))
      .select(lit(t).as("t"), lit(i).as("i"), col("n"))
    if (legs.isEmpty) suites.map(_ => Nil)
    else {
      val got = legs.reduce(_ unionByName _).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      suites.zipWithIndex.map { case ((_, checks), t) =>
        checks.indices.map(i => got((t, i))).toSeq
      }
    }
  }

  private[graft] def resultsOf(checks: Seq[Check], counts: Seq[Long],
      warnAsError: Boolean): Seq[Result] =
    checks.zip(counts).map { case (c, n) =>
      val st = statusOf(n, c.severity, warnAsError)
      Result(c.name, n, c.severity.label, st, st != "error")
    }

  /** Single-job summary: unions per-check violation counts into one
    * DataFrame so the driver can execute all checks as one Spark job
    * (each leg is an aggregate; Spark shares the scan via plan reuse
    * where possible). Emits both the effective `status` (under
    * `warnAsError`) and `promoted_status` (as if every warning were
    * promoted) so a report shows exactly which checks would flip under
    * `--warn-error`. */
  def summarize(spark: SparkSession,
      legs: Seq[(String, DataFrame, Severity)],
      warnAsError: Boolean = false): DataFrame = {
    val frames = legs.map { case (name, violations, sev) =>
      violations.agg(count(lit(1)).cast("long").as("violations"))
        .select(lit(name).as("check_name"), col("violations"),
          lit(sev.label).as("severity"),
          when(col("violations") === 0, "pass")
            .when(lit(sev == Severity.Error || warnAsError), "error")
            .otherwise("warn").as("status"),
          when(col("violations") === 0, "pass").otherwise("error")
            .as("promoted_status"))
        .withColumn("passed", col("status") =!= "error")
    }
    frames.reduce(_ unionByName _)
  }

  /** In-flight quality metrics via `Dataset.observe` (SURVEY E3's
    * `observe()` note): violation counters ride along with whatever
    * action the caller runs — ZERO extra scans, unlike `run`'s
    * one-aggregate-per-check. Predicate-expressible checks only
    * (not_null, accepted values, custom predicates).
    *
    * Returns (instrumented df, observation). After the caller's first
    * action, `observation.get` yields `<name> -> violation count`.
    * Counters are coalesced to 0: `sum` over an EMPTY scan is NULL,
    * which would NPE every consumer reading the metrics as Longs —
    * an empty source must report zeros, not crash the build. */
  def observed(df: DataFrame, checks: Seq[(String, Column)])
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val metrics = checks.map { case (name, bad) =>
      coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L)).as(name)
    }
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** Observation reads tolerant of AQE empty-relation propagation:
    * when the observed subtree turns out empty at runtime,
    * `AQEPropagateEmptyRelation` replaces it with an empty relation
    * and the `CollectMetrics` node is PRUNED — the metrics map comes
    * back empty. For a node whose rows all reach the empty subtree the
    * true metric is the aggregate of zero rows, so the zero-value
    * default is exact, not a guess; a node below a filter or anti-join
    * that emptied the rows can be pruned with rows behind it, and its
    * reader must recount (see `CorpusBuild.runIncremental`'s gate
    * counters). */
  def obsLong(o: org.apache.spark.sql.Observation, k: String): Long =
    o.get.get(k).map(_.asInstanceOf[Number].longValue()).getOrElse(0L)

  /** [[obsLong]]'s collection twin (e.g. a `collect_set` metric). */
  def obsSeq(o: org.apache.spark.sql.Observation, k: String): Seq[Any] =
    o.get.get(k).map(_.asInstanceOf[Seq[Any]]).getOrElse(Nil)
}
