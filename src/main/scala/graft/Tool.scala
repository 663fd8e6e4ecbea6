package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{InternalCache, SharedFrames}

/** What the dev-tool mains share: the session start, the one name
  * filter, warm-up, cold release, timing and JSON rendering. */
object Tool {

  /** `SPARK_GRAFT_SF_DIR`, else `default`. */
  def sfDir(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)

  /** Create `b` (the factory's builder plus caller extras). */
  def start(b: SparkSession.Builder = Session.builder(),
      level: String = "WARN"): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(level)
    s
  }

  /** `SPARK_GRAFT_ONLY=q179_x,q53_y` restricts a tool to the named
    * queries or probes: the dev loop, and isolated medians when a
    * regression needs an owner. */
  val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  def picked(name: String): Boolean = only.forall(_.contains(name))

  /** Registered query names, sorted, that [[only]] keeps. */
  def queryNames: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filter(picked)

  /** Drop operator-internal and shared frames and the catalog cache,
    * then collect: what runs next starts cold. */
  def cold(spark: SparkSession): Unit = {
    InternalCache.release()
    SharedFrames.release()
    spark.catalog.clearCache()
    System.gc()
  }

  /** Untimed warm-up: `run` over each named query absorbs the one-off
    * whole-stage-codegen/JIT startup (~5-10 s) that would otherwise
    * land on whichever timed query runs first. A throwing query is
    * ignored here; the timed run records it. Ends [[cold]], so only
    * the JIT warmth carries over. */
  def warm(spark: SparkSession, dir: String, names: Seq[String],
      run: DataFrame => Any = _.count()): Unit = {
    names.foreach { n =>
      try { run(SparkEntry.queries(n)(spark, dir)); () }
      catch { case _: Throwable => () }
    }
    cold(spark)
  }

  /** Wall seconds `f` takes. */
  def secs(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def r3(v: Double): String = f"$v%.3f"

  /** A JSON string literal with backslash, quote and ALL control
    * chars (< U+0020) escaped: one raw tab or CR in a message or in
    * query SQL would make a reader's json.load reject the file. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A string map as one JSON object, in `m`'s order. */
  def jsonMap(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${json(k)}: ${json(v)}" }
      .mkString("{", ",", "}")

  /** Counters (the MetaOps bill) as one JSON object, keys sorted. */
  def jsonCounts(m: Map[String, Long]): String =
    m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")

  /** `e`'s message, or "" when it has none. */
  def message(e: Throwable): String = Option(e.getMessage).getOrElse("")
}
