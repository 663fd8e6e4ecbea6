package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.CorpusBuild
import graft.sources.{MetaOps, Tables, WarehouseBuild}

/** The benchmark's JVM side: sets up a session, runs whole rounds of one
  * workload against the program's public entry points until the run's
  * time is up, and writes every timing and every program output the
  * checks need to one JSON file. Spans go to a second file when tracing.
  *
  * Usage: Harness <spec.properties> — see perfbench/run.py, which writes
  * the spec from the workload seed and checks the outputs. */
object Harness {

  final class Spec(p: java.util.Properties) {
    def apply(k: String): String = Option(p.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"spec: missing $k"))
  }

  /** Session starts per set-up; setup_s takes their median. */
  private val Sessions = 3

  private var spec: Spec = _
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private val ops = ArrayBuffer.empty[String]
  private var opSeq = 0

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try props.load(in) finally in.close()
    spec = new Spec(props)
    val bootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) /
      1000.0

    // set-up: the session start and table registration, repeated (the
    // last session is kept), then one warm-up round that takes the
    // workload's full and incremental paths once
    val sessionS = (0 until Sessions).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = newSession()
      register()
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    warmUp()
    val warmUpS = (System.nanoTime() - w0) / 1e9
    if (spec("trace") == "1") tracer = Some(new Tracer(spark))

    // whole rounds: at least one, and another only while it is expected
    // to end within the run's seconds
    val seconds = spec("seconds").toDouble
    val t0 = System.nanoTime()
    val stored = ArrayBuffer.empty[Double]
    var round = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (round == 0 || elapsed + last <= seconds) {
      val r0 = elapsed
      stored += runRound(round)
      last = elapsed - r0
      round += 1
    }
    val measuredS = elapsed

    val conf = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.io.compression.codec", "spark.sql.parquet.compression.codec",
      "spark.sql.session.timeZone", "spark.sql.catalogImplementation",
      "spark.sql.sources.parallelPartitionDiscovery.threshold",
      "spark.sql.warehouse.dir", "spark.local.dir")
      .map(k => k -> spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k)).getOrElse(""))
    tracer.foreach(_.writeSpans(spec("spans")))
    val out = Json.obj(
      "workload" -> spec("workload"),
      "boot_s" -> bootS,
      "session_s" -> sessionS,
      "warmup_s" -> warmUpS,
      "rounds" -> round,
      "measured_s" -> measuredS,
      "stored_mb" -> stored.toSeq,
      "peak_rss_mb" -> peakRssMb,
      "conf" -> conf.toMap,
      "ops" -> ops.toSeq.map(Json.Raw))
    Files.write(Paths.get(spec("out")), out.getBytes("UTF-8"))
    // nothing is left to flush: every table of the run is dropped, and the
    // caller removes the run's directories
    Runtime.getRuntime.halt(0)
  }

  /** The session the program runs in: `local[n]`, n shuffle partitions,
    * driver-side partition discovery up to 256 paths, UTC, the in-memory
    * catalog, and this run's own warehouse and local dirs. Codecs and
    * the time zone also come in as JVM options, as the build sets them. */
  private def newSession(): SparkSession = {
    val n = spec("cpus")
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", spec("warehouse"))
      .config("spark.local.dir", spec("local"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def data: String = spec("data")
  private def orders = Tables.orders(spark, data)
  private def customer = Tables.customer(spark, data)
  private def events = Tables.events(spark, data)
  private def documents = Tables.documents(spark, data)

  private def register(): Unit = spec("workload") match {
    case "warehouse" =>
      orders.createOrReplaceTempView("orders")
      customer.createOrReplaceTempView("customer")
      events.createOrReplaceTempView("events")
    case "corpus" =>
      documents.createOrReplaceTempView("documents")
  }

  // ---------------------------------------------------------------- ops

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** One call into the program, timed; with tracing on, also its span,
    * the MetaOps counters around it, and the data files it left. `post`
    * runs after the timed call and adds its fields to the record. */
  private def op(name: String, round: Int,
      post: () => Seq[(String, Any)] = () => Nil)(
      body: => Seq[Seq[Any]]): Seq[Seq[Any]] = {
    opSeq += 1
    val id = opSeq
    val traced = tracer.isDefined
    val meta0 = if (traced) MetaOps.snapshot else Map.empty[String, Long]
    val files0 = if (traced) dataFiles() else Set.empty[String]
    val jvm0 = jvmCounters()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    // a failing call is recorded and the round goes on: its failure, and
    // the failures of the calls that needed its state, are counted
    val (out, error) = try (tracer.fold(body)(_.tagged(id)(body)), "")
      catch { case e: Throwable =>
        (Nil, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    val wall = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    val jvm = jvmCounters().map { case (k, v) => k -> (v - jvm0(k)) }
    val meta = if (traced) {
      val m1 = MetaOps.snapshot
      (m1.keySet ++ meta0.keySet).toSeq.map(k =>
        k -> (m1.getOrElse(k, 0L) - meta0.getOrElse(k, 0L)))
        .filter(_._2 != 0).toMap
    } else Map.empty[String, Long]
    val filesWritten =
      if (traced) (dataFiles() -- files0).size.toLong else 0L
    val rec = Json.obj((Seq[(String, Any)](
      "kind" -> "op", "id" -> id, "name" -> name, "round" -> round,
      "wall_s" -> wall, "t0" -> w0, "t1" -> w1, "metaops" -> meta,
      "files_written" -> filesWritten, "jvm" -> jvm, "rows" -> out,
      "error" -> error) ++ (if (error.isEmpty) post() else Nil)): _*)
    ops += rec
    tracer.foreach(_.addOp(rec))
    out
  }

  /** Seconds of process CPU, JIT compilation and GC so far, and of CPU
    * time the host took from this machine (`steal` in /proc/stat). */
  private def jvmCounters(): Map[String, Double] = {
    import java.lang.management.ManagementFactory
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val steal = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100
      finally src.close()
    }.getOrElse(0.0)
    Map("cpu_s" -> os.getProcessCpuTime / 1e9,
      "jit_s" -> ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime / 1e3,
      "gc_s" -> gc / 1e3, "steal_s" -> steal)
  }

  /** Names of the data files at rest under the warehouse dir. */
  private def dataFiles(): Set[String] = {
    val root = Paths.get(spec("warehouse"))
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-"))
        .map(_.getFileName.toString).toSet
      finally s.close()
    }
  }

  /** Bytes at rest under the warehouse dir in table dirs named with `h`. */
  private def storedMb(h: String): Double = {
    val root = Paths.get(spec("warehouse"))
    val dirs = Option(root.toFile.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.contains(h))
    dirs.map(d => {
      val s = Files.walk(d.toPath)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }).sum / 1e6
  }

  /** Drop every catalog table named with `h` and remove its files. */
  private def dropRound(h: String): Unit = {
    graft.operators.InternalCache.release()
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.contains(h))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Option(new File(spec("warehouse")).listFiles()).toSeq.flatten
      .filter(_.getName.contains(h)).foreach(deleteTree)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  // ---------------------------------------------------------- workloads

  /** Rows of `df` the spec's SQL predicate `key` keeps: the run's split,
    * written once in SQL that Spark and the DuckDB checks both read. */
  private def cut(df: DataFrame, key: String): DataFrame =
    df.filter(expr(spec(key)))

  private def runRound(round: Int): Double = spec("workload") match {
    case "warehouse" => warehouseRound(round, "", s"r$round")
    case "corpus" => corpusRound(round, "", s"$data#r$round")
  }

  /** The warm-up: the workload's round over the spec's `warmup.`
    * slices, recorded as round -1. */
  private def warmUp(): Unit = spec("workload") match {
    case "warehouse" => warehouseRound(-1, "warmup.", "w0")
    case "corpus" => corpusRound(-1, "warmup.", s"$data#w0")
  }

  private def readMarts(h: String): Seq[Seq[Any]] =
    rows(spark.table(s"e2e_mart_monthly_$h")
      .select(lit("monthly"), col("month").cast("string"),
        col("revenue").cast("string"))) ++
    rows(spark.table(s"e2e_mart_segment_$h")
      .select(lit("segment"), col("c_mktsegment"),
        col("revenue").cast("string")))

  /** A dashboard after a publish: 2 reads in a row (one in the warm-up,
    * which only needs the path taken). */
  private def reads(round: Int): Int = if (round < 0) 1 else 2

  /** Keys of the round's updates in the order they run: `update1.` ... */
  private def updates(p: String): Seq[String] =
    (1 to spec(s"${p}updates").toInt).map(i => s"${p}update$i.")

  /** Full build over the base slice, then the incremental updates in
    * turn, each call followed by dashboard reads of both published marts. */
  private def warehouseRound(round: Int, p: String, h: String): Double = {
    def read() =
      (1 to reads(round)).foreach(_ => op("read", round)(readMarts(h)))
    op("build", round)(rows(WarehouseBuild.runOn(spark,
      cut(orders, s"${p}build.orders"), customer,
      cut(events, s"${p}build.events"), h)))
    read()
    updates(p).foreach { u =>
      op("update", round)(rows(WarehouseBuild.runIncremental(spark, h,
        cut(orders, s"${u}orders"), cut(events, s"${u}events"))))
      read()
    }
    val mb = storedMb(h)
    dropRound(h)
    mb
  }

  private def corpusH(key: String): String = math.abs(key.hashCode).toString

  private val CorpusTables = Seq("curated", "probes", "grams", "bands",
    "removed")

  private def readCorpus(h: String): Seq[Seq[Any]] =
    rows(spark.table(s"e2e_corpus_manifest_$h").orderBy("shard")
      .select(col("shard"), col("n_docs"), col("shard_tokens"),
        col("first_doc"), col("last_doc")))

  /** Full curation build, then the erasure request sets in turn, each
    * call followed by dashboard reads of the published manifest. */
  private def corpusRound(round: Int, p: String, key: String): Double = {
    val h = corpusH(key)
    val docs = cut(documents, s"${p}build.docs")
    def read() =
      (1 to reads(round)).foreach(_ => op("read", round)(readCorpus(h)))
    op("build", round)(rows(CorpusBuild.run(spark, key, docs)))
    read()
    updates(p).foreach { u =>
      op("update", round,
          post = () => Seq("published_ids" -> publishedIds(h)))(
        rows(CorpusBuild.eraseDocs(spark, key,
          cut(docs.select(col("doc_id")), s"${u}docs"))))
      read()
    }
    val mb = storedMb(h)
    dropRound(h)
    mb
  }

  /** Every doc_id left in each published corpus table (untimed). */
  private def publishedIds(h: String): Map[String, Seq[Long]] =
    CorpusTables.map(t => t -> spark.table(s"e2e_corpus_${t}_$h")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSeq
      .sorted).toMap
}
