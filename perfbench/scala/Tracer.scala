package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans of one traced run, kept in memory and written once at the end.
  *
  *  - an op span around each call into the program (see [[Harness.op]]);
  *  - an action span per Spark SQL execution, with the planning phases
  *    `QueryPlanningTracker` recorded for it;
  *  - a job span per Spark job, with its tasks' metrics summed.
  *
  * Actions and jobs are tied to their op by a job tag the harness adds on
  * the calling thread before the call; Spark keeps job tags in inheritable
  * local properties, so threads the program starts for parallel branches
  * carry the tag too. */
/** What the QueryExecutionListener saw of one execution. */
private final case class Seen(func: String, target: String, write: Boolean,
    phases: Map[String, Double], ok: Boolean)

final class Tracer(spark: SparkSession) {

  private val TagPrefix = "perfbench-op-"

  private final class Exec(val id: Long) {
    var op = -1
    var root = id
    var t0 = -1L
    var t1 = -1L
    var ok = true
  }

  private final class Job(val id: Int, val op: Int, val exec: Long,
      val t0: Long) {
    var t1 = -1L
    var ok = true
    var tasks = 0L
    var failedTasks = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    var recordsWritten = 0L
  }

  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val seen = new ConcurrentHashMap[Long, Seen]() // by qe.id
  private val qeOf = new ConcurrentHashMap[Long, Long]() // exec id -> qe.id
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val ops = ArrayBuffer.empty[String]

  private def opOf(tags: Iterable[String]): Int =
    tags.collectFirst { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix).toInt }.getOrElse(-1)

  private def tagsOf(p: java.util.Properties): Seq[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val x = execs.computeIfAbsent(s.executionId, new Exec(_))
        x.synchronized {
          x.op = opOf(s.jobTags)
          x.root = s.rootExecutionId.getOrElse(s.executionId)
          x.t0 = s.time
        }
      case s: SparkListenerSQLExecutionEnd =>
        val x = execs.computeIfAbsent(s.executionId, new Exec(_))
        x.synchronized {
          x.t1 = s.time
          x.ok = x.ok && s.errorMessage.forall(_.isEmpty)
        }
        // the end event carries the execution's QueryExecution (a field
        // Spark keeps package-private); its id joins the execution to what
        // the QueryExecutionListener saw of it
        scala.util.Try(s.getClass.getMethod("qe").invoke(s))
          .toOption.collect { case qe: QueryExecution => qe }
          .foreach(qe => qeOf.put(s.executionId, qe.id))
      case _ => ()
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = Option(j.properties)
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(j.jobId, new Job(j.jobId, opOf(tagsOf(j.properties)), exec,
        j.time))
      j.stageIds.foreach(s => stageJob.putIfAbsent(s, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach { x =>
        x.t1 = j.time
        x.ok = j.jobResult == JobSucceeded
      }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      s.stageInfo.submissionTime.foreach(t =>
        stageSubmitted.put(s.stageInfo.stageId, t))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(t.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { job =>
          job.synchronized {
            val info = t.taskInfo
            job.tasks += 1
            if (!info.successful) job.failedTasks += 1
            job.taskMs += info.finishTime - info.launchTime
            Option(stageSubmitted.get(t.stageId)).foreach(s =>
              job.waitMs += math.max(0L, info.launchTime - s))
            Option(t.taskMetrics).foreach { m =>
              job.cpuNs += m.executorCpuTime
              job.gcMs += m.jvmGCTime
              job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              job.shuffleRead += m.shuffleReadMetrics.totalBytesRead
              job.spill += m.diskBytesSpilled
              job.input += m.inputMetrics.bytesRead
              job.output += m.outputMetrics.bytesWritten
              job.recordsWritten += m.outputMetrics.recordsWritten
            }
          }
        }
  }

  /** The table an action writes, or else the first table it reads. */
  private def target(plan: LogicalPlan): (String, Boolean) = {
    val Name = """e2e_[A-Za-z0-9_]+""".r
    plan match {
      case c: Command => // the command's own line comes first
        (Name.findFirstIn(c.toString).getOrElse(c.nodeName), true)
      case p =>
        (p.collectLeaves().iterator.flatMap(l =>
          Name.findFirstIn(l.simpleString(400))).nextOption()
          .getOrElse(""), false)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val (t, w) = target(qe.commandExecuted)
      seen.put(qe.id, Seen(func, t, w, qe.tracker.phases.map { case (k, v) =>
        k -> v.durationMs / 1000.0 }, ok)); ()
    }
    override def onSuccess(func: String, qe: QueryExecution,
        durationNs: Long): Unit = record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution,
        e: Exception): Unit = record(func, qe, ok = false)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Tag every Spark action `body` starts (on this thread and on threads
    * it creates) with op `id`. */
  def tagged[T](id: Int)(body: => T): T = {
    val tag = TagPrefix + id
    spark.sparkContext.addJobTag(tag)
    try body finally spark.sparkContext.removeJobTag(tag)
  }

  /** Record an op span (one JSON object, already rendered). */
  def addOp(json: String): Unit = ops.synchronized { ops += json; () }

  /** Detach the listeners, wait for queued events, and write every span
    * as one JSON line to `path`. */
  def writeSpans(path: String): Unit = {
    Thread.sleep(1000) // listener-bus events drain asynchronously
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      ops.foreach(w.println)
      execs.values.asScala.toSeq.sortBy(_.id).foreach { x =>
        val q = Option(qeOf.get(x.id)).flatMap(i => Option(seen.get(i)))
          .getOrElse(Seen("", "", write = false, Map.empty, ok = true))
        w.println(Json.obj(
          "kind" -> "action", "id" -> x.id, "root" -> x.root, "op" -> x.op,
          "func" -> q.func, "target" -> q.target, "write" -> q.write,
          "ok" -> (x.ok && q.ok), "t0" -> x.t0, "t1" -> x.t1,
          "analysis_s" -> q.phases.getOrElse("analysis", 0.0),
          "optimization_s" -> q.phases.getOrElse("optimization", 0.0),
          "planning_s" -> q.phases.getOrElse("planning", 0.0)))
      }
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        w.println(Json.obj(
          "kind" -> "job", "id" -> j.id, "op" -> j.op, "exec" -> j.exec,
          "ok" -> j.ok, "t0" -> j.t0, "t1" -> j.t1, "tasks" -> j.tasks,
          "failed_tasks" -> j.failedTasks, "task_s" -> j.taskMs / 1000.0,
          "cpu_s" -> j.cpuNs / 1e9, "gc_s" -> j.gcMs / 1000.0,
          "task_wait_s" -> j.waitMs / 1000.0,
          "shuffle_write_b" -> j.shuffleWrite,
          "shuffle_read_b" -> j.shuffleRead, "spill_b" -> j.spill,
          "input_b" -> j.input, "output_b" -> j.output,
          "records_written" -> j.recordsWritten))
      }
    } finally w.close()
  }
}
