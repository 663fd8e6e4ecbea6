package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: run one registered query and print its Spark JOB
  * breakdown — id, wall duration, call site — sorted by cost. The
  * composed pipelines are action-bound; this is the tool that says
  * which actions. Usage: runMain graft.JobProfile <query> */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = Tool.sfDir("/root/testdata/sf0.1")
    val spark = Tool.start()
    val name = args.headOption.getOrElse("q250_build_incremental")
    // the profile should show the steady-state action costs
    Tool.warm(spark, sfDir, Seq("q1_pricing_summary"))

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, String)]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        val site = p.flatMap(pr => Option(pr.getProperty("callSite.short")))
          .orElse(p.flatMap(pr =>
            Option(pr.getProperty("spark.job.description"))))
          .orElse(p.flatMap(pr =>
            Option(pr.getProperty("spark.sql.execution.root.id"))
              .map("exec " + _)))
          .getOrElse("?")
        starts.put(j.jobId, (System.nanoTime(), site)); ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.remove(j.jobId)).foreach { case (t0, site) =>
          done.add((j.jobId, (System.nanoTime() - t0) / 1e9, site)); ()
        }
      }
    })
    // per-ACTION breakdown (r14): which count/collect/write costs what
    // — the composed builds are action-bound, and job rows alone don't
    // name the action. The listener gives the executed plan per action;
    // we print the action kind + its write target / first scan.
    val actions = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, Double)]())
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        private def label(
            qe: org.apache.spark.sql.execution.QueryExecution): String = {
          val cmd = qe.logical.getClass.getSimpleName
          val tgt = qe.logical.collectLeaves().headOption
            .map(_.toString.take(60).replace("\n", " ")).getOrElse("")
          s"$cmd $tgt"
        }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          actions.add((s"$funcName ${label(qe)}", durationNs / 1e9)); ()
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    graft.sources.MetaOps.reset()
    val total = Tool.secs(SparkEntry.queries(name)(spark, sfDir).count())
    val meta = graft.sources.MetaOps.snapshot
    // listener events drain asynchronously
    Thread.sleep(2000)
    import scala.jdk.CollectionConverters._
    val jobs = done.asScala.toSeq
    val jobSum = jobs.map(_._2).sum
    println(f"TOTAL ${total}%.2f s, jobs=${jobs.size}, job-time sum=$jobSum%.2f s (gap=${total - jobSum}%.2f s driver-side)")
    // the commit bill: driver-side catalog/metadata ops the query paid
    // (the q246/q258 scale axis — see sources/MetaOps.scala)
    println("METAOPS " + Tool.jsonCounts(meta))
    jobs.sortBy(-_._2).take(40).foreach { case (id, d, site) =>
      println(f"  job $id%4d  $d%7.3f s  $site")
    }
    val acts = actions.asScala.toSeq
    println(f"ACTIONS n=${acts.size}, sum=${acts.map(_._2).sum}%.2f s")
    acts.sortBy(-_._2).take(40).foreach { case (l, d) =>
      println(f"  $d%7.3f s  ${l.take(110)}")
    }
    spark.stop()
  }
}
