package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark actions from driver threads (guide §2.6
  * "overlap independent jobs"): a composed build is a chain of small
  * writes whose per-action bill is one distributed job PLUS a serial
  * driver tail (commit protocol, catalog update, relation-cache
  * refresh, next plan's analysis). Running independent actions
  * concurrently lets one action's tasks back-fill the cores another's
  * driver tail leaves idle — measured on q250/q258 (JobProfile r14):
  * the serial chains' job-time sum ≈ wall, i.e. near-zero overlap
  * before this.
  *
  * Discipline (the eraseDocs precedent, r13): each branch runs on its
  * own thread with the session re-pinned active — job groups and
  * descriptions are inheritable thread-locals, the active session is
  * not. Callers whose branches need dynamic partition overwrite must
  * wrap the whole parallel region in
  * [[graft.sources.Materialize.withDynamicOverwrite]] so a branch's
  * scoped restore can never yank the mode out from under a sibling's
  * in-flight write. Every branch is joined before return; the first
  * failure rethrows AFTER all branches finish (no abandoned in-flight
  * write commits into a torn state), carrying every sibling failure as
  * suppressed — none is dropped.
  */
object Par {

  /** Run every thunk concurrently; rethrow the first failure once all
    * have finished, with the others attached via `addSuppressed`.
    * Degenerate sizes run inline. */
  def run(spark: SparkSession)(thunks: (() => Unit)*): Unit = {
    if (thunks.lengthCompare(1) <= 0) { thunks.foreach(_()); return }
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = thunks.map { t =>
      val th = new Thread(() => {
        SparkSession.setActiveSession(spark)
        try t() catch { case e: Throwable => failures.add(e); () }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    if (!failures.isEmpty) {
      val first = failures.poll()
      failures.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
  }
}
