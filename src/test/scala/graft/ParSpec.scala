package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

import graft.operators.Par

/** The concurrency contract the composed builds' overlapped writes
  * rely on (guide §2.6 wiring, r14): every branch runs, every branch
  * is joined before return, a failure surfaces AFTER all branches
  * finish (no abandoned in-flight write) with every sibling failure
  * attached, and each branch sees the session active on its own
  * thread. */
class ParSpec extends SparkSpec {

  test("runs every thunk and joins all before returning") {
    val n = new AtomicInteger(0)
    Par.run(spark)(
      () => { Thread.sleep(50); n.incrementAndGet(); () },
      () => { n.incrementAndGet(); () },
      () => { Thread.sleep(20); n.incrementAndGet(); () })
    assert(n.get() == 3)
  }

  test("a failing branch rethrows only after the others complete") {
    val finished = new AtomicInteger(0)
    val e = intercept[RuntimeException] {
      Par.run(spark)(
        () => throw new RuntimeException("boom"),
        () => { Thread.sleep(100); finished.incrementAndGet(); () })
    }
    assert(e.getMessage == "boom")
    // the sibling branch was NOT abandoned mid-flight
    assert(finished.get() == 1)
  }

  test("every sibling failure rides the rethrown one as suppressed") {
    val e = intercept[RuntimeException] {
      Par.run(spark)(
        () => throw new RuntimeException("a"),
        () => throw new RuntimeException("b"),
        () => ())
    }
    assert(e.getSuppressed.length == 1)
    assert((e +: e.getSuppressed.toSeq).map(_.getMessage).toSet ==
      Set("a", "b"))
  }

  test("each branch sees the session active on its own thread") {
    val ok = new AtomicInteger(0)
    Par.run(spark)(
      () => if (SparkSession.getActiveSession.contains(spark)) {
        ok.incrementAndGet(); ()
      },
      () => if (SparkSession.getActiveSession.contains(spark)) {
        ok.incrementAndGet(); ()
      })
    assert(ok.get() == 2)
  }

  test("degenerate sizes run inline") {
    val n = new AtomicInteger(0)
    Par.run(spark)()
    Par.run(spark)(() => { n.incrementAndGet(); () })
    assert(n.get() == 1)
  }

  test("concurrent actions on the session all complete correctly") {
    import spark.implicits._
    val sums = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    Par.run(spark)(
      (1 to 4).map(i => () => {
        val s = spark.range(1, 1001).as[Long].reduce(_ + _)
        sums.put(i, s + i); ()
      }): _*)
    assert((1 to 4).forall(i => sums.get(i) == 500500L + i))
  }
}
