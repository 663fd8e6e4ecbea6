package graft

import org.apache.spark.sql.functions._

import graft.quality.{NotNull, Unique}
import graft.sources.Materialize
import graft.sources.Materialize.Member

/** Multi-table all-or-nothing publish ([[Materialize.publishSetAudited]]
  * / [[Materialize.recoverSet]]): one failing audit anywhere must keep
  * EVERY previous version serving; a crash at ANY swap point must
  * recover to ONE consistent generation (never a fresh mart beside its
  * stale sibling); recovery is idempotent and a retry lands the new
  * generation. Fault injection drives the REAL swap sequence, not a
  * hand-modeled state. */
class PublishSetSpec extends SparkSpec {
  import spark.implicits._

  private def gen(k: Long, g: Int) = Seq((k, g.toLong)).toDF("k", "v")

  private def reset(names: Seq[String], set: String): Unit = {
    (names.flatMap(n => Seq(n, s"${n}__staging", s"${n}__prev")) :+
      s"${set}__swapping")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  private def generation(n: String): Option[Long] =
    if (spark.catalog.tableExists(n))
      Some(spark.table(n).head().getLong(1))
    else None

  test("a failing audit anywhere publishes NOTHING") {
    val names = Seq("pset_a1", "pset_a2")
    reset(names, "pset_a")
    val (ok0, _) = Materialize.publishSetAudited("pset_a", Seq(
      Member(gen(1, 1), names(0), Seq(NotNull("k"))),
      Member(gen(2, 1), names(1), Seq(NotNull("k")))))
    assert(ok0)
    val bad = Seq((Option.empty[Long], 2L)).toDF("k", "v")
    val (ok1, results) = Materialize.publishSetAudited("pset_a", Seq(
      Member(gen(1, 2), names(0), Seq(NotNull("k"))),
      Member(bad, names(1), Seq(NotNull("k")))))
    assert(!ok1)
    assert(results.find(_._1 == names(0)).get._2.forall(_.passed))
    assert(!results.find(_._1 == names(1)).get._2.forall(_.passed))
    // both keep generation 1; no staging debris; next publish works
    assert(names.map(generation) == Seq(Some(1L), Some(1L)))
    names.foreach(n =>
      assert(!spark.catalog.tableExists(s"${n}__staging")))
    val (ok2, _) = Materialize.publishSetAudited("pset_a", Seq(
      Member(gen(1, 3), names(0), Seq(NotNull("k"))),
      Member(gen(2, 3), names(1), Seq(NotNull("k")))))
    assert(ok2 && names.map(generation) == Seq(Some(3L), Some(3L)))
  }

  test("an EMPTY staged table is refused when the suite carries " +
      "NonEmpty — row-level audits alone pass it vacuously") {
    import graft.quality.NonEmpty
    val names = Seq("pset_e1", "pset_e2")
    reset(names, "pset_e")
    val (ok0, _) = Materialize.publishSetAudited("pset_e", Seq(
      Member(gen(1, 1), names(0), Seq(NonEmpty(), NotNull("k"))),
      Member(gen(2, 1), names(1), Seq(NonEmpty(), NotNull("k")))))
    assert(ok0)
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    // without NonEmpty the vacuity gap is real: an empty staging
    // passes NotNull+Unique and would replace the serving version
    val (okVacuous, rVac) = Materialize.publishSetAudited("pset_e", Seq(
      Member(gen(1, 2), names(0), Seq(NotNull("k"), Unique(Seq("k")))),
      Member(empty, names(1), Seq(NotNull("k"), Unique(Seq("k"))))))
    assert(okVacuous && rVac.forall(_._2.forall(_.passed)))
    assert(spark.table(names(1)).isEmpty) // the empty table IS serving
    // with NonEmpty the same publish is refused and BOTH tables keep
    // (or restore) the previous generation — all-or-nothing
    reset(names, "pset_e")
    val (okSeed, _) = Materialize.publishSetAudited("pset_e", Seq(
      Member(gen(1, 1), names(0), Seq(NonEmpty())),
      Member(gen(2, 1), names(1), Seq(NonEmpty()))))
    assert(okSeed)
    val (ok1, results) = Materialize.publishSetAudited("pset_e", Seq(
      Member(gen(1, 2), names(0), Seq(NonEmpty())),
      Member(empty, names(1), Seq(NonEmpty()))))
    assert(!ok1)
    assert(results.find(_._1 == names(1)).get._2
      .exists(r => r.check == "non_empty" && !r.passed))
    assert(names.map(generation) == Seq(Some(1L), Some(1L)))
  }

  test("a crash at every swap point recovers to ONE consistent " +
      "generation, idempotently, and a retry lands the new one") {
    // 2 tables, the second PARTITIONED → 11 injection points: marker
    // (0), staged (1, 2: a crash there stages in member order, so 1
    // leaves member 0 staged and member 1 not), audited (3), per table
    // i prev dropped, renamed aside, renamed in (4 + 3i, 5 + 3i,
    // 6 + 3i: after 6 the set is mixed on disk!), before cleanup (10).
    // Recovery rolls back until the last rename-in; a crash right
    // after the marker has nothing to roll and just frees it
    // (forward, old generation).
    def members(g: Int) = Seq(
      Member(gen(1, g), "pset_c1", Seq(NotNull("k"), Unique(Seq("k")))),
      Member(gen(2, g), "pset_c2", Seq(NotNull("k")), Some("v")))
    val names = members(1).map(_.name)
    for (k <- 0 until PublishSteps.count(2)) {
      reset(names, "pset_c")
      val clean = Materialize.publishSetAudited("pset_c", members(1))
      assert(clean._1)
      intercept[Materialize.CrashInjected] {
        Materialize.publishSetAudited("pset_c", members(2),
          crashAfter = k)
      }
      // every partial-staging state is reached: at staged(i) exactly
      // members 0..i hold a staging
      if (k >= PublishSteps.staged(0) && k <= PublishSteps.staged(1))
        assert(names.map(n => spark.catalog.tableExists(s"${n}__staging"))
          == names.indices.map(_ <= k - PublishSteps.staged(0)), s"k=$k")
      val dir = Materialize.recoverSet(spark, "pset_c")
      val expected =
        if (k == 0) ("forward", 1L)
        else if (k < PublishSteps.renamedIn(1, 2)) ("back", 1L)
        else ("forward", 2L)
      assert(dir == expected._1, s"k=$k")
      // the set is consistent: BOTH tables at the same generation
      assert(names.map(generation) ==
        Seq(Some(expected._2), Some(expected._2)), s"k=$k")
      // no debris survives recovery
      names.foreach { n =>
        assert(!spark.catalog.tableExists(s"${n}__staging"), s"k=$k")
        assert(!spark.catalog.tableExists(s"${n}__prev"), s"k=$k")
      }
      assert(!spark.catalog.tableExists("pset_c__swapping"), s"k=$k")
      // idempotent: a second recovery is a no-op
      assert(Materialize.recoverSet(spark, "pset_c") == "noop")
      // a retry publishes the crashed generation cleanly
      val retry = Materialize.publishSetAudited("pset_c", members(2))
      assert(retry._1 &&
        names.map(generation) == Seq(Some(2L), Some(2L)), s"k=$k")
    }
  }

  test("a staging-phase crash with a LATER member staged and an " +
      "earlier one not rolls back and keeps every published table") {
    // members stage concurrently, so member 1's write can land while
    // member 0's is still running when the crash hits — a state the
    // in-order crash injection never leaves: the phase comes from the
    // marker, not from which stagings exist
    val names = Seq("pset_cs1", "pset_cs2")
    reset(names, "pset_cs")
    def members(g: Int) = names.zipWithIndex.map { case (n, i) =>
      Member(gen(i.toLong + 1, g), n, Seq(NotNull("k"))) }
    assert(Materialize.publishSetAudited("pset_cs", members(1))._1)
    Materialize.takeMarker(spark, "pset_cs", names)
    Materialize.table(gen(2, 2), s"${names(1)}__staging")
    assert(Materialize.recoverSet(spark, "pset_cs") == "back")
    assert(names.map(generation) == Seq(Some(1L), Some(1L)))
    names.foreach(n =>
      assert(!spark.catalog.tableExists(s"${n}__staging"), n))
    assert(!spark.catalog.tableExists("pset_cs__swapping"))
    assert(Materialize.publishSetAudited("pset_cs", members(2))._1)
    assert(names.map(generation) == Seq(Some(2L), Some(2L)))
    reset(names, "pset_cs")
  }

  test("a FIRST publish crashed mid-swap rolls back to unpublished") {
    val names = Seq("pset_f1", "pset_f2")
    reset(names, "pset_f")
    intercept[Materialize.CrashInjected] {
      Materialize.publishSetAudited("pset_f", Seq(
        Member(gen(1, 1), names(0), Seq(NotNull("k"))),
        Member(gen(2, 1), names(1), Seq(NotNull("k")))),
        crashAfter = PublishSteps.renamedIn(0, 2))
    }
    assert(Materialize.recoverSet(spark, "pset_f") == "back")
    names.foreach(n => assert(!spark.catalog.tableExists(n)))
    // an unrecovered marker refuses the next publish loudly
    reset(names, "pset_f")
    intercept[Materialize.CrashInjected] {
      Materialize.publishSetAudited("pset_f", Seq(
        Member(gen(1, 1), names(0), Seq(NotNull("k")))),
        crashAfter = PublishSteps.renamedIn(0, 1))
    }
    val e = intercept[IllegalStateException] {
      Materialize.publishSetAudited("pset_f", Seq(
        Member(gen(1, 2), names(0), Seq(NotNull("k")))))
    }
    assert(e.getMessage.contains("recoverSet"))
    // the single table fully swapped before the crash
    assert(Materialize.recoverSet(spark, "pset_f") == "forward")
  }

  test("a second publisher racing a live one is refused loudly and " +
      "damages nothing") {
    // the long-running-driver scenario: session B starts a publish of
    // the same set while session A holds the marker mid-publish. The
    // marker is taken ATOMICALLY as step 1 (before any staging), so B
    // cannot stage over A's stagings — B fails fast, A's in-flight
    // state is untouched, and A's publish completes normally.
    val names = Seq("pset_race1")
    reset(names, "pset_race")
    // publisher A: establish a served generation first
    val (ok0, _) = Materialize.publishSetAudited("pset_race", Seq(
      Member(gen(1, 1), names(0), Seq(NotNull("k")))))
    assert(ok0)
    // simulate A mid-publish: marker held, staging written (the state
    // between steps 2 and 4)
    Materialize.takeMarker(spark, "pset_race", names)
    Materialize.table(gen(2, 1), s"${names(0)}__staging")
    val aStaging = rows(spark.table(s"${names(0)}__staging"))
    // publisher B: refused at the mutex, before staging anything
    val e = intercept[IllegalStateException] {
      Materialize.publishSetAudited("pset_race", Seq(
        Member(gen(3, 1), names(0), Seq(NotNull("k")))))
    }
    assert(e.getMessage.contains("concurrent"))
    // nothing of A's was damaged: marker still held, staging intact,
    // the served generation untouched
    assert(spark.catalog.tableExists("pset_race__swapping"))
    assert(rows(spark.table(s"${names(0)}__staging")) == aStaging)
    assert(rows(spark.table(names(0))).nonEmpty)
    // A finishes: its crash-recovery path completes the swap
    assert(Materialize.recoverSet(spark, "pset_race") == "back")
    // and a retry of the publish lands cleanly after the marker frees
    val (ok1, _) = Materialize.publishSetAudited("pset_race", Seq(
      Member(gen(2, 1), names(0), Seq(NotNull("k")))))
    assert(ok1)
    reset(names, "pset_race")
  }

  test("a failing audit releases the marker so the next publish can " +
      "proceed") {
    val names = Seq("pset_aud1")
    reset(names, "pset_aud")
    val bad = Seq((Option.empty[Long], 1L)).toDF("k", "v")
    val (ok0, _) = Materialize.publishSetAudited("pset_aud", Seq(
      Member(bad, names(0), Seq(NotNull("k")))))
    assert(!ok0)
    assert(!spark.catalog.tableExists("pset_aud__swapping"))
    // the gate is free: a clean publish right after succeeds
    val (ok1, _) = Materialize.publishSetAudited("pset_aud", Seq(
      Member(gen(1, 1), names(0), Seq(NotNull("k")))))
    assert(ok1)
    reset(names, "pset_aud")
  }

  test("a staging write that throws frees the marker: nothing swapped, " +
      "and the next publish proceeds") {
    val names = Seq("pset_sf1", "pset_sf2")
    reset(names, "pset_sf")
    def members(g: Int, second: org.apache.spark.sql.DataFrame) = Seq(
      Member(gen(1, g), names(0), Seq(NotNull("k"))),
      Member(second, names(1), Seq(NotNull("k"))))
    assert(Materialize.publishSetAudited("pset_sf",
      members(1, gen(2, 1)))._1)
    // member 0 stages, then member 1's staging job fails
    val boom = udf((k: Long) =>
      if (k > 0) throw new IllegalArgumentException("staging failed")
      else k)
    val failing = gen(2, 2).withColumn("k", boom(col("k")))
    intercept[Exception] {
      Materialize.publishSetAudited("pset_sf", members(2, failing))
    }
    assert(!spark.catalog.tableExists("pset_sf__swapping"))
    names.foreach(n =>
      assert(!spark.catalog.tableExists(s"${n}__staging"), n))
    assert(names.map(generation) == Seq(Some(1L), Some(1L)))
    assert(Materialize.recoverSet(spark, "pset_sf") == "noop")
    assert(Materialize.publishSetAudited("pset_sf",
      members(2, gen(2, 2)))._1)
    assert(names.map(generation) == Seq(Some(2L), Some(2L)))
    reset(names, "pset_sf")
  }

  test("publishes of different memberships under ONE set name recover " +
      "only their own members") {
    // the corpus pattern: a probe set and a manifest publish alone or
    // together under one set name (one mutex). The marker names the
    // in-flight members, so recovering a one-member crash never treats
    // the other, unstaged table as swapped and drops it.
    val probes = "pset_m_probes"; val manifest = "pset_m_manifest"
    reset(Seq(probes, manifest), "pset_m")
    assert(Materialize.publishSetAudited("pset_m", Seq(
      Member(gen(1, 1), probes, Seq(NotNull("k"))),
      Member(gen(2, 1), manifest, Seq(NotNull("k")))))._1)
    var served = Map(probes -> 1L, manifest -> 1L)
    var g = 1
    for (alone <- Seq(manifest, probes);
         k <- Seq(PublishSteps.staged(0), PublishSteps.renamedIn(0, 1))) {
      g += 1
      intercept[Materialize.CrashInjected] {
        Materialize.publishSetAudited("pset_m",
          Seq(Member(gen(3, g), alone, Seq(NotNull("k")))),
          crashAfter = k)
      }
      val dir = Materialize.recoverSet(spark, "pset_m")
      if (k == PublishSteps.renamedIn(0, 1)) {
        assert(dir == "forward", s"$alone k=$k")
        served += alone -> g.toLong
      } else assert(dir == "back", s"$alone k=$k")
      // both published tables survive, each at its own generation
      assert(Seq(probes, manifest).map(generation) ==
        Seq(served(probes), served(manifest)).map(Some(_)), s"$alone k=$k")
      assert(!spark.catalog.tableExists("pset_m__swapping"))
    }
    reset(Seq(probes, manifest), "pset_m")
  }
}
