package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

/** Partitioning-invariance sweep: every registered query is executed
  * under two deliberately different physical configurations —
  * pass A at the bench layout (`local[cpus]`, `shuffle.partitions` =
  * cpus, default scan splits) and pass B with a co-prime reducer count
  * and 1 MiB scan splits — and the canonical row-set hash of each
  * result must be IDENTICAL across passes.
  *
  * Why this matters at 100 TB: the driver's DuckDB gate proves each
  * result is exact at ONE partitioning; a 1000-executor cluster runs
  * the same plans at a completely different partition count. Any
  * output that depends on partition layout — an order-dependent double
  * sum, a per-partition seeded `rand` that leaks past a shuffle, a
  * top-k tie broken by arrival order — is a silent result drift at
  * scale. This sweep makes that class (the q139 class, engine-side)
  * fail loudly on the laptop instead of silently on the cluster.
  *
  * Float policy: hashes render doubles via `Double.toString` — BIT
  * equality, deliberately stricter than any tolerance, because the
  * repo's contract is that every comparison-feeding double is already
  * quantized to an integer grid and every money sum is exact decimal;
  * a last-ulp wobble across partitionings means a raw float
  * accumulation escaped the contract.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... runMain graft.DeterminismCheck`
  * (defaults to sf0.001). Writes `target/determinism.json`, prints a
  * one-line JSON summary, exits nonzero on any drift.
  */
object DeterminismCheck {

  /** Canonical, type-stable rendering of one cell. Recursive over
    * arrays/structs/maps; binary → hex; decimals normalized so scale
    * representation can't masquerade as value drift. */
  def canonCell(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => "0x" + b.map(x => f"$x%02x").mkString
    case a: scala.collection.Seq[_] =>
      a.map(canonCell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canonCell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => canonCell(k) + "->" + canonCell(x) }
        .toSeq.sorted.mkString("{", ",", "}")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: BigDecimal => d.underlying.stripTrailingZeros.toPlainString
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.toString
  }

  /** Order-insensitive digest of a result: canonical lines, sorted,
    * fed through MD5 together with the column names. */
  def frameHash(cols: Seq[String], rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(cols.mkString(",").getBytes("UTF-8"))
    rows.map(_.toSeq.map(canonCell).mkString("\u0001")).sorted
      .foreach { l => md.update(l.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map(x => f"$x%02x").mkString
  }

  private val RowCap = 500000 // sf0.001 results are <= ~1.5k rows

  def main(args: Array[String]): Unit = {
    val sfDir = Tool.sfDir("/root/testdata/sf0.001")
    val cpus = Session.cpus.toString
    val spark = Tool.start()
    val names = Tool.queryNames

    // (shuffle.partitions, files.maxPartitionBytes): pass B's co-prime
    // reducer count re-deals every hash bucket and the 1 MiB splits
    // re-deal the scan, so accumulation ORDER differs everywhere while
    // the declared result must not
    val passes = Seq(("A", cpus, "134217728"), ("B", "7", "1048576"))
    val hashes = passes.map { case (label, parts, split) =>
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      spark.conf.set("spark.sql.files.maxPartitionBytes", split)
      val out = scala.collection.mutable.LinkedHashMap[String, String]()
      for (name <- names) {
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val rows = df.limit(RowCap + 1).collect()
          require(rows.length <= RowCap,
            s"$name exceeds the $RowCap-row collect cap at this SF")
          out(name) = frameHash(df.columns.toSeq, rows.toSeq)
        } catch { case e: Throwable =>
          out(name) = s"ERROR:${e.getClass.getSimpleName}"
          System.err.println(s"[determinism] $name ($label) threw: " +
            Tool.message(e).take(200))
        }
        graft.operators.InternalCache.release()
      }
      // pass B must rebuild every shared intermediate under its own
      // layout — a pass-A cache surviving would hide real drift
      Tool.cold(spark)
      (label, out)
    }
    val (_, a) = hashes.head
    val (_, b) = hashes.last
    val drifted = names.filter(n => a(n) != b(n))
    drifted.foreach { n =>
      println(s"DRIFT $n  passA=${a(n)}  passB=${b(n)}")
    }
    val report =
      s"""{
         |  "metric": "partitioning_invariance",
         |  "queries": ${names.size},
         |  "drifted": ${drifted.size},
         |  "drifted_names": [${drifted.map("\"" + _ + "\"").mkString(", ")}],
         |  "sf_dir": "$sfDir",
         |  "passes": [${passes.map { case (l, p, s0) =>
              s"""{"pass": "$l", "shuffle_partitions": $p, "max_partition_bytes": $s0}"""
            }.mkString(", ")}]
         |}""".stripMargin
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/determinism.json"), report)
    println(s"""{"metric":"partitioning_invariance","queries":${names.size},"drifted":${drifted.size}}""")
    spark.stop()
    if (drifted.nonEmpty) sys.exit(1)
  }
}
