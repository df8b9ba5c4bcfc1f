package graft

/**
 * Targeted per-query timing with [[Bench]]'s exact methodology (same
 * warmup, 3 runs per query, median reported, build/serve split for
 * persisted-artifact queries) over an explicit query list — the
 * optimization-loop tool: isolate the queries a change touched without
 * paying the full suite. Usage:
 * `runMain graft.BenchSome <name> [<name> ...]` with the data dir from
 * `$SPARK_GRAFT_SF_DIR` (same contract as Bench). NOT the driver's
 * artifact — the committed round records stay [[Bench]]'s.
 */
object BenchSome {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass at least one query name")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench-some")
    // A failed warmup is printed and fails the process like a failed run.
    var anyFailed = false
    try {
      SparkEntry.queries("q1_agg")(spark, sfDir).count()
      SparkEntry.warmupSharedFrames(spark, sfDir)
    } catch { case e: Throwable =>
      anyFailed = true
      println(s"BENCHSOME warmup FAILED: $e")
    }
    // Track failures per run: a query whose run threw must print a
    // FAILED marker (and fail the process), never a bogus timing
    // (round-15 advice — the swallowed-Throwable timing read as a fast
    // success).
    var queryFails = 0
    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime()
      try fn catch { case e: Throwable =>
        queryFails += 1
        println(s"ERROR: $e")
      }
      (System.nanoTime() - t0) / 1e9
    }
    val runs = 3
    args.foreach { name =>
      queryFails = 0
      SparkEntry.buildServe.get(name) match {
        case Some(builder) =>
          val rs = (1 to runs).map { _ =>
            var serve: () => org.apache.spark.sql.DataFrame = null
            val tb = time { serve = builder(spark, sfDir) }
            val ts = time { if (serve != null) serve().count() }
            (tb + ts, tb, ts)
          }.sortBy(_._1)
          val m = rs(runs / 2)
          if (queryFails > 0) println(s"BENCHSOME $name FAILED ($queryFails runs threw)")
          else println(f"BENCHSOME $name med=${m._1}%.3f build=${m._2}%.3f serve=${m._3}%.3f")
        case None =>
          val fn = SparkEntry.queries(name)
          val ts = (1 to runs).map(_ => time(fn(spark, sfDir).count())).sorted
          if (queryFails > 0) println(s"BENCHSOME $name FAILED ($queryFails runs threw)")
          else println(f"BENCHSOME $name med=${ts(runs / 2)}%.3f min=${ts.head}%.3f max=${ts.last}%.3f")
      }
      if (queryFails > 0) anyFailed = true
    }
    spark.stop()
    if (anyFailed) sys.exit(1)
  }
}
