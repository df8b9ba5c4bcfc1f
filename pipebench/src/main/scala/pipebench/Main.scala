package pipebench

import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Outside-in pipeline benchmark. One process, one workload:
 *
 *   pipebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --work <dir> --traces <dir>
 *
 * The inputs are generated from the seed (twice: the two digests must
 * agree) and written once, untimed. Set-up, the library's bootstrap of
 * the state the units read, runs [[SetupRuns]] times and reports
 * the median. One warm-up unit follows, then units run for `--seconds`.
 * The last unit's outputs are checked; a failed check counts in `failed`
 * and makes the exit code non-zero.
 *
 * `--trace 0` measures with tracing off and prints the end-to-end metrics.
 * `--trace 1` alternates traced and untraced units and prints the per-layer
 * metrics, including the tracing overhead.
 *
 * The last stdout line is the result JSON; the lines before it repeat
 * every metric in readable form and list the output digests.
 */
object Main {

  /** Hard stop for the measured loop, well inside the per-run limit. */
  val MaxLoopSeconds = 110.0

  /** Measured units a run takes at least. Set so that the unit count, not
    * the clock, ends a run: a count that flips between runs would move
    * the medians. */
  val MinUnits = 2

  /** Set-ups a run makes; the first is cold, `setup_s` is the median. */
  val SetupRuns = 3

  /** Every span name the workloads open, in report order. */
  val Spans: Seq[String] = Seq("etl.clean_web", "etl.clean_abr", "etl.match",
    "etl.golden", "etl.stats", "operators.upsert", "operators.scd2",
    "dedup.lsh", "dedup.cc", "dedup.keepers", "text.lr_train",
    "text.predict", "io.write")

  /** Median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  private def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** One measured unit. Traced units also carry `amp`, bytes written per
    * input byte, and the workload's [[Workload.info]] counts, both taken
    * after the unit's timer stopped. */
  final case class Measured(seconds: Double, cpuS: Double, out: RepOut, amp: Double,
      info: Map[String, Double])

  def main(args: Array[String]): Unit = {
    def need(n: String) = arg(args, n).getOrElse(
      throw new IllegalArgumentException(s"missing $n"))
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val traced = need("--trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val work = Paths.get(need("--work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    Env.rmTree(work)
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("pipebench")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val env = new Env(spark, work)
    val w = Workload(workload, env, seed)
    var attempted = 0
    var failedOps = 0
    def record(msgs: Seq[String]): Unit = {
      attempted += 1
      if (msgs.nonEmpty) {
        failedOps += 1
        msgs.foreach(m => System.err.println(s"CHECK FAILED: $m"))
      }
    }

    // ---- inputs, generated twice (the digests must agree) and written once
    val gen0 = System.nanoTime()
    record(Seq(w.generate(), w.generate()).distinct match {
      case Seq(_) => Nil
      case ds => Seq(s"seed $seed generated different inputs: ${ds.mkString(", ")}")
    })
    w.load(env.path("inputs"))
    val loadS = (System.nanoTime() - gen0) / 1e9

    // ---- set-up, several times; the last one's state stays for the units
    val setups = (0 until SetupRuns).map { i =>
      val s0 = System.nanoTime()
      w.setup(env.path(s"setup$i"))
      val dt = (System.nanoTime() - s0) / 1e9
      if (i > 0) env.rm(env.path(s"setup${i - 1}"))
      dt
    }
    val setupS = median(setups)

    // ---- warm-up unit, untimed and unchecked
    val off = new Tracer(spark, enabled = false)
    var unit = 0
    val warm0 = System.nanoTime()
    w.release(w.rep(unit, off))
    unit += 1
    val warmS = (System.nanoTime() - warm0) / 1e9
    val loop0 = System.nanoTime()

    def runUnit(tr: Tracer): Measured = {
      tr.beginRep()
      val c0 = cpuNanos()
      val s0 = System.nanoTime()
      val out = tr.span("rep")(w.rep(unit, tr))
      val dt = (System.nanoTime() - s0) / 1e9
      val cpu = (cpuNanos() - c0) / 1e9
      tr.endRep()
      val amp = if (!tr.enabled) 0.0 else
        out.outputs.map(o => env.bytes(o._2)).sum.toDouble /
          math.max(1L, out.inputs.map(env.bytes).sum)
      unit += 1
      Measured(dt, cpu, out, amp, if (tr.enabled) w.info(out) else Map.empty)
    }
    /** Units for at least `--seconds` and `min` units, unit `n` traced by
      * `pick(n)`; the last one is checked after the loop. */
    def loop(min: Int, pick: Int => Tracer): Seq[(Tracer, Measured)] = {
      val l0 = System.nanoTime()
      val b = Seq.newBuilder[(Tracer, Measured)]
      var n = 0
      var last: Measured = null
      def el = (System.nanoTime() - l0) / 1e9
      while ((el < seconds || n < min) && el < MaxLoopSeconds) {
        if (last != null) w.release(last.out)
        val t = pick(n)
        last = runUnit(t)
        b += t -> last
        n += 1
      }
      record(w.check(last.out))
      w.release(last.out)
      b.result()
    }
    heapPools.foreach(_.resetPeakUsage())

    val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    if (!traced) {
      val units = loop(MinUnits, _ => off).map(_._2)
      val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val runS = median(units.map(_.seconds))
      val (precision, recall) = w.quality
      metrics ++= Seq(
        "setup_s" -> (setupS, "s"),
        "run_s" -> (runS, "s"),
        "rows_per_s" -> (median(units.map(u => u.out.rows / u.seconds)), "1/s"),
        "cpu_s" -> (median(units.map(_.cpuS)), "s"),
        "precision" -> (precision, "ratio"),
        "recall" -> (recall, "ratio"))
      println(s"info workload=$workload seed=$seed cores=$cores units=${units.size} " +
        s"session_s=$sessionS inputs_s=$loadS setup_runs=${setups.mkString(",")} " +
        s"warmup_s=$warmS loop_s=${(System.nanoTime() - loop0) / 1e9} " +
        s"unit_s=${units.map(_.seconds).mkString(",")}")
      val fail = if (attempted == 0) 0.0 else failedOps.toDouble / attempted
      val kind = if (workload == "etl_bulk") "match" else "dedup"
      println(s"metric fail_ratio $fail ratio")
      println(s"metric peak_heap_mb $peakHeapMb MB")
      println(s"metric ${kind}_precision $precision ratio")
      println(s"metric ${kind}_recall $recall ratio")
      w match {
        case c: CorpusDedup => println(s"metric lr_accuracy ${c.accuracy} ratio")
        case _ =>
      }
    } else {
      // traced and untraced units alternate, so both sample the same
      // stretch of JIT warm-up and their ratio is the tracing overhead
      val tr = new Tracer(spark, enabled = true)
      val all = loop(4, n => if (n % 2 == 0) tr else off)
      val tracedUnits = all.collect { case (t, u) if t eq tr => u }
      val plain = all.collect { case (t, u) if t eq off => u }
      // read before the listener goes: the drain delivers the last events
      val counters = tr.counters()
      tr.writeJsonl(Paths.get(need("--traces")).resolve(s"$workload-$seed.jsonl"))
      tr.close()
      val reps = tracedUnits.indices.map(i => counters.getOrElse(i, Map.empty))
      def med(f: Map[String, tr.Counters] => Double): Double = median(reps.map(f))
      Spans.foreach { s =>
        def m(c: tr.Counters => Double) = med(r => r.get(s).map(c).getOrElse(0.0))
        metrics ++= Seq(
          s"$s.self_s" -> (m(_.selfS), "s"),
          s"$s.jobs" -> (m(_.jobs.toDouble), "count"),
          s"$s.tasks" -> (m(_.tasks.toDouble), "count"),
          s"$s.shuffle_mb" -> (m(_.shuffleMb), "MB"),
          s"$s.spill_mb" -> (m(_.spillMb), "MB"),
          s"$s.task_skew" -> (m(_.taskSkew), "ratio"))
        // writes return no frame, so only computing spans count rows
        if (s != "io.write") metrics += s"$s.rows_out" -> (m(_.rowsOut.toDouble), "count")
      }
      def info(k: String) = median(tracedUnits.map(_.info.getOrElse(k, 0.0)))
      val pairs = info("candidate_pairs")
      metrics ++= Seq(
        "etl.match.candidate_pairs" -> (pairs, "count"),
        "etl.match.accept_ratio" -> (if (pairs == 0) 0.0 else info("matches") / pairs, "ratio"),
        "io.write.amp" -> (median(tracedUnits.map(_.amp)), "ratio"),
        "text.lr_train.jobs_per_iter" -> (
          if (info("iters") == 0) 0.0 else med(r => r.get("text.lr_train")
            .map(_.jobs.toDouble).getOrElse(0.0)) / info("iters"), "count"),
        "trace.overhead_ratio" -> (
          median(tracedUnits.map(_.seconds)) / median(plain.map(_.seconds)), "ratio"))
    }

    w.digests.foreach { case (k, v) => println(s"digest $k $v") }
    metrics.foreach { case (k, (v, u)) => println(s"metric $k $v $u") }
    val ok = failedOps == 0
    val json = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failedOps, "metrics": $json}""")
    spark.stop()
    Env.rmTree(work)
    if (!ok) sys.exit(1)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else java.lang.Double.toString(v)
}
