package pipebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/**
 * Span tracer owned by the benchmark. It wraps each public library call
 * in a span and gives the span its own Spark job group, so a
 * [[SparkListener]] can charge every job, task, shuffle byte and spill to
 * the span that caused it. No library code is touched.
 *
 * Disabled (the untraced run), `span` only runs its body and `output`
 * returns the frame untouched: no listener, no job groups, no forced
 * materialization. Enabled, `output` persists the frame and counts it
 * inside the span, so the span's work runs at its own boundary instead of
 * inside whichever later action first needs it.
 *
 * Spans stay in memory; [[writeJsonl]] writes them out at the end.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  final case class Span(id: Int, name: String, parent: Int, rep: Int,
      startNs: Long, var endNs: Long = 0L, var rowsOut: Long = 0L)

  /** Listener-side counters of one span. Stage task durations are kept
    * per stage for the skew counter. */
  final class Acc {
    var jobs = 0
    var tasks = 0
    var shuffleBytes = 0L
    var spillBytes = 0L
    val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }

  private val GroupPrefix = "pipebench-span-"
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var rep = -1
  private val persisted = mutable.ArrayBuffer[DataFrame]()

  // written on the listener thread, read after ListenerDrain
  private val accs = mutable.Map[Int, Acc]()
  private val stageSpan = mutable.Map[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith(GroupPrefix)).foreach { g =>
        val id = g.stripPrefix(GroupPrefix).toInt
        accs.synchronized {
          accs.getOrElseUpdate(id, new Acc).jobs += 1
          e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = id)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = accs.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val a = accs.getOrElseUpdate(id, new Acc)
        a.tasks += 1
        a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
          e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  def close(): Unit =
    if (enabled) spark.sparkContext.removeSparkListener(listener)

  /** Start a new repetition: later spans belong to it. */
  def beginRep(): Unit = rep += 1

  /** Release the frames [[output]] persisted during the repetition. */
  def endRep(): Unit = {
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        rep, System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A span whose result is a frame; traced, the frame is computed in
    * full (persist + count builds every column) before the span ends. */
  def output(name: String)(body: => DataFrame): DataFrame =
    span(name) {
      val df = body
      if (!enabled) df
      else {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        persisted += p
        open.head.rowsOut += p.count()
        p
      }
    }

  /** Per-repetition counters of every span name. */
  final case class Counters(selfS: Double, jobs: Int, tasks: Int,
      shuffleMb: Double, spillMb: Double, taskSkew: Double, rowsOut: Long)

  def counters(): Map[Int, Map[String, Counters]] = {
    org.apache.spark.pipebench.ListenerDrain(spark.sparkContext)
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    accs.synchronized {
      spans.groupBy(_.rep).map { case (r, ss) =>
        r -> ss.groupBy(_.name).map { case (name, group) =>
          val as = group.flatMap(s => accs.get(s.id))
          val stages = as.flatMap(_.stageTaskMs.toSeq)
          // skew of the span's dominant stage: the one with the most
          // summed task time
          val skew = if (stages.isEmpty) 1.0 else {
            val ms = stages.maxBy(_._2.sum)._2.sorted
            val med = ms(ms.size / 2)
            if (med <= 0) 1.0 else ms.last.toDouble / med
          }
          name -> Counters(
            selfS = group.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9,
            jobs = as.map(_.jobs).sum,
            tasks = as.map(_.tasks).sum,
            shuffleMb = as.map(_.shuffleBytes).sum / 1048576.0,
            spillMb = as.map(_.spillBytes).sum / 1048576.0,
            taskSkew = skew,
            rowsOut = group.map(_.rowsOut).sum)
        }
      }
    }
  }

  /** One JSON line per span: name, parent, repetition, times, counters. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    org.apache.spark.pipebench.ListenerDrain(spark.sparkContext)
    val lines = accs.synchronized {
      spans.map { s =>
        val a = accs.getOrElse(s.id, new Acc)
        s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"rep":${s.rep},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs},"rows_out":${s.rowsOut},""" +
          s""""jobs":${a.jobs},"tasks":${a.tasks},"shuffle_bytes":${a.shuffleBytes},""" +
          s""""spill_bytes":${a.spillBytes}}"""
      }
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
