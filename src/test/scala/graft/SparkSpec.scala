package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** Shared local SparkSession for test suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Spark jobs started while `body` runs, counted through a job group so
    * jobs of anything else sharing the session are not charged. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "job-budget"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder().master("local[4]").appName("graft-test"),
      shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
