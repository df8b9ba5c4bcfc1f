package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** [[SparkEntry.cached]], the one cache behind every shared frame,
  * count, model fit and Bloom name of the query harness: each entry is
  * built exactly once, builds may nest, and a failed build is retried.
  * Release is covered by CacheHygieneSpec's `releaseSharedFrames` test. */
class SharedStateSpec extends SparkSpec {

  test("8 threads asking for one key run its build once") {
    val dir = "/spec/shared-state/once"
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            SparkEntry.cached(spark, dir, "fit") {
              builds.incrementAndGet()
              Thread.sleep(200) // a slow fit: the other threads must wait
              new Object
            }
          }
        })
      }
      start.countDown()
      val values = results.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally {
      pool.shutdownNow()
      SparkEntry.releaseSharedFrames(spark, dir)
    }
  }

  test("a build that asks for other keys inside itself completes") {
    val dir = "/spec/shared-state/nested"
    try {
      // Many outer keys, each building an inner and an innermost key
      // from inside its own build (the dim → matched → match → web/abr
      // shape): enough keys that some share a hash bin with the key
      // being built.
      (0 until 200).foreach { i =>
        val v = SparkEntry.cached(spark, dir, s"outer-$i") {
          SparkEntry.cached(spark, dir, s"inner-$i") {
            SparkEntry.cached(spark, dir, s"innermost-$i")(s"$i")
          } + "!"
        }
        assert(v == s"$i!")
      }
    } finally SparkEntry.releaseSharedFrames(spark, dir)
  }

  test("a build that throws is not cached: the next access retries, then hits") {
    val dir = "/spec/shared-state/retry"
    val builds = new AtomicInteger
    def get(): String = SparkEntry.cached(spark, dir, "flaky") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("boom")
      "built"
    }
    try {
      assert(intercept[IllegalStateException](get()).getMessage == "boom")
      assert(get() == "built")
      assert(get() == "built")
      assert(builds.get == 2)
    } finally SparkEntry.releaseSharedFrames(spark, dir)
  }
}
