package graft

import graft.dedup.ConnectedComponents

/** ConnectedComponents.label finishes on the driver once the edge set
  * fits: labeling a small graph that needs several star-contraction
  * rounds costs a fixed handful of Spark jobs, not a checkpoint, a
  * signature probe and the AQE stage jobs of every round. */
class ConnectedComponentsJobSpec extends SparkSpec {
  import spark.implicits._

  test("chains of 2-8 nodes label in at most 10 jobs") {
    // chains of 2..8 nodes laid end to end, plus isolated nodes
    val starts = (2 to 8).scanLeft(0L)(_ + _).init
    val edges = (2 to 8).zip(starts).flatMap { case (len, s) =>
      (s until s + len - 1).map(x => (x + 1, x))
    }
    val nodes = (0L until starts.last + 8 + 10).toDF("id")
    var labels = Map.empty[Long, Long]
    val jobs = jobsOf {
      labels = ConnectedComponents.label(nodes, edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val want = (2 to 8).zip(starts).flatMap { case (len, s) =>
      (s until s + len).map(_ -> s)
    }.toMap
    assert(labels.filter { case (n, _) => want.contains(n) } === want)
    assert(labels.forall { case (n, c) => want.contains(n) || n == c })
    // the driver finish takes 8; the per-round loop spends 45 on this graph
    assert(jobs <= 10, s"labeling took $jobs Spark jobs")
  }
}
