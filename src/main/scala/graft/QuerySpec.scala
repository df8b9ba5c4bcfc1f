package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query, declared once in [[SparkEntry.registry]]: its
  * name, its body, its DuckDB oracle and the harness tags.
  *
  * `build` is set for the persisted-artifact queries: it runs the build
  * phase (train + write the artifact) and returns the serve thunk that
  * reads the artifact back and queries it; `run` is then exactly
  * build-then-serve. The oracle SQL is rendered only when
  * [[SparkEntry.oracleSql]] asks for it. */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    build: Option[(SparkSession, String) => () => DataFrame],
    tags: Set[QuerySpec.Tag],
    oracleSql: Option[() => String] = None) {
  require(build.isDefined || !tags.exists(_.isInstanceOf[QuerySpec.SoakServe]),
    s"$name: a SoakServe row needs a build-then-serve query")

  /** This query, checked against the DuckDB `sql`. */
  def oracle(sql: => String): QuerySpec = copy(oracleSql = Some(() => sql))
}

object QuerySpec {
  sealed trait Tag

  /** A guarded exact O(n²) baseline: a documented correctness anchor with
    * a fail-fast size guard, NOT the scale path. [[Bench]] reports these
    * as `exact_baseline_sec`, outside `scale_path_sec`, so a regression in
    * the scale-path operators is never masked by baseline time. */
  case object ExactBaseline extends Tag

  /** A row of the [[ScaleSoak]] ladder under the query's own name: the
    * whole query (build then serve, for a persisted artifact) is timed. */
  case object Soak extends Tag

  /** A serve-only row of the [[ScaleSoak]] ladder, named `row`: the
    * artifact is built once per factor OUTSIDE the timed region and only
    * the read path is laddered, so the serving α is measured, not
    * inherited from the conflated build+serve query. */
  final case class SoakServe(row: String) extends Tag

  /** The query's plan is a pure map-side projection: under a `count()`
    * action Catalyst prunes the kernel expressions entirely, so a flat α
    * would prove scan-only plan shape, not kernel throughput. Its soak
    * rows are timed by a digest aggregate instead — xxhash64 folded over
    * EVERY output column — which forces each kernel to run over every
    * row while adding only one O(1)-row aggregate. The fold is bit_xor,
    * not sum: sum over full-range 64-bit hashes overflows under ANSI
    * mode, xor cannot. */
  case object Digest extends Tag

  def query(name: String, tags: Tag*)(
      run: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, run, None, tags.toSet)

  def served(name: String, tags: Tag*)(
      build: (SparkSession, String) => () => DataFrame): QuerySpec =
    QuerySpec(name, (s, dir) => build(s, dir)(), Some(build), tags.toSet)

  /** Name → entry. A name declared more than once fails with an
    * IllegalArgumentException naming every such name. */
  def index[A](what: String, entries: Seq[(String, A)]): Map[String, A] = {
    val twice = entries.groupBy(_._1).collect {
      case (name, es) if es.size > 1 => name
    }.toSeq.sorted
    if (twice.nonEmpty) throw new IllegalArgumentException(
      s"$what: name(s) declared more than once: ${twice.mkString(", ")}")
    entries.toMap
  }

  /** The entries `names` select, in their order. An unknown name fails
    * with an IllegalArgumentException naming every unknown one. */
  def resolve[A](what: String, names: Seq[String], known: Map[String, A]): Seq[A] = {
    val unknown = names.filterNot(known.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"$what: unknown query name(s): ${unknown.mkString(", ")}")
    names.map(known)
  }
}
