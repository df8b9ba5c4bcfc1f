package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: the result of each query in [[SparkEntry.registry]]
  * → parquet, plus oracle_sql.json (the oracles the registry declares),
  * for the DuckDB compare (`tools/compare_oracle.py`).
  * `GRAFT_VERIFY_QUERIES=a,b` restricts both to the named queries, for
  * fast targeted local gates; an unknown name fails before any query
  * runs. A failed query does not stop the dump; after writing everything
  * it can, Verify lists the failed names on stderr and exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = sys.env.get("GRAFT_VERIFY_QUERIES") match {
      case Some(v) => QuerySpec.resolve("GRAFT_VERIFY_QUERIES",
        v.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct,
        SparkEntry.byName)
      case None => SparkEntry.registry
    }
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = selected.flatMap { q =>
      try {
        q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        Some(q.name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val names = selected.map(_.name).toSet
    val json = SparkEntry.oracleSql.filter(kv => names(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
