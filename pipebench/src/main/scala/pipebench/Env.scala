package pipebench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}

/** Session plus the scratch tree one benchmark process works in, and the
  * helpers every workload shares: writing generated rows, reading them
  * back, output digests and byte counts. */
final class Env(val spark: SparkSession, val work: Path) {

  def path(parts: String*): String = parts.foldLeft(work)(_.resolve(_)).toString

  def writeRows(rows: IndexedSeq[Seq[Any]], schema: StructType, to: String): Unit =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)
      .write.mode("overwrite").parquet(to)

  def read(from: String): DataFrame = spark.read.parquet(from)

  /** The planted truth as a tab-separated file, one row per line. Only
    * the benchmark reads it, so it stays out of Spark. */
  def writeTruth(rows: IndexedSeq[Seq[Any]], to: String): Unit = {
    val p = Paths.get(to)
    Files.createDirectories(p.getParent)
    Files.write(p, rows.map(_.mkString("\t")).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** One aggregation job over `df`: the order-free digest of every
    * column of every row (row count, xor of the rows' xxhash64 and the sum
    * of their low 32 bits, which keeps duplicate rows from cancelling
    * under xor) plus the named `extras` (long-valued aggregates). Equal
    * digests on two commits mean identical outputs. */
  def audit(df: DataFrame, extras: (String, Column)*): Audit = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), (bit_xor(h) +: sum(h.bitwiseAND(0xffffffffL)) +:
      extras.map(_._2.cast("long"))): _*).head()
    def long(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Audit(s"${long(0)}:${long(1)}:${long(2)}", long(0),
      extras.indices.map(i => extras(i)._1 -> long(3 + i)).toMap)
  }

  /** Bytes of the data files under `p` (parquet parts, not markers). */
  def bytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }

  def rm(p: String): Unit = Env.rmTree(Paths.get(p))

  /** Σ over blocking keys of web rows × ABR rows: the number of pairs the
    * blocked join scores. */
  def candidatePairs(web: DataFrame, abr: DataFrame): Long = {
    val w = web.groupBy("block_key").agg(count(lit(1)).as("w"))
    val a = abr.groupBy("block_key").agg(count(lit(1)).as("a"))
    val r = w.join(a, "block_key").agg(sum(col("w") * col("a"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}

/** Result of [[Env.audit]]. */
final case class Audit(digest: String, rows: Long, extra: Map[String, Long])

object Env {
  /** Rows whose `c` is null or outside [0, 1]. */
  def outsideUnit(c: Column): Column =
    sum(when(c.isNull || c < 0.0 || c > 1.0, 1L).otherwise(0L))

  def rmTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }

  val Docs: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("quality", DoubleType, nullable = false)))
}
