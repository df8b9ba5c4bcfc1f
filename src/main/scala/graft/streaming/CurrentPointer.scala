package graft.streaming

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/** The two-line `<root>/CURRENT` commit pointer behind
  * [[StreamingAnnIndex.publish]] and [[StreamingScd2]]'s epoch commit.
  * [[write]] writes `CURRENT.tmp` and RENAMES it over `CURRENT` with
  * `Options.Rename.OVERWRITE` (FileContext — the atomic-rename contract
  * on POSIX and HDFS), so a reader sees the old pointer or the new one,
  * never a partial file; an orphan tmp left by a crash before the rename
  * is overwritten by the next write. */
private[streaming] object CurrentPointer {

  def write(spark: SparkSession, root: String, first: String,
      second: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(root)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val tmp = new Path(dir, "CURRENT.tmp")
    val out = fs.create(tmp, true)
    out.write(s"$first\n$second\n".getBytes("UTF-8"))
    out.close()
    FileContext.getFileContext(dir.toUri, conf)
      .rename(tmp, new Path(dir, "CURRENT"), Options.Rename.OVERWRITE)
  }

  /** The committed pair, or None when no pointer exists. A pointer that
    * is not exactly two non-empty newline-terminated lines (torn,
    * appended to, or hand-edited) is rejected: serving from it would
    * resolve a wrong or partial path. */
  def read(spark: SparkSession, root: String): Option[(String, String)] = {
    val cur = new Path(root, "CURRENT")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cur)) return None
    val bytes = new java.io.ByteArrayOutputStream()
    org.apache.hadoop.io.IOUtils.copyBytes(fs.open(cur), bytes, 4096, true)
    new String(bytes.toByteArray, "UTF-8").split("\n", -1) match {
      case Array(first, second, "") if first.nonEmpty && second.nonEmpty =>
        Some((first, second))
      case _ => throw new IllegalArgumentException(
        s"malformed CURRENT pointer at $root: expected exactly two non-empty lines")
    }
  }
}
