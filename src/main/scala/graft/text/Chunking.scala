package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Overlapping token-window chunking — the context-preparation step for
 * RAG indexing and long-document training: each document becomes
 * ceil(n/step) windows of `size` tokens starting every
 * `step = size − overlap` tokens (the final windows may be short).
 *
 * Map-side only: windows are produced by one explode over an in-row
 * sequence — no shuffle, no state; at corpus scale chunking is a free
 * pass over the scan. Chunk identity is (doc_id, chunk_idx) plus an
 * md5 of the chunk text for downstream dedup/lineage.
 */
object Chunking {

  def chunk(docs: DataFrame, textCol: String, idCol: String,
      chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val step = chunkSize - overlap
    val toks = TextAnalysis.tokens(col(textCol))
    val n = size(col("toks"))
    // nchunks = ceil(n / step) in integer math (identical across engines)
    docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .where(n > 0)
      .withColumn("nchunks",
        floor((n + lit(step - 1)).cast("long") / lit(step.toLong)))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("nchunks") - 1)).as("chunk_idx"))
      .withColumn("w", slice(col("toks"),
        (col("chunk_idx") * step + 1).cast("int"), lit(chunkSize)))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("w")).as("n_tokens"),
        md5(concat_ws(" ", col("w"))).as("chunk_md5"))
  }
}
