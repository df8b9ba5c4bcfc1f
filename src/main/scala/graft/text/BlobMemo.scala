package graft.text

/** Bounded per-JVM memo of a tokenizer model parsed from its blob, shared
  * by the BPE, WordPiece and unigram kernels. The kernel's blob argument
  * is a plan LITERAL, so every row of a task sees the SAME instance: the
  * per-thread last-entry front hits on reference identity without
  * touching the (potentially sub-MB) blob text, which `blobStr` yields
  * only on a miss. Behind it a 4-entry LRU keyed by blob CONTENT: when
  * two plans with different models interleave tasks on one executor, or
  * one plan alternates two model literals per row, each distinct model
  * is still parsed once, and a long-lived JVM never keeps one entry per
  * blob it has ever seen. */
private[text] final class BlobMemo[M <: AnyRef](parse: String => M) {
  private val front = new ThreadLocal[(AnyRef, M)]
  private val lru = new java.util.LinkedHashMap[String, M](8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, M]): Boolean =
      size() > 4
  }

  def apply(blobRef: AnyRef, blobStr: => String): M = {
    val hit = front.get()
    if (hit != null && (hit._1 eq blobRef)) return hit._2
    val b = blobStr
    val parsed = lru.synchronized(lru.get(b)) match {
      case null =>
        val p = parse(b)
        lru.synchronized(lru.put(b, p))
        p
      case p => p
    }
    front.set((blobRef, parsed))
    parsed
  }
}
