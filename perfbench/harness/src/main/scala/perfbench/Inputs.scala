package perfbench

import graft.ScaleData

/** The replica transform of [[graft.ScaleData]] that a benchmark seed
  * selects: the key offset, the document-text letter substitution and the
  * signed permutation of the embedding dimensions. run.py applies it to the
  * base tables with the writer that wrote them, so a seed changes content
  * but not the file layout (the engine sizes scan fan-out and shuffle
  * buckets from file metadata).
  */
object Inputs {
  /** Replica indexes 1..99: the range ScaleData's ×100 corpus already
    * exercises across every query (keys stay below 10^9, doc ids far below
    * the 2^32 jaccardPairs packing limit). */
  val replicas = 99

  /** Seed s != 0 maps to replica 1 + (|s| - 1) mod 99, skipping any
    * replica whose letter map is the identity (it would reproduce seed 0's
    * text). */
  def replicaOf(seed: Long): Int = {
    require(seed != 0, "seed 0 is the base tables as-is")
    var r = (1 + (math.abs(seed) - 1) % replicas).toInt
    while (ScaleData.letterMap(r) == ScaleData.letterMap(0)) r = r % replicas + 1
    r
  }

  def params(seed: Long, dim: Int): Map[String, Any] = {
    val r = replicaOf(seed)
    val (perm, signs) = ScaleData.signedPerm(r, dim)
    Map("seed" -> seed, "replica" -> r, "key_offset" -> r * ScaleData.stride,
      "letters_from" -> ScaleData.letterMap(0), "letters_to" -> ScaleData.letterMap(r),
      "perm" -> perm.toSeq, "signs" -> signs.toSeq)
  }
}
