package graft.perfbench

import scala.util.Random

/** One training document: text, a 16-dim embedding and a media payload. */
final case class Doc(doc_id: Long, text: String, embedding: Seq[Float], media: String)

/** A seeded multimodal corpus in groups of six consecutive doc ids:
  *  - v0 base: admitted;
  *  - v1 the same text: rejected `exact_batch`;
  *  - v2 the base text plus a tail (same 120-char shingle window, so the
  *    same LSH bands): rejected `near_batch`;
  *  - v3 new text, the base's embedding: rejected `embed_batch`;
  *  - v4 new text and embedding, plus a media payload whose average
  *    hash is one bit chosen per group, so all v4 payloads lie within
  *    Hamming distance 2 of each other: only the first v4 of the run is
  *    admitted; in every later epoch the lowest v4 is rejected
  *    `media_corpus` and the rest `media_batch`;
  *  - v5 new text, embedding and no hashable media: admitted.
  * Epochs hold whole groups, so every text and embedding duplicate
  * meets its original in the same batch. */
final case class Corpus(docs: IndexedSeq[Doc], groupsPerEpoch: Int, epochs: Int) {
  def epoch(e: Int): IndexedSeq[Doc] = docs.slice(e * groupsPerEpoch * 6, (e + 1) * groupsPerEpoch * 6)

  /** Planted truth after `n` epochs: admitted ids and ledger reason counts. */
  def admitted(n: Int): Set[Long] =
    docs.take(n * groupsPerEpoch * 6).collect {
      case d if d.doc_id % 6 == 0 || d.doc_id % 6 == 5 || d.doc_id == 4 => d.doc_id
    }.toSet

  def reasons(n: Int): Map[String, Long] = {
    val g = n.toLong * groupsPerEpoch
    Map("exact_batch" -> g, "near_batch" -> g, "embed_batch" -> g,
      "media_batch" -> (g - n), "media_corpus" -> (n - 1L)).filter(_._2 > 0)
  }
}

object CorpusGen {
  val Dim = 16
  private val MediaBits = 8

  def apply(seed: Long, groupsPerEpoch: Int, epochs: Int): Corpus = {
    val rng = new Random(seed)
    def token() = f"${rng.nextInt(0x10000)}%04x"
    def words(n: Int) = Seq.fill(n)(token()).mkString(" ")
    def vec() = Seq.fill(Dim)(rng.nextGaussian().toFloat)
    val mediaShift = rng.nextInt(MediaBits)
    val docs = (0 until groupsPerEpoch * epochs).flatMap { g =>
      val id = g * 6L
      val base = words(30) // 149 chars: the 120-char shingle window is all base
      val emb = vec()
      val bit = (g + mediaShift) % MediaBits
      // 32 blocks of 10 bytes; block `bit` bright, the rest dark
      val media = "a" * (bit * 10) + "z" * 10 + "a" * ((31 - bit) * 10)
      Seq(
        Doc(id, base, emb, "x"),
        Doc(id + 1, base, vec(), "x"),
        Doc(id + 2, base + " " + words(4), vec(), "x"),
        Doc(id + 3, words(30), emb, "x"),
        Doc(id + 4, words(30), vec(), media),
        Doc(id + 5, words(30), vec(), "x"))
    }
    Corpus(docs, groupsPerEpoch, epochs)
  }

  /** Coarse quantizer: `n` seeded centroid vectors as (cid, ce). */
  def centroids(seed: Long, n: Int): Seq[(Long, Seq[Float])] = {
    val rng = new Random(seed ^ 0x5eed)
    (0 until n).map(c => (c.toLong, Seq.fill(Dim)(rng.nextGaussian().toFloat)))
  }
}
