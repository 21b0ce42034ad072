package graftbench

import scala.collection.mutable

/** A seeded document generator with planted duplicates, and the
  * reference model of the clean-corpus rules it is checked against.
  *
  * Kinds (shares of `Corpus.Mix`): fresh documents drawn from a Zipf
  * vocabulary; exact copies of an earlier fresh document; near copies
  * (an earlier fresh document with its last word replaced, 3-shingle
  * Jaccard well above 0.8); and low-quality documents (too short, or
  * words too long) that the quality rule drops. */
final case class Doc(id: Long, text: String, kind: String)

object Corpus {
  /** The near-copy share is that of the repo's sf0.01 documents table
    * (24 of its 500 documents have an earlier one at 3-shingle Jaccard
    * >= 0.8). That table has no exact copies and no low-quality
    * documents, so those two shares are not taken from data: they are
    * planted so that the exact-dedup and quality rules drop documents. */
  val Mix: Seq[(String, Double)] =
    Seq("fresh" -> 0.70, "exact" -> 0.15, "near" -> 0.05, "lowq" -> 0.10)

  val MinTokens = 10
  val MinWordLen = 2.0
  val MaxWordLen = 12.0
  val Threshold = 0.8
  val ShingleN = 3
}

final class Corpus(seed: Long, vocabSize: Int = 4000, zipfS: Double = 1.0) {
  private val rnd = new scala.util.Random(seed)

  val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < vocabSize) {
      val n = 3 + rnd.nextInt(7)
      seen += Iterator.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  private val cdf: Array[Double] = {
    val w = (1 to vocabSize).map(r => 1.0 / math.pow(r, zipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocabSize - 1))
  }

  private val fresh = mutable.ArrayBuffer[String]()
  private var nextId = 0L

  private def kind(): String = {
    val u = rnd.nextDouble()
    val acc = Corpus.Mix.scanLeft(("", 0.0)) { case ((_, a), (k, p)) => (k, a + p) }.tail
    if (fresh.isEmpty) "fresh" else acc.find(_._2 > u).map(_._1).getOrElse("fresh")
  }

  /** The next `n` documents in id order. */
  def next(n: Int): Seq[Doc] = (0 until n).map { _ =>
    val id = nextId; nextId += 1
    kind() match {
      case "fresh" =>
        val t = Iterator.fill(20 + rnd.nextInt(31))(word()).mkString(" ")
        fresh += t
        Doc(id, t, "fresh")
      case "exact" => Doc(id, fresh(rnd.nextInt(fresh.size)), "exact")
      case "near" =>
        val src = fresh(rnd.nextInt(fresh.size)).split(' ')
        var w = word()
        while (w == src.last) w = word()
        src(src.length - 1) = w
        Doc(id, src.mkString(" "), "near")
      case _ =>
        val t =
          if (rnd.nextBoolean()) Iterator.fill(3 + rnd.nextInt(5))(word()).mkString(" ")
          else Iterator.fill(12)(
            Iterator.fill(14)(('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
        Doc(id, t, "lowq")
    }
  }
}

/** The clean-corpus rules in plain Scala, applied in id order: quality
  * (`n_tokens ≥ 10`, mean word length in [2, 12]), then exact dedup
  * (first arrival wins), then near dedup against every earlier exact
  * survivor at 3-shingle Jaccard ≥ 0.8. This is the batch composition
  * `CleanCorpusStream` is contracted to equal on id-ordered arrival. */
final class CleanModel {
  private val seenText = mutable.HashSet[String]()
  private val survivors = mutable.ArrayBuffer[Set[String]]()
  private val postings = mutable.HashMap[String, mutable.ArrayBuffer[Int]]()

  def quality(text: String): Boolean = {
    val toks = text.split(" ", -1)
    val n = toks.length
    val mwl = (text.length - (n - 1)).toDouble / n
    n >= Corpus.MinTokens && mwl >= Corpus.MinWordLen && mwl <= Corpus.MaxWordLen
  }

  private def shingles(text: String): Set[String] =
    text.split(" ", -1).sliding(Corpus.ShingleN).map(_.mkString(" ")).toSet

  /** Feeds one document; true iff it is kept. */
  def offer(d: Doc): Boolean =
    if (!quality(d.text) || !seenText.add(d.text)) false
    else {
      val sh = shingles(d.text)
      val cands = sh.iterator.flatMap(s => postings.getOrElse(s, Nil)).toSet
      val near = cands.exists { c =>
        val o = survivors(c)
        val inter = sh.count(o.contains)
        inter.toDouble / (sh.size + o.size - inter) >= Corpus.Threshold
      }
      val idx = survivors.size
      survivors += sh
      sh.foreach(s => postings.getOrElseUpdate(s, mutable.ArrayBuffer()) += idx)
      !near
    }
}
