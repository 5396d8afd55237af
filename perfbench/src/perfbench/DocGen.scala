package perfbench

import scala.collection.mutable

/** Seeded document stream for the curation workload, with planted
  * exact duplicates, near-duplicates and eval-suite overlap.
  *
  * Fresh documents are 40-60 words drawn Zipf-skewed from a synthetic
  * vocabulary (always with a stopword, so they pass the quality gate).
  * Planted kinds, by rate:
  *   - `exact`: a verbatim copy of an earlier fresh document;
  *   - `near`: an earlier fresh document with two words replaced, close
  *     enough for MinHash banding to pair it;
  *   - `suite`: an eval-suite item verbatim, so the contamination screen
  *     flags it.
  * Ids increase with arrival, so a copy always arrives after its original.
  */
final case class GenDoc(id: Long, text: String, kind: String)

object DocGen {
  /** Planted rates. No measured stream backs them: they are assumptions,
    * chosen so each kind shows up dozens of times per batch. */
  val exactRate = 0.06
  val nearRate = 0.06
  val suiteRate = 0.03
}

final class DocGen(seed: Long) {
  import DocGen._
  private val r = new java.util.Random(seed * 104729L + 3L)
  private val vocab: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze",
      "bo", "du", "fe", "gi", "ha", "jo", "pu")
    (0 until 6000).map { i =>
      val n = 2 + i % 3
      (0 until n).map(k => syl((i / math.pow(16, k).toInt + k * 7) % 16))
        .mkString + (i % 97).toString
    }.distinct
  }
  private val zipf = new Zipf(vocab.size, 0.9)
  private val stop = Seq("the", "of", "a")

  private def fresh(): String = {
    val n = 40 + r.nextInt(21)
    val ws = Array.fill(n)(vocab(zipf.sample(r)))
    ws(r.nextInt(n)) = stop(r.nextInt(stop.size))
    ws.mkString(" ")
  }

  /** Eval suite: 40 fresh-shaped items, registered before the stream. */
  val suite: IndexedSeq[String] = IndexedSeq.fill(40)(fresh())

  private val recentFresh = mutable.ArrayBuffer.empty[String]
  private var nextId = 0L

  def batch(size: Int): IndexedSeq[GenDoc] = IndexedSeq.fill(size) {
    val id = nextId; nextId += 1
    val x = r.nextDouble()
    if (x < exactRate && recentFresh.nonEmpty)
      GenDoc(id, recentFresh(r.nextInt(recentFresh.size)), "exact")
    else if (x < exactRate + nearRate && recentFresh.nonEmpty) {
      val ws = recentFresh(r.nextInt(recentFresh.size)).split(' ')
      (0 until 2).foreach(_ => ws(1 + r.nextInt(ws.length - 1)) =
        vocab(r.nextInt(vocab.size)))
      GenDoc(id, ws.mkString(" "), "near")
    } else if (x < exactRate + nearRate + suiteRate)
      GenDoc(id, suite(r.nextInt(suite.size)), "suite")
    else {
      val t = fresh()
      if (recentFresh.size < 4000) recentFresh += t
      else recentFresh(r.nextInt(recentFresh.size)) = t
      GenDoc(id, t, "fresh")
    }
  }
}
