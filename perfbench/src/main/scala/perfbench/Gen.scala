package perfbench

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. The same seed gives the same inputs; the
  * engine only ever sees what these produce.
  */
object Gen {

  /** The 30 most frequent words of the sf0.1 `documents` table (the
    * word list `graft.ScaleCheck` derives its 10x corpus from).
    */
  val vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** A document; `nearDupOf` is the id of the document it was copied
    * from with one word replaced (a planted near duplicate), or -1.
    */
  final case class Doc(id: Long, text: String, lang: String, source: String,
                       nChars: Long, nearDupOf: Long = -1L)

  private def words(rnd: scala.util.Random, n: Int): String =
    Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")

  /** Held-out "evaluation" documents that the corpus is decontaminated
    * against: `n` documents of 60 words.
    */
  def evalDocs(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    (0 until n).map { i =>
      val t = words(rnd, 60)
      Doc(1000000000L + i, t, "en", "eval", t.length.toLong)
    }
  }

  /** `graft.ScaleCheck`'s corpus recipe: 10-100 words per document, 20
    * sources, 41/15/15/15/14% en/zh/fr/es/de, 5% near duplicates (an
    * earlier document with one word replaced by `dup`) and 1% exact
    * duplicates. Additionally 0.5% of documents copy an evaluation
    * document with one word replaced, so decontamination has work to do.
    */
  def corpus(seed: Long, n: Int, evals: IndexedSeq[Doc]): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val langs = Array("en", "zh", "fr", "es", "de")
    val langCum = Array(0.41, 0.56, 0.71, 0.86, 1.0)
    val texts = new ArrayBuffer[String](n)
    def oneWordReplaced(src: String): String = {
      val w = src.split(' ')
      w(rnd.nextInt(w.length)) = "dup"
      w.mkString(" ")
    }
    (0 until n).map { i =>
      val r = rnd.nextDouble()
      var parent = -1L
      val text =
        if (i > 0 && r < 0.05) {
          parent = rnd.nextInt(i).toLong
          oneWordReplaced(texts(parent.toInt))
        }
        else if (i > 0 && r < 0.06) texts(rnd.nextInt(i))
        else if (evals.nonEmpty && r < 0.065)
          oneWordReplaced(evals(rnd.nextInt(evals.length)).text)
        else words(rnd, 10 + rnd.nextInt(91))
      texts += text
      val lang = langs(langCum.indexWhere(rnd.nextDouble() < _))
      Doc(i.toLong, text, lang, s"src${rnd.nextInt(20)}", text.length.toLong, parent)
    }
  }

  // ------------------------------------------------------ ingest feeds
  //
  // Batches shaped like the reference's feeds. Each batch draws its rows
  // from fixed key universes (like the TPC-H customer/supplier/part and
  // orders keys the q245/q256 lifecycle queries derive theirs from), so
  // listings reappear, get delisted and come back, and tables stay
  // bounded while the loop runs.

  final case class RentalUnit(unitNo: Int, rate: String, beds: String,
                              baths: Int, size: String)
  final case class Event(id: Long, kind: String, amount: Long)

  val customers = 600
  val suppliers = 120
  val parts = 400
  val orders = 3000
  val buildings = 150

  /** Key subsets for listings batch `b`: each key is present with
    * probability 0.8, so about a fifth of the standing listings are
    * delisted per batch and most come back later.
    */
  def listingKeys(seed: Long, b: Int): (Seq[Int], Seq[Int], Seq[Int]) = {
    val rnd = new scala.util.Random(seed * 1000003L + b)
    def pick(n: Int) = (1 to n).filter(_ => rnd.nextDouble() < 0.8)
    (pick(customers), pick(suppliers), pick(parts))
  }

  /** Order keys of permits batch `b`: 400 orders from the universe. */
  def permitKeys(seed: Long, b: Int): Seq[Int] = {
    val rnd = new scala.util.Random(seed * 2000003L + b)
    Seq.fill(400)(1 + rnd.nextInt(orders)).distinct.sorted
  }

  /** Rental buildings of batch `b` with their units. */
  def rentalUnits(seed: Long, b: Int): Seq[(Int, Seq[RentalUnit])] = {
    val rnd = new scala.util.Random(seed * 3000017L + b)
    (1 to buildings).filter(_ => rnd.nextDouble() < 0.4).map { k =>
      k -> (1 to 1 + rnd.nextInt(4)).map { u =>
        val rate = if (rnd.nextDouble() < 0.05) "call"
          else s"$$${900 + 50 * rnd.nextInt(30)}"
        val beds = if (rnd.nextDouble() < 0.05) "studio" else (1 + rnd.nextInt(3)).toString
        RentalUnit(u, rate, beds, 1 + rnd.nextInt(2), s"${400 + 25 * rnd.nextInt(40)} sqft")
      }
    }
  }

  /** One JSONL micro-batch of events for the stream feed. */
  def events(seed: Long, b: Int, n: Int): Seq[Event] = {
    val rnd = new scala.util.Random(seed * 4000037L + b)
    (0 until n).map { i =>
      Event(b.toLong * 100000 + i, s"k${rnd.nextInt(12)}", 1 + rnd.nextInt(1000).toLong)
    }
  }
}
