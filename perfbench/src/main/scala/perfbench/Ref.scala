package perfbench

/** Independent plain-Scala replays of the curation chain, written from
  * the operators' documented contracts (not by calling them), over the
  * same generated corpus the engine curates.
  */
object Ref {

  def normalize(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9]+", " ").replaceAll("\\s+", " ").trim

  def tokens(s: String): IndexedSeq[String] = {
    val n = normalize(s)
    if (n.isEmpty) IndexedSeq.empty else n.split(' ').toIndexedSeq
  }

  /** Word n-grams joined by a space; fewer than n tokens give one gram. */
  def shingles(toks: IndexedSeq[String], n: Int): IndexedSeq[String] =
    if (toks.isEmpty) IndexedSeq.empty
    else (0 to math.max(toks.length - n, 0)).map(i => toks.slice(i, i + n).mkString(" "))

  private val enMarkers = Set("the", "and", "of", "to", "is", "with", "that", "for")

  /** Gopher quality gate with `QualityRules.Config()` defaults. */
  def qualityKeep(text: String): Boolean = {
    val nrm = normalize(text)
    val toks = tokens(text)
    val n = if (nrm.isEmpty) 0L else toks.length.toLong
    def frac(x: Double) = if (n > 0) x / n.toDouble else 0.0
    val meanLen = frac(nrm.replace(" ", "").length.toDouble)
    val hashes = text.length - text.replace("#", "").length
    val ellipses = (text.length - text.replace("...", "").length) / 3.0
    val symbol = frac(hashes + ellipses)
    val alpha = frac(toks.count(_.exists(c => c >= 'a' && c <= 'z')).toDouble)
    n >= 50 && n <= 100000 && meanLen >= 3.0 && meanLen <= 10.0 &&
      symbol <= 0.1 && alpha >= 0.8 && toks.count(enMarkers).toLong >= 2
  }

  /** Repetition gate with `RepetitionRules.Config()` defaults: the
    * most frequent 2-gram's character share at most 0.10 and the
    * repeated 3-grams' character share at most 0.05.
    */
  def repetitionKeep(text: String): Boolean = {
    val toks = tokens(text)
    def counts(n: Int) = shingles(toks, n).groupBy(identity).map { case (g, v) =>
      (g, v.size.toLong, v.size.toLong * g.replace(" ", "").length)
    }.toSeq
    val top = counts(2)
    val dup = counts(3)
    val topAll = top.map(_._3).sum
    val dupAll = dup.map(_._3).sum
    val topFrac =
      if (top.isEmpty || topAll == 0) 0.0
      else top.maxBy(t => (t._2, t._1))._3.toDouble / topAll.toDouble
    val dupFrac =
      if (dup.isEmpty || dupAll == 0) 0.0
      else dup.filter(_._2 > 1).map(_._3).sum.toDouble / dupAll.toDouble
    topFrac <= 0.10 && dupFrac <= 0.05
  }

  /** Share of a document's distinct n-gram shingles found in `bench`. */
  def contamination(text: String, bench: Set[String], n: Int): Option[Double] = {
    val sh = shingles(tokens(text), n).distinct
    if (sh.isEmpty) None
    else Some(sh.count(bench).toDouble / sh.size.toDouble)
  }

  def jaccard(a: String, b: String, n: Int): Double = {
    val sa = shingles(tokens(a), n).toSet
    val sb = shingles(tokens(b), n).toSet
    val inter = sa.intersect(sb).size.toLong
    inter.toDouble / (sa.size + sb.size - inter).toDouble
  }

  /** Chance that MinHash-LSH with `bands` bands of `rows` signature
    * rows makes a pair of Jaccard similarity `j` a candidate.
    */
  def lshChance(j: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)

  /** Connected components of an undirected edge list: id -> min member. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Sorted round-robin dealing by (weight desc, key): key -> shard. */
  def balancedShards(rows: Seq[(Long, Long)], n: Int): Map[Long, Long] =
    rows.sortBy { case (key, w) => (-w, key) }.zipWithIndex
      .map { case ((key, _), i) => key -> (i % n).toLong }.toMap
}
