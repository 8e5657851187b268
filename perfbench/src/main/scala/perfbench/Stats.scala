package perfbench

/** Pure arithmetic behind the reported numbers: medians, tail
  * percentiles, interval unions and write/space amplification. No Spark
  * here, so every rule is unit-tested on its own.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail percentile with the evidence behind it. */
  final case class Tail(pct: Double, value: Double, beyond: Int, n: Int)

  /** Percentiles tried for the tail, highest first. */
  val tailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Nearest-rank percentile: the smallest sample with at least `pct`
    * percent of the samples at or below it. Returns (value, rank).
    */
  def nearestRank(sorted: IndexedSeq[Double], pct: Double): (Double, Int) = {
    val rank = math.max(1, math.ceil(pct / 100.0 * sorted.length - 1e-9).toInt)
    (sorted(rank - 1), rank)
  }

  /** The highest ladder percentile with at least ten samples beyond it.
    * With fewer than twenty samples no percentile qualifies; the median
    * is returned then, and `beyond` shows how thin the tail is.
    */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted.toIndexedSeq
    val picks = tailLadder.map { p =>
      val (v, rank) = nearestRank(s, p)
      Tail(p, v, s.length - rank, s.length)
    }
    picks.find(_.beyond >= 10).getOrElse(picks.last)
  }

  /** Total length covered by a set of half-open intervals [a, b). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    val s = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    s.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Time inside [start, end) not covered by any job interval: the
    * driver-side share of a span (planning, commit bookkeeping, waits).
    * Jobs are clipped to the span, and overlapping jobs count once, so
    * the gap is never negative.
    */
  def driverGap(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
    (end - start) - unionLength(clipped)
  }

  /** One file as seen by a directory walk. */
  final case class FileSig(bytes: Long, mtime: Long)

  /** Files (and their bytes) present in `after` that are new or changed
    * relative to `before`: what was written between the two walks.
    */
  def written(before: Map[String, FileSig],
              after: Map[String, FileSig]): (Int, Long) = {
    val fresh = after.filter { case (p, sig) => !before.get(p).contains(sig) }
    (fresh.size, fresh.values.map(_.bytes).sum)
  }

  /** Bytes written to the store per byte of input, both as measured. */
  def writeAmp(bytesWritten: Long, inputBytes: Long): Double = {
    require(inputBytes > 0, "write amplification needs input bytes")
    bytesWritten.toDouble / inputBytes.toDouble
  }

  /** Bytes on disk per byte of live data. */
  def spaceAmp(onDisk: Long, live: Long): Double = {
    require(live > 0, "space amplification needs live bytes")
    onDisk.toDouble / live.toDouble
  }

  /** Recursive walk of `root`: relative path -> (size, mtime). */
  def walk(root: java.io.File): Map[String, FileSig] = {
    val out = Map.newBuilder[String, FileSig]
    val base = root.toPath
    def go(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      else if (f.isFile)
        out += base.relativize(f.toPath).toString -> FileSig(f.length(), f.lastModified())
    if (root.exists()) go(root)
    out.result()
  }
}
