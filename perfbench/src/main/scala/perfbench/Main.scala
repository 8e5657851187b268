package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** One workload: seeded set-up, a round of engine calls repeated by one
  * closed-loop client, and output checks run after the timed phase.
  */
trait Workload {
  /** Wall time of one round on 4 cores, as measured. With `--seconds`
    * it fixes how many rounds a run times, so that every version of the
    * engine times the same rounds over the same inputs.
    */
  def nominalRoundS: Double
  /** Generate inputs, build what the timed calls need, warm up. */
  def setup(h: Harness): Unit
  /** One round: a fixed seeded sequence of calls made through [[Harness.call]]. */
  def round(h: Harness, i: Int): Unit
  /** Output checks: (name, passed, detail). Run outside the timed phase. */
  def check(h: Harness): Seq[(String, Boolean, String)]
  /** Workload-specific metrics: name -> (value, unit). */
  def extras(h: Harness): ListMap[String, (Double, String)] = ListMap.empty
}

final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, workdir: String, nproc: Int,
                      commit: String, source: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("workdir"),
      m.getOrElse("nproc", "4").toInt, m.getOrElse("commit", "-"),
      m.getOrElse("source", "-"))
  }
}

/** Times calls, samples memory, and (when it has a tracer) wraps each
  * call in a [[Tracer]] span. Each workload instance has its own
  * harness and working directory.
  */
final class Harness(val spark: SparkSession, val opts: Opts, val workdir: String) {
  @volatile var tracer: Option[Tracer] = None
  /** latency samples in ms by kind ("read", "commit") */
  val samples: scala.collection.mutable.Map[String, ArrayBuffer[Double]] =
    scala.collection.mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  var pinnedPeakMb = 0.0
  /** samples, counts and failures are recorded only in the timed phase */
  var timing = false

  def tracing: Boolean = tracer.isDefined

  /** Run one public engine call as span `span`. */
  def call[T](span: String)(body: => T): T = run(None, span)(body)

  /** Run one public engine call as span `span`; record its latency
    * under `kind`.
    */
  def call[T](kind: String, span: String)(body: => T): T = run(Some(kind), span)(body)

  private def run[T](kind: Option[String], span: String)(body: => T): T = {
    if (timing) attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = tracer match {
        case Some(t) => t.span(span)(body)
        case None => body
      }
      if (timing) {
        kind.foreach(k =>
          samples.getOrElseUpdate(k, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6)
        samplePinned()
      }
      out
    } catch {
      case e: Throwable =>
        if (timing) failed += 1
        throw e
    }
  }

  /** Storage memory and disk held by cached or checkpointed blocks. */
  def samplePinned(): Unit = {
    val bytes = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    pinnedPeakMb = math.max(pinnedPeakMb, bytes / Tracer.MB)
  }

  def annotate(span: String, key: String, value: Double): Unit =
    tracer.foreach(_.annotate(span, key, value))
}

object Main {

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def session(opts: Opts): SparkSession = {
    val spark = graft.plans.GraftExtensions.builder(SparkSession.builder())
      .master(s"local[${opts.nproc}]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", opts.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.workdir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.workdir}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${opts.workdir}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(opts: Opts): Workload = opts.workload match {
    case "curate" => new Curate(opts.seed)
    case "ingest" => new Ingest(opts.seed)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Rounds a run times: as many nominal rounds as fit in `seconds`, at
    * least one. The count does not depend on how fast this run is.
    */
  def plannedRounds(seconds: Double, nominalRoundS: Double): Int =
    math.max(1, math.round(seconds / nominalRoundS).toInt)

  /** A timed phase that overruns its plan by this factor stops after
    * the current round, so that a run always ends.
    */
  val OverrunFactor = 3.0

  /** Run round `i`; its wall time in seconds. */
  private def timedRound(h: Harness, wl: Workload, i: Int): Double = {
    val t0 = System.nanoTime()
    try wl.round(h, i)
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] round $i failed: $e")
        e.printStackTrace()
    }
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val opts = Opts.parse(args)
    val spark = session(opts)
    try run(spark, opts, mainStart)
    finally spark.stop()
  }

  private def run(spark: SparkSession, opts: Opts, mainStart: Long): Unit = {
    val wl = workload(opts)
    val h = new Harness(spark, opts, s"${opts.workdir}/plain")
    wl.setup(h)
    // A traced run times every round twice over the same inputs: once
    // untraced (`wl`) and once traced (`twin`, its own instance and
    // state), in alternating order. The tracing overhead is the median
    // of their per-round differences.
    val traced = if (!opts.trace) None else {
      val ht = new Harness(spark, opts, s"${opts.workdir}/traced")
      val twin = workload(opts)
      // the twin warms up with its materialization boundaries, under a
      // tracer whose spans are discarded
      ht.tracer = Some(new Tracer(spark.sparkContext))
      twin.setup(ht)
      ht.tracer = Some(new Tracer(spark.sparkContext))
      Some((ht, twin))
    }
    val setupS = (System.nanoTime() - mainStart) / 1e9
    val loadBefore = loadAvg()
    val gc0 = gcMillis()
    val t0 = System.nanoTime()

    // a traced run times each round twice, so it plans half as many;
    // at least two, so that each order of a pair occurs once
    val n =
      if (opts.trace) math.max(2, plannedRounds(opts.seconds / 2, wl.nominalRoundS))
      else plannedRounds(opts.seconds, wl.nominalRoundS)
    val budgetS = OverrunFactor * opts.seconds
    val plain = ArrayBuffer.empty[Double]
    val tracedRounds = ArrayBuffer.empty[Double]
    var tracedGcMs = 0L
    def tracedRound(ht: Harness, twin: Workload, i: Int): Unit = {
      val t = ht.tracer.get
      t.attach(spark)
      val gc = gcMillis()
      try tracedRounds += timedRound(ht, twin, i)
      finally {
        tracedGcMs += gcMillis() - gc
        t.drain()
        t.detach(spark)
      }
    }
    h.timing = true
    traced.foreach(_._1.timing = true)
    var i = 0
    while (i < n && (i == 0 || (System.nanoTime() - t0) / 1e9 < budgetS)) {
      traced match {
        case None => plain += timedRound(h, wl, i)
        case Some((ht, twin)) =>
          if (i % 2 == 0) { plain += timedRound(h, wl, i); tracedRound(ht, twin, i) }
          else { tracedRound(ht, twin, i); plain += timedRound(h, wl, i) }
      }
      i += 1
    }
    h.timing = false
    traced.foreach(_._1.timing = false)
    if (i < n) System.err.println(s"[perfbench] timed phase overran: $i of $n rounds")
    val gcMs = gcMillis() - gc0
    val wallS = (System.nanoTime() - t0) / 1e9
    val loadAfter = loadAvg()

    val checks = wl.check(h) ++ traced.toSeq.flatMap { case (ht, twin) =>
      twin.check(ht).map { case (c, ok, d) => (s"traced.$c", ok, d) }
    }
    val harnesses = h +: traced.toSeq.map(_._1)
    val failedChecks = checks.count(!_._2)
    val attempted = harnesses.map(_.attempted).sum + checks.size
    val failed = harnesses.map(_.failed).sum + failedChecks
    val correct = failed == 0

    val e2e = ListMap(
      "setup_s" -> (setupS, "s"),
      "round_s" -> (Stats.median(plain.toSeq), "s"))
    val latency = h.samples.toSeq.flatMap { case (kind, xs) =>
      val tl = Stats.tail(xs.toSeq)
      Seq(s"${kind}_p50_ms" -> (Stats.median(xs.toSeq), "ms"),
        s"${kind}_tail_ms" -> (tl.value, "ms"),
        s"${kind}_tail_pct" -> (tl.pct, "%"),
        s"${kind}_samples" -> (tl.n.toDouble, "count"))
    }
    val detail = e2e ++ ListMap(
      "wall_s" -> (wallS, "s"),
      "rounds" -> (plain.size.toDouble, "count"),
      "pinned_peak_mb" -> (h.pinnedPeakMb, "MB"),
      "failed_frac" -> (failed.toDouble / attempted.toDouble, "ratio")) ++
      latency ++ wl.extras(h)

    val context = ListMap(
      "workload" -> opts.workload, "seed" -> opts.seed,
      "nproc" -> opts.nproc, "master" -> spark.sparkContext.master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "load_avg_before" -> loadBefore, "load_avg_after" -> loadAfter,
      "gc_ms" -> gcMs, "git_commit" -> opts.commit,
      "source_sha256" -> opts.source, "spark" -> spark.version,
      "trace" -> opts.trace)

    println(f"[perfbench] ${opts.workload} seed=${opts.seed} rounds=${plain.size}")
    detail.foreach { case (k, (v, u)) => println(f"[perfbench]   $k%-24s ${Json.num(v)}%s $u") }
    checks.foreach { case (c, ok, d) =>
      println(s"[perfbench]   check $c: ${if (ok) "PASS" else "FAIL"} $d")
    }

    val metrics = traced.fold(e2e) { case (ht, _) =>
      val overheadS = Stats.median(tracedRounds.zip(plain).map { case (a, b) => a - b }.toSeq)
      Catalog.perLayer(ht.tracer.get.summary(), tracedRounds.toSeq, overheadS,
        tracedGcMs / 1e3, h.pinnedPeakMb, wl.extras(h))
    }
    println("DETAIL " + Json.render(ListMap(
      "context" -> context,
      "round_times_s" -> plain.toSeq,
      "traced_round_times_s" -> tracedRounds.toSeq,
      "metrics" -> detail.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "checks" -> checks.map { case (c, ok, d) => ListMap("name" -> c, "ok" -> ok, "detail" -> d) })))
    println("RESULT " + Json.render(ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })))
  }
}
