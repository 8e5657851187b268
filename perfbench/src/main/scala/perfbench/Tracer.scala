package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-layer tracing from outside the engine. The benchmark wraps each
  * public engine call in [[span]], which sets a Spark local property
  * that every job submitted inside the call inherits. The listener then
  *  - attributes each job to its span by that property (a job without
  *    it is `unattributed`, never guessed),
  *  - attributes each stage to its job through
  *    `SparkListenerJobStart.stageIds`, and task metrics to the stage,
  *  - counts exchanges and interpreted projections in the final
  *    (adaptive) plan of every query that ran.
  * The listeners are attached only around traced rounds.
  */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var seq = 0L
  @volatile private var lastEvent = System.currentTimeMillis()
  private var exchanges = 0L
  private var interpreted = 0L
  private var spillBytes = 0L

  // ------------------------------------------------------------ spans

  /** Run `body` as span `name`: jobs it submits carry the span's id. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { seq += 1; s"$name#$seq" }
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id)
    val start = System.currentTimeMillis()
    try body
    finally {
      sc.setLocalProperty(SpanKey, prev)
      spanEnded(id, name, start, System.currentTimeMillis())
    }
  }

  private[perfbench] def spanEnded(id: String, name: String, start: Long,
                                   end: Long): Unit = synchronized {
    spans += SpanRec(id, name, start, end)
  }

  /** Attach a counter measured by the caller (files written) to the
    * most recent span of `name`.
    */
  def annotate(name: String, key: String, value: Double): Unit = synchronized {
    spans.reverseIterator.find(_.name == name).foreach { s =>
      s.extra(key) = s.extra.getOrElse(key, 0.0) + value
    }
  }

  // --------------------------------------------------------- listener

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarted(e.jobId, e.time, e.stageIds,
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnded(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      taskEnded(e.stageId, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  private[perfbench] def jobStarted(jobId: Int, time: Long, stageIds: Seq[Int],
                                    span: Option[String]): Unit = synchronized {
    jobs(jobId) = JobRec(jobId, span, time)
    // a stage belongs to the job that created it; later jobs that list
    // it again only skip it
    stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = jobId)
    lastEvent = System.currentTimeMillis()
  }

  private[perfbench] def jobEnded(jobId: Int, time: Long): Unit = synchronized {
    jobs.get(jobId).foreach(_.end = time)
    lastEvent = System.currentTimeMillis()
  }

  private[perfbench] def taskEnded(stageId: Int, cpuNs: Long, shuffleBytes: Long,
                                   spilled: Long): Unit = synchronized {
    spillBytes += spilled
    stageJob.get(stageId).flatMap(jobs.get).foreach { j =>
      j.cpuNs += cpuNs
      j.shuffleBytes += shuffleBytes
    }
    lastEvent = System.currentTimeMillis()
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val (ex, interp) = PlanCounts.of(qe.executedPlan)
    synchronized { exchanges += ex; interpreted += interp }
    lastEvent = System.currentTimeMillis()
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Block until the listener bus has been quiet for 300 ms, so the
    * events of the last calls are counted (at most 10 s).
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() - lastEvent < 300 &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Start receiving Spark's job, task and query events. */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    lastEvent = System.currentTimeMillis()
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Stop receiving events; what was recorded is kept. */
  def detach(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  // ------------------------------------------------------ aggregation

  /** Per-span-name totals over the spans recorded so far. */
  def summary(): Summary = synchronized {
    val bySpanId = jobs.values.groupBy(_.span)
    val perName = spans.groupBy(_.name).map { case (name, calls) =>
      var self = 0L; var gap = 0L; var nJobs = 0; var cpu = 0L
      var shuffle = 0L
      val extra = mutable.HashMap.empty[String, Double]
      calls.foreach { c =>
        val js = bySpanId.getOrElse(Some(c.id), Nil).toSeq
        self += c.end - c.start
        gap += Stats.driverGap(c.start, c.end,
          js.map(j => (j.start, if (j.end >= 0) j.end else c.end)))
        nJobs += js.size
        cpu += js.map(_.cpuNs).sum
        shuffle += js.map(_.shuffleBytes).sum
        c.extra.foreach { case (k, v) => extra(k) = extra.getOrElse(k, 0.0) + v }
      }
      name -> SpanTotals(calls.size, self / 1e3, nJobs, gap / 1e3, cpu / 1e9,
        shuffle / MB, extra.toMap)
    }
    val unattributed = bySpanId.getOrElse(None, Nil).toSeq
    Summary(perName, unattributed.size, unattributed.map(_.cpuNs).sum / 1e9,
      exchanges, interpreted, spillBytes / MB)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val MB: Double = 1024.0 * 1024.0

  final case class JobRec(id: Int, span: Option[String], start: Long) {
    var end: Long = -1L
    var cpuNs = 0L
    var shuffleBytes = 0L
  }

  final case class SpanRec(id: String, name: String, start: Long, end: Long) {
    val extra: mutable.HashMap[String, Double] = mutable.HashMap.empty
  }

  final case class SpanTotals(calls: Int, selfS: Double, jobs: Int,
                              driverGapS: Double, execCpuS: Double,
                              shuffleMb: Double, extra: Map[String, Double])

  final case class Summary(spans: Map[String, SpanTotals], unattributedJobs: Int,
                           unattributedCpuS: Double, exchanges: Long,
                           interpretedProjects: Long, spillMb: Double)
}

/** Plan-shape counters over a final physical plan, descending into
  * adaptive query stages.
  */
object PlanCounts extends AdaptiveSparkPlanHelper {

  /** (shuffle exchanges, projections evaluated outside whole-stage
    * codegen).
    */
  def of(plan: SparkPlan): (Long, Long) = {
    val ex = collect(plan) { case e: ShuffleExchangeLike => e }.size.toLong
    // projections fused into a codegen stage, stopping at the stage's
    // input boundaries
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case pr: ProjectExec => pr +: pr.children.flatMap(fused)
      case o => o.children.flatMap(fused)
    }
    val inCodegen = collect(plan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => fused(w.child))
      .map(System.identityHashCode).toSet
    val interp = collect(plan) { case p: ProjectExec => p }
      .count(p => !inCodegen.contains(System.identityHashCode(p))).toLong
    (ex, interp)
  }
}
