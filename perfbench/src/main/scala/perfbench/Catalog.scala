package perfbench

import scala.collection.immutable.ListMap

/** The per-layer metric names (`<layer>.<Module>.<call>.<counter>`) a
  * traced run reports, and how each is derived from the trace. Every
  * traced run reports every name; a span the workload never enters
  * reads 0. Values are per traced round; `trace.overhead_s` is the
  * median, over rounds, of a traced round's time minus the untraced
  * round's over the same inputs.
  */
object Catalog {

  val base: Seq[String] = Seq("self_s", "jobs", "driver_gap_s", "exec_cpu_s")

  /** span name -> its counters */
  val spans: Seq[(String, Seq[String])] = {
    val curate = Seq(
      "functions.QualityRules.gate", "functions.RepetitionRules.measures",
      "operators.Decontaminate.overlap", "operators.Dedup.exactSurvivors",
      "operators.Dedup.lshCandidatePairs", "operators.Dedup.verifyJaccard",
      "operators.Dedup.neardupClusters", "operators.Classifier.trainAndScore",
      "operators.Sampling.assignShardsBalanced")
      .map(_ -> (base :+ "shuffle_mb"))
    val ingestWrites = Seq(
      "pipelines.PropertyListings.run", "pipelines.BuildingPermits.run",
      "pipelines.RentalRates.combineAndFormat",
      "streaming.Streams.appendStreamExactlyOnce",
      "sources.TableStore.refreshRollup", "sources.TableStore.compact")
      .map(_ -> (base ++ Seq("files_written", "bytes_written_mb")))
    val ingestReads = Seq(
      "pipelines.RentalRates.aggregate", "sources.TableStore.readWhere",
      "sources.TableStore.changesBetween").map(_ -> base)
    curate ++ ingestWrites ++ ingestReads
  }

  def unitOf(counter: String): String = counter match {
    case "jobs" | "files_written" | "exchanges" | "interpreted_projects" => "count"
    case "shuffle_mb" | "bytes_written_mb" | "spill_mb" | "pinned_peak_mb" => "MB"
    case "write_amp" | "space_amp" => "ratio"
    case _ => "s"
  }

  private val workloadLevel: Seq[String] = Seq(
    "plans.exchanges", "plans.interpreted_projects", "spark.spill_mb", "spark.gc_s",
    "unattributed.self_s", "unattributed.jobs", "unattributed.exec_cpu_s",
    "trace.round_s", "trace.overhead_s", "store.write_amp", "store.space_amp",
    "mem.pinned_peak_mb")

  /** Every per-layer metric name with its unit, in report order. */
  val perLayerNames: Seq[(String, String)] =
    spans.flatMap { case (s, cs) => cs.map(c => s"$s.$c" -> unitOf(c)) } ++
      workloadLevel.map { n =>
        n -> (if (n.endsWith(".jobs")) "count" else unitOf(n.split('.').last))
      }

  /** Per-layer values of one traced run. */
  def perLayer(summary: Tracer.Summary, traced: Seq[Double], overheadS: Double,
               gcS: Double, pinnedPeakMb: Double,
               extras: ListMap[String, (Double, String)]): ListMap[String, (Double, String)] = {
    val rounds = traced.size.toDouble
    def per(x: Double) = x / rounds
    val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    spans.foreach { case (name, counters) =>
      val t = summary.spans.get(name)
      counters.foreach { c =>
        values(s"$name.$c") = t.fold(0.0) { s =>
          c match {
            case "self_s" => per(s.selfS)
            case "jobs" => per(s.jobs.toDouble)
            case "driver_gap_s" => per(s.driverGapS)
            case "exec_cpu_s" => per(s.execCpuS)
            case "shuffle_mb" => per(s.shuffleMb)
            case "files_written" => per(s.extra.getOrElse("files_written", 0.0))
            case "bytes_written_mb" => per(s.extra.getOrElse("bytes_written", 0.0) / Tracer.MB)
          }
        }
      }
    }
    val spanSelf = summary.spans.values.map(_.selfS).sum
    values("plans.exchanges") = per(summary.exchanges.toDouble)
    values("plans.interpreted_projects") = per(summary.interpretedProjects.toDouble)
    values("spark.spill_mb") = per(summary.spillMb)
    values("spark.gc_s") = per(gcS)
    values("unattributed.self_s") = per(traced.sum - spanSelf)
    values("unattributed.jobs") = per(summary.unattributedJobs.toDouble)
    values("unattributed.exec_cpu_s") = per(summary.unattributedCpuS)
    // means, so that span self times plus the unattributed remainder
    // add up to trace.round_s
    values("trace.round_s") = per(traced.sum)
    values("trace.overhead_s") = overheadS
    values("store.write_amp") = extras.get("write_amp").fold(0.0)(_._1)
    values("store.space_amp") = extras.get("space_amp").fold(0.0)(_._1)
    values("mem.pinned_peak_mb") = pinnedPeakMb
    ListMap(perLayerNames.map { case (n, u) => n -> (values(n), u) }: _*)
  }
}
