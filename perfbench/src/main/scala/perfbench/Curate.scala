package perfbench

import graft.functions.{QualityRules, RepetitionRules}
import graft.operators.{Classifier, Decontaminate, Dedup, Loops, Sampling}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** `curate`: a batch LLM-data curation pass over a seeded corpus, one
  * pass per round. Gopher quality gate -> repetition gate -> benchmark
  * decontamination -> exact dedup -> MinHash-LSH candidates -> Jaccard
  * verification -> near-duplicate clusters -> classifier train and
  * score -> weight-balanced shard assignment, collected to the driver.
  * Untraced, the chain is as lazy as the operators make it; a traced
  * run materializes each step so its work lands in its own span.
  */
final class Curate(seed: Long) extends Workload {
  // the smallest size measured (8k, 16k, 24k, 50k) at which executor CPU
  // exceeds driver gap in every span but the near-duplicate loop, which
  // stays driver-bound at every size (WORKLOADS.md)
  val nDocs = 16000
  val nEval = 5
  val shards = 16
  val shingleN = 3
  val decontamFrac = 0.2
  val jaccardMin = 0.7
  val lshK = 16
  val lshBands = 4
  // the configuration the repository's own classifier query (q122) uses
  val clfCfg: Classifier.Config = Classifier.Config(dim = 256, iters = 6)
  val nominalRoundS = 13.0

  private lazy val evals = Gen.evalDocs(seed, nEval)
  private lazy val corpus = Gen.corpus(seed, nDocs, evals)
  private var docs: DataFrame = _
  private var bench: DataFrame = _
  /** (doc_id, shard, scored) of the most recent pass */
  private var lastResult: Seq[(Long, Long, Boolean)] = Nil

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  private def frame(h: Harness, ds: Seq[Gen.Doc], name: String): DataFrame = {
    val path = s"${h.workdir}/curate/$name.parquet"
    h.spark.createDataFrame(
      h.spark.sparkContext.parallelize(
        ds.map(d => Row(d.id, d.text, d.lang, d.source, d.nChars)), h.opts.nproc),
      schema).write.parquet(path)
    h.spark.read.parquet(path)
  }

  def setup(h: Harness): Unit = {
    bench = frame(h, evals, "eval")
    // warm-up pass over a quarter of the corpus: the same plans, so code
    // generation and class loading are done before the timed rounds
    docs = frame(h, corpus.take(nDocs / 4), "warmup")
    round(h, -1)
    docs = frame(h, corpus, "documents")
  }

  def round(h: Harness, i: Int): Unit = {
    val boundary = h.tracing
    val pins = ArrayBuffer.empty[DataFrame]
    def step(span: String)(f: => DataFrame): DataFrame = h.call(span) {
      val df = f
      if (boundary) { val m = df.persist(); m.count(); pins += m; m } else df
    }
    // a frame read by two consumers is cached once
    def pin(df: DataFrame): DataFrame = { pins += df; df.persist() }
    try {
      val quality = pin(step("functions.QualityRules.gate")(QualityRules.gate(docs, "text")))
      val rep = step("functions.RepetitionRules.measures")(
        RepetitionRules.measures(quality, "doc_id", "text")
          .filter(col("keep") === 1L).select(col("doc_id")))
      val gated = pin(quality.join(rep, Seq("doc_id")))
      val dec = step("operators.Decontaminate.overlap")(
        Decontaminate.overlap(gated, bench, "doc_id", "text", shingleN, decontamFrac)
          .filter(col("flagged") === 0L).select(col("doc_id")))
      val clean = gated.join(dec, Seq("doc_id"))
      val exact = step("operators.Dedup.exactSurvivors")(
        Dedup.exactSurvivors(clean, "doc_id", "text").select(col("keep_id").as("doc_id")))
      // the deduplicated corpus feeds the iterative near-duplicate stage:
      // checkpoint it, so the loop plans over a scan instead of the whole
      // gate chain (released by Engine.releaseAll)
      val exDocs = Loops.truncate(clean.join(exact, Seq("doc_id")), eager = false)._1
      val cands = step("operators.Dedup.lshCandidatePairs")(
        Dedup.lshCandidatePairs(exDocs, "doc_id", "text", shingleN, lshK, lshBands))
      val verified = step("operators.Dedup.verifyJaccard")(
        Dedup.verifyJaccard(cands, exDocs, "doc_id", "text", shingleN, jaccardMin)
          .select("id_a", "id_b"))
      val clusters = step("operators.Dedup.neardupClusters")(Dedup.neardupClusters(verified))
      // docs in no verified pair survive; of each cluster, its survivor
      val inPairs = verified.select(col("id_a").as("doc_id"))
        .union(verified.select(col("id_b").as("doc_id")))
      val survivors = pin(exDocs.join(inPairs, Seq("doc_id"), "left_anti")
        .union(exDocs.join(clusters.select(col("survivor_id").as("doc_id")), Seq("doc_id"))))
      val scored = step("operators.Classifier.trainAndScore")(
        Classifier.trainAndScore(survivors, "doc_id", "text", col("lang") === "en", clfCfg))
      val rows = h.call("operators.Sampling.assignShardsBalanced") {
        Sampling.assignShardsBalanced(
          scored.select(col("id").as("doc_id"), col("p"))
            .join(survivors.select("doc_id", "n_chars"), Seq("doc_id")),
          "n_chars", "doc_id", shards)
          .select("doc_id", "shard", "p").collect()
      }
      lastResult = rows.toSeq.map(r => (r.getLong(0), r.getLong(1), !r.isNullAt(2)))
    } finally {
      graft.Engine.releaseAll()
      pins.foreach(_.unpersist(blocking = false))
    }
  }

  def check(h: Harness): Seq[(String, Boolean, String)] = {
    val benchSh = evals.flatMap(d => Ref.shingles(Ref.tokens(d.text), shingleN)).toSet
    val clean = corpus.filter(d => Ref.qualityKeep(d.text) && Ref.repetitionKeep(d.text) &&
      Ref.contamination(d.text, benchSh, shingleN).exists(_ < decontamFrac))
    val exact = clean.groupBy(d => Ref.normalize(d.text)).values.map(_.minBy(_.id)).toSeq
    // MinHash-LSH candidates are hash-based, so they are not replayed:
    // the engine computes them over the reference's deduplicated corpus,
    // and the reference verifies and clusters them itself
    val exactDf = h.spark.createDataFrame(java.util.Arrays.asList(
      exact.map(d => Row(d.id, d.text, d.lang, d.source, d.nChars)): _*), schema)
    val cands = try {
      Dedup.lshCandidatePairs(exactDf, "doc_id", "text", shingleN, lshK, lshBands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    } finally graft.Engine.releaseAll()
    val byId = exact.map(d => d.id -> d).toMap
    val soundCands = cands.forall { case (a, b) => a < b && byId.contains(a) && byId.contains(b) }
    val verified = cands.filter { case (a, b) =>
      byId.contains(a) && byId.contains(b) &&
        Ref.jaccard(byId(a).text, byId(b).text, shingleN) >= jaccardMin
    }
    // recall, independent of the engine: planted near duplicates that
    // both reach the deduplicated corpus must be candidates about as
    // often as MinHash-LSH promises for their Jaccard similarity
    val candSet = cands.toSet
    val planted = exact.filter(d => d.nearDupOf >= 0 && byId.contains(d.nearDupOf)).map { d =>
      val pair = (math.min(d.id, d.nearDupOf), math.max(d.id, d.nearDupOf))
      pair -> Ref.jaccard(byId(pair._1).text, byId(pair._2).text, shingleN)
    }.filter(_._2 >= jaccardMin)
    val chances = planted.map(p => Ref.lshChance(p._2, lshBands, lshK / lshBands))
    val found = planted.count(p => candSet.contains(p._1))
    // four standard deviations below the expected count
    val recallFloor = chances.sum - 4 * math.sqrt(chances.map(c => c * (1 - c)).sum)
    val comp = Ref.components(verified)
    val survivors = exact.filter(d => comp.get(d.id).forall(_ == d.id))
    val refShards = Ref.balancedShards(survivors.map(d => d.id -> d.nChars), shards)
    val got = lastResult.map(r => r._1 -> r._2).toMap
    val scoredAll = lastResult.forall(_._3)
    Seq(
      ("curate.lsh_candidates_sound", soundCands, s"${cands.size} candidate pairs"),
      ("curate.lsh_recall", planted.nonEmpty && found >= recallFloor,
        f"$found of ${planted.size} planted near-duplicate pairs are candidates " +
          f"(expected ${chances.sum}%.1f, floor $recallFloor%.1f)"),
      ("curate.survivor_set", got.keySet == refShards.keySet,
        s"engine ${got.size} survivors, reference ${refShards.size} " +
          s"(of ${corpus.size} docs, ${clean.size} after gates, ${exact.size} after exact dedup, " +
          s"${verified.size} verified pairs)"),
      ("curate.shard_assignment", got == refShards, s"$shards shards"),
      ("curate.classifier_scored", scoredAll && lastResult.nonEmpty, "every survivor has a score"))
  }

  override def extras(h: Harness): ListMap[String, (Double, String)] =
    ListMap("docs" -> (nDocs.toDouble, "count"), "survivors" -> (lastResult.size.toDouble, "count"))
}
