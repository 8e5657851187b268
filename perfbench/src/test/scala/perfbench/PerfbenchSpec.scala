package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The benchmark's pure logic, without a Spark session. */
class PerfbenchSpec extends AnyFunSuite {

  test("tail is the highest ladder percentile with ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred) == Stats.Tail(90.0, 90.0, 10, 100))
    val thousand = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(thousand) == Stats.Tail(99.0, 990.0, 10, 1000))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Stats.Tail(50.0, 10.0, 10, 20))
    // too few samples for any tail: the median, with the thin evidence shown
    assert(Stats.tail((1 to 19).map(_.toDouble)) == Stats.Tail(50.0, 10.0, 9, 19))
    assert(Stats.tail(Seq(5.0)) == Stats.Tail(50.0, 5.0, 0, 1))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("interval union counts overlapping and nested intervals once") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L), (20L, 25L))) == 15)
    assert(Stats.unionLength(Seq((10L, 20L), (0L, 5L), (5L, 10L))) == 20)
    assert(Stats.unionLength(Seq((3L, 3L), (4L, 2L))) == 0)
  }

  test("driver gap with overlapping jobs is wall minus their union, never negative") {
    // two concurrent jobs: summing their durations (24) would exceed the
    // 15 ms span and give a gap of -9
    assert(Stats.driverGap(0, 15, Seq((0L, 12L), (2L, 14L))) == 1)
    // jobs reaching outside the span are clipped to it
    assert(Stats.driverGap(10, 20, Seq((5L, 12L), (18L, 30L))) == 6)
    assert(Stats.driverGap(0, 10, Nil) == 10)
  }

  test("listener attributes jobs by span, stages by stageIds, and keeps unattributed jobs apart") {
    val t = new Tracer(null)
    t.spanEnded("a#1", "a", 0, 15)
    t.jobStarted(1, 0, Seq(10, 11), Some("a#1"))
    t.jobStarted(2, 2, Seq(11, 12), Some("a#1")) // concurrent, reuses stage 11
    t.jobStarted(3, 5, Seq(13), None)
    t.jobEnded(1, 12); t.jobEnded(2, 14); t.jobEnded(3, 6)
    t.taskEnded(11, cpuNs = 1000000000L, shuffleBytes = 1L << 20, spilled = 0)
    t.taskEnded(12, cpuNs = 500000000L, shuffleBytes = 0, spilled = 1L << 20)
    t.taskEnded(13, cpuNs = 250000000L, shuffleBytes = 0, spilled = 0)
    val s = t.summary()
    val a = s.spans("a")
    assert(a.jobs == 2)
    assert(a.selfS == 0.015)
    assert(a.driverGapS == 0.001)
    assert(a.execCpuS == 1.5)
    assert(a.shuffleMb == 1.0)
    assert(s.spillMb == 1.0)
    assert(s.unattributedJobs == 1)
    assert(s.unattributedCpuS == 0.25)
  }

  test("written files are the new or changed ones between two walks") {
    import Stats.FileSig
    val before = Map("a" -> FileSig(10, 1), "b" -> FileSig(20, 1))
    val after = Map("a" -> FileSig(10, 1), "b" -> FileSig(25, 2), "c" -> FileSig(5, 3))
    assert(Stats.written(before, after) == ((2, 30L)))
    assert(Stats.written(after, after) == ((0, 0L)))
    assert(Stats.writeAmp(30, 10) == 3.0)
    assert(Stats.spaceAmp(50, 25) == 2.0)
  }

  test("directory walk sees files recursively with their sizes") {
    val dir = Files.createTempDirectory("perfbench-walk").toFile
    try {
      val sub = new java.io.File(dir, "t/_manifest"); sub.mkdirs()
      Files.write(new java.io.File(dir, "t/part-0.parquet").toPath, Array.fill(7)(1.toByte))
      Files.write(new java.io.File(sub, "1.json").toPath, Array.fill(3)(1.toByte))
      val w = Stats.walk(dir)
      assert(w.keySet == Set("t/part-0.parquet", "t/_manifest/1.json"))
      assert(w.values.map(_.bytes).sum == 10)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("generators give identical inputs for the same seed and different ones otherwise") {
    val ev = Gen.evalDocs(7, 5)
    assert(Gen.corpus(7, 500, ev) == Gen.corpus(7, 500, Gen.evalDocs(7, 5)))
    assert(Gen.corpus(7, 500, ev) != Gen.corpus(8, 500, ev))
    assert(Gen.listingKeys(7, 3) == Gen.listingKeys(7, 3))
    assert(Gen.listingKeys(7, 3) != Gen.listingKeys(7, 4))
    assert(Gen.permitKeys(7, 3) == Gen.permitKeys(7, 3))
    assert(Gen.rentalUnits(7, 3) == Gen.rentalUnits(7, 3))
    assert(Gen.events(7, 3, 20) == Gen.events(7, 3, 20))
  }

  test("the corpus follows the recipe: 10-100 words, planted duplicates") {
    val c = Gen.corpus(11, 4000, Gen.evalDocs(11, 5))
    assert(c.forall(d => d.text.split(' ').length >= 10 && d.text.split(' ').length <= 100))
    val dupShare = 1.0 - c.map(_.text).distinct.size.toDouble / c.size
    assert(dupShare > 0.005 && dupShare < 0.03, s"exact-duplicate share $dupShare")
    assert(c.count(_.text.contains("dup")) > 100)
    val planted = c.filter(_.nearDupOf >= 0)
    assert(planted.size > 150)
    assert(planted.forall { d =>
      val src = c(d.nearDupOf.toInt).text.split(' ')
      val got = d.text.split(' ')
      d.nearDupOf < d.id && src.length == got.length &&
        src.zip(got).count { case (a, b) => a != b } <= 1
    })
  }

  test("the number of timed rounds depends only on the seconds and the nominal round") {
    assert(Main.plannedRounds(28, 7.0) == 4)
    assert(Main.plannedRounds(28, 14.0) == 2)
    assert(Main.plannedRounds(30, 14.0) == 2)
    assert(Main.plannedRounds(1, 14.0) == 1)
  }

  test("LSH candidate chance follows the banding formula") {
    assert(Ref.lshChance(1.0, 4, 4) == 1.0)
    assert(Ref.lshChance(0.0, 4, 4) == 0.0)
    assert(math.abs(Ref.lshChance(0.5, 2, 1) - 0.75) < 1e-12)
  }

  test("reference replays: shingles, quality gate, components, shard dealing") {
    assert(Ref.shingles(Ref.tokens("A b, c d"), 3) == Seq("a b c", "b c d"))
    assert(Ref.shingles(Ref.tokens("a b"), 3) == Seq("a b"))
    assert(!Ref.qualityKeep("the the spark"))
    assert(Ref.components(Seq((1L, 2L), (3L, 2L), (7L, 8L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    assert(Ref.balancedShards(Seq((1L, 5L), (2L, 9L), (3L, 5L), (4L, 1L)), 2) ==
      Map(2L -> 0L, 1L -> 1L, 3L -> 0L, 4L -> 1L))
  }

  test("BENCHMARK.json lists exactly the per-layer metrics a traced run reports") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists, "BENCHMARK.json not found next to perfbench/")
    val txt = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val perLayer = txt.substring(txt.indexOf("\"per_layer\""))
    val names = "\"name\": ?\"([^\"]+)\"".r.findAllMatchIn(perLayer).map(_.group(1)).toSeq
    assert(names == Catalog.perLayerNames.map(_._1))
  }
}
