package perfbench

import graft.pipelines.{BuildingPermits, PropertyListings, RentalRates}
import graft.sources.TableStore
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `ingest`: one round is one ingest cycle against a TableStore, with
  * writes and reads mixed. Commits: a property-listings batch
  * (DO-NOTHING upsert plus delisting archive), a building-permits batch,
  * a rental batch, one stream micro-batch of JSONL files through the
  * exactly-once sink, a rollup refresh, and a compaction of one of the
  * pipeline tables in rotation. Reads between them: the rental grid
  * aggregate, a filtered read and the listings change feed.
  */
final class Ingest(seed: Long) extends Workload {
  val nominalRoundS = 7.0
  val cutoffDate = "1994-01-01"
  val eventsPerBatch = 200
  val origin: (Double, Double) = (320000.0, 5920000.0) // UTM zone 12, Edmonton
  val compactRotation: Seq[String] = Seq("property_listings", "building_permits", "rent_listings")
  val storeTables: Seq[String] = Seq("property_listings", "archived_listings",
    "building_permits", "rent_listings", "events", "events_rollup", "avg_rent_listings")

  private var store: TableStore = _
  private var root: File = _
  private var listings: PropertyListings = _
  private var permits: BuildingPermits = _
  private var rentals: RentalRates = _
  private var brochure, osm, zoning: DataFrame = _
  private var stream: DataFrame = _
  private var streamIn: File = _
  private var streamCkpt: String = _

  private val consumed = ArrayBuffer.empty[Int] // batch ids in commit order
  private val timedBatches = ArrayBuffer.empty[Int]
  private var lastWalk = Map.empty[String, Stats.FileSig]
  private var bytesWritten = 0L
  private var pinnedGen = -1L
  private var pinnedRows: Seq[String] = Nil

  // -------------------------------------------------------- feeds

  private def customerFrame(h: Harness, keys: Seq[Int]): DataFrame = {
    val segs = Array("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
    h.spark.createDataFrame(java.util.Arrays.asList(keys.map(k =>
      Row(k.toLong, f"Customer#$k%09d", segs(k % 5))): _*),
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_mktsegment", StringType))))
  }

  /** AV broker feed of batch `b` (the q245 `avFeed` shape). */
  private def avFeed(h: Harness, b: Int): DataFrame = {
    val k = col("c_custkey")
    customerFrame(h, Gen.listingKeys(seed, b)._1).select(
      col("c_name").as("slug"), col("c_name").as("name"),
      concat(lit("addr-"), k).as("address"),
      when(k % 3 === 0, "Edmonton").otherwise("Calgary").as("city"),
      lit("AB").as("province"),
      when((k + b) % 7 === 0, "closed").otherwise("active").as("status"),
      when(k % 7 === 0, lit(null).cast("string")).otherwise(col("c_mktsegment")).as("price"),
      col("c_mktsegment").as("size"),
      when(k % 11 === 0, lit(null).cast("string"))
        .when(k % 4 === 0, "Retail for Sale").when(k % 4 === 1, "Office for Lease")
        .when(k % 4 === 2, "Industrial for Sale or Lease").otherwise("Bare Land")
        .as("propertyType"),
      lit(s"gen$b").as("description"),
      struct((k % 90).cast("string").as("lat"), (k % 120).cast("string").as("lng"))
        .as("location"),
      array(concat(lit("b-"), col("c_name"))).as("brochures"))
  }

  /** Omada broker feed of batch `b` (the q245 `omadaFeed` shape). */
  private def omadaFeed(h: Harness, b: Int): DataFrame = {
    val k = col("s_suppkey")
    h.spark.createDataFrame(java.util.Arrays.asList(Gen.listingKeys(seed, b)._2.map(s =>
      Row(s.toLong, f"Supplier#$s%09d")): _*),
      StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType))))
      .select(
        col("s_name").as("link"),
        struct(concat(lit("<b>"), col("s_name"), lit("</b>")).as("rendered")).as("title"),
        concat(lit("saddr-"), k).as("address"), lit("Edmonton").as("city"),
        when(k % 2 === 0, lit(null).cast("string")).otherwise(concat(lit("CAD "), k)).as("price"),
        when(k % 3 === 0, lit(null).cast("string")).otherwise(k.cast("string")).as("size_min"),
        when(k % 3 === 2, (k * 2).cast("string")).otherwise(lit(null).cast("string")).as("size_max"),
        when(k % 3 === 0, "office for lease").when(k % 3 === 1, "retail for sale")
          .otherwise("warehouse for rent").as("listing_type"),
        struct(lit(s"<p>gen$b</p>").as("rendered")).as("content"),
        (k % 85).cast("string").as("lat"), (k % 115).cast("string").as("lng"))
  }

  /** Royal Park feed of batch `b` (the q245 `royalParkFeed` shape). */
  private def royalParkFeed(h: Harness, b: Int): DataFrame = {
    val k = col("p_partkey")
    val types = Array("STANDARD BRASS", "SMALL PLATED", "LARGE BRUSHED", "PROMO STEEL")
    h.spark.createDataFrame(java.util.Arrays.asList(Gen.listingKeys(seed, b)._3.map(p =>
      Row(p.toLong, s"part $p", s"Brand#${p % 5 + 1}${p % 4 + 1}", p % 50 + 1, types(p % 4))): _*),
      StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_size", IntegerType),
        StructField("p_type", StringType))))
      .select(
        concat(lit("rp-"), k).as("permalink"), col("p_name").as("post_title"),
        concat(lit("paddr-"), k).as("address"), lit("Edmonton").as("city"),
        when(k % 6 === 0, lit(null).cast("string")).otherwise(col("p_brand")).as("price"),
        col("p_size").cast("string").as("building_size"),
        when(k % 4 === 1, concat(col("p_type"), lit(" sublease")))
          .when(k % 4 === 3, concat(col("p_type"), lit(" lease")))
          .otherwise(col("p_type")).as("type"),
        lit(s"gen$b").as("post_content"),
        (k % 95).cast("string").as("latitude"), (k % 125).cast("string").as("longitude"))
  }

  /** Socrata permit rows of batch `b` (the q256 `permitFeed` shape). */
  private def permitFeed(h: Harness, b: Int): DataFrame = {
    val k = col("o_orderkey")
    val od = col("o_orderdate")
    h.spark.createDataFrame(java.util.Arrays.asList(Gen.permitKeys(seed, b).map(o =>
      Row(o.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1)
        .plusDays((o.toLong * 7) % 2400)))): _*),
      StructType(Seq(StructField("o_orderkey", LongType), StructField("o_orderdate", DateType))))
      .select(
        concat(lit("u"), k.cast("string"), lit("g"), lit(b.toString)).as("uuid"),
        when(k % 5 === 0, "0.0").otherwise(concat(lit("54."),
          lpad((k % 1000).cast("string"), 3, "0"))).as("latitude"),
        when(k % 5 === 0, "0.0").otherwise(concat(lit("-113."),
          lpad(((k / 1000).cast("long") % 1000).cast("string"), 3, "0"))).as("longitude"),
        when(k % 6 === 0, "NaN").when(k % 6 === 3, "n/a")
          .otherwise((k % 500).cast("string")).as("floor_area"),
        when(k % 10 === 0, "Unknown").otherwise(concat(lit("addr-"), k.cast("string"))).as("address"),
        when(k % 7 === 0, lit(null).cast("string")).otherwise(((k * 3) % 10000).cast("string"))
          .as("construction_value"),
        when(k % 4 === 1, "x").otherwise((k % 9).cast("string")).as("units_added"),
        when(k % 3 === 0, "New").when(k % 3 === 1, "Renovation").otherwise("Demolition")
          .as("work_type"),
        when(k % 2 === 0, "Residential").otherwise("Commercial").as("building_type"),
        lit(s"gen$b").as("job_description"),
        when(k % 2 === 0, "Major").otherwise("Minor").as("job_category"),
        when(k % 6 === 2, "m").otherwise(month(od).cast("string")).as("month_number"),
        year(od).cast("string").as("year"),
        concat(date_format(od, "yyyy-MM-dd"), lit("T00:00:00.000")).as("issue_date"),
        concat(lit("n"), (k % 40).cast("string")).as("neighbourhood"),
        concat(lit("z"), (k % 15).cast("string")).as("zoning"))
  }

  private val unitType = StructType(Seq(
    StructField("unit_no", IntegerType), StructField("rate", StringType),
    StructField("beds", StringType), StructField("baths", IntegerType),
    StructField("size", StringType), StructField("date", StringType)))

  /** liv.rent building feed of batch `b`: buildings with nested units. */
  private def rentalFeed(h: Harness, b: Int): DataFrame =
    h.spark.createDataFrame(java.util.Arrays.asList(Gen.rentalUnits(seed, b).map { case (k, us) =>
      Row(s"bldg-$k", s"$k Jasper Ave", 53.45 + (k % 50) * 0.004, -113.6 + (k / 50) * 0.05,
        us.map(u => Row(u.unitNo, u.rate, u.beds, u.baths, u.size, s"2024-01-${1 + b % 28}")))
    }: _*), StructType(Seq(StructField("name", StringType), StructField("address", StringType),
      StructField("lat", DoubleType), StructField("lng", DoubleType),
      StructField("units", ArrayType(unitType)))))

  private val eventSchema = StructType(Seq(StructField("id", LongType),
    StructField("kind", StringType), StructField("amount", LongType)))

  private def eventJson(b: Int): String =
    Gen.events(seed, b, eventsPerBatch)
      .map(e => s"""{"id":${e.id},"kind":"${e.kind}","amount":${e.amount}}""").mkString("", "\n", "\n")

  // ------------------------------------------------------- workload

  def setup(h: Harness): Unit = {
    val spark = h.spark
    root = new File(s"${h.workdir}/ingest/store")
    // generations are retained so the change feed and the pinned
    // readAt generation stay readable for the whole run
    store = new TableStore(spark, root.getPath, retainGenerations = 1000)
    listings = new PropertyListings(spark, store)
    permits = new BuildingPermits(spark, store)
    rentals = new RentalRates(spark, store)
    val c = customerFrame(h, (1 to Gen.customers).filter(_ % 2 == 0))
    brochure = c.select(md5(concat(lit("av:"), col("c_name"))).as("uuid"),
      concat(lit("eb-"), col("c_custkey")).as("extra_brochure"))
    osm = spark.range(2, Gen.suppliers + 1, 2).select(
      md5(concat(lit("omada:"), format_string("Supplier#%09d", col("id")))).as("uuid"),
      concat(lit("tag-"), col("id")).as("osm_tag"))
    zoning = spark.range(2, Gen.parts + 1, 2).select(
      md5(concat(lit("royal_park:rp-"), col("id"))).as("uuid"),
      concat(lit("Brand#"), col("id") % 5 + 1, col("id") % 4 + 1).as("zone"))
    streamIn = new File(s"${h.workdir}/ingest/events-in")
    streamIn.mkdirs()
    streamCkpt = s"${h.workdir}/ingest/events-ckpt"
    stream = spark.readStream.schema(eventSchema).json(streamIn.getPath)
    // two warm-up cycles (batches 0 and 1): code generation and JIT,
    // and the tables exist before the timed phase
    round(h, -2)
    round(h, -1)
    pinnedGen = store.generations("property_listings").last
    pinnedRows = canon(store.readAt("property_listings", pinnedGen).collect().toSeq)
    lastWalk = Stats.walk(root)
  }

  /** Walk the store after a call; attribute what it wrote to `span`. */
  private def accountWrites(h: Harness, span: String): Unit = {
    val now = Stats.walk(root)
    val (files, bytes) = Stats.written(lastWalk, now)
    lastWalk = now
    if (h.timing) bytesWritten += bytes
    h.annotate(span, "files_written", files)
    h.annotate(span, "bytes_written", bytes.toDouble)
  }

  private def commit(h: Harness, span: String)(body: => Unit): Unit = {
    h.call("commit", span)(body)
    accountWrites(h, span)
  }

  private def read(h: Harness, span: String)(body: => Unit): Unit = {
    h.call("read", span)(body)
    accountWrites(h, span)
  }

  def round(h: Harness, i: Int): Unit = {
    val b = i + 2
    consumed += b
    if (h.timing) timedBatches += b
    val before = if (store.exists("property_listings"))
      Some(store.generations("property_listings").last) else None
    commit(h, "pipelines.PropertyListings.run") {
      listings.run(avFeed(h, b), omadaFeed(h, b), royalParkFeed(h, b), brochure, osm, zoning)
    }
    commit(h, "pipelines.BuildingPermits.run") { permits.run(permitFeed(h, b), cutoffDate) }
    read(h, "sources.TableStore.readWhere") {
      store.readWhere("building_permits", col("permit_year") === 1994 + b % 4).collect()
    }
    commit(h, "pipelines.RentalRates.combineAndFormat") {
      rentals.combineAndFormat(rentals.explodeUnits(rentalFeed(h, b)))
    }
    read(h, "pipelines.RentalRates.aggregate") {
      rentals.aggregate(origin).collect()
    }
    Files.write(new File(streamIn, f"part-$b%05d.json").toPath,
      eventJson(b).getBytes(StandardCharsets.UTF_8))
    commit(h, "streaming.Streams.appendStreamExactlyOnce") {
      Streams.appendStreamExactlyOnce(stream, store, "events", "feed", streamCkpt)
    }
    commit(h, "sources.TableStore.refreshRollup") {
      store.refreshRollup("events", "events_rollup", Seq("kind"),
        Seq(("n", "count", "id"), ("amount", "sum", "amount")))
    }
    before.foreach { from =>
      read(h, "sources.TableStore.changesBetween") {
        store.changesBetween("property_listings", from,
          store.generations("property_listings").last).collect()
      }
    }
    commit(h, "sources.TableStore.compact") {
      store.compact(compactRotation(math.floorMod(b, compactRotation.size)))
    }
  }

  // ---------------------------------------------------------- checks

  /** Order-free canonical form of rows: "col=value" joined, sorted. */
  private def canon(rows: Seq[Row]): Seq[String] =
    rows.map(r => r.schema.fieldNames.sorted.map(f => s"$f=${r.getAs[Any](f)}").mkString("|")).sorted

  /** ON CONFLICT DO NOTHING replay: per batch, dedupe by key keeping the
    * smallest tie-break, insert keys not yet present; with `delist`,
    * rows whose key is absent from the batch move to the archive.
    */
  private def replayUpsert(batches: Seq[Seq[Row]], keys: Seq[String], tie: String,
                           delist: Boolean): (Seq[Row], Seq[Row]) = {
    val live = mutable.LinkedHashMap.empty[Seq[Any], Row]
    val archived = ArrayBuffer.empty[Row]
    def keyOf(r: Row) = keys.map(k => r.getAs[Any](k))
    batches.foreach { rows =>
      val deduped = rows.groupBy(keyOf).values.map(_.minBy(_.getAs[String](tie)))
      deduped.foreach(r => if (!live.contains(keyOf(r))) live(keyOf(r)) = r)
      if (delist) {
        val present = rows.map(keyOf).toSet
        live.keys.filterNot(present).toSeq.foreach(key => archived += live.remove(key).get)
      }
    }
    (live.values.toSeq, archived.toSeq)
  }

  def check(h: Harness): Seq[(String, Boolean, String)] = {
    val batches = consumed.toSeq
    val listingFeeds = batches.map(b => listings.combine(
      Seq(listings.normalizeAv(avFeed(h, b), "Edmonton"), listings.normalizeOmada(omadaFeed(h, b)),
        listings.normalizeRoyalPark(royalParkFeed(h, b))), brochure, osm, zoning).collect().toSeq)
    val (liveL, archL) = replayUpsert(listingFeeds, Seq("latitude", "longitude", "address"),
      "uuid", delist = true)
    val permitFeeds = batches.map(b =>
      permits.withCoordinates(permits.normalize(permitFeed(h, b), cutoffDate)).collect().toSeq)
    val (liveP, _) = replayUpsert(permitFeeds, Seq("latitude", "longitude", "issue_date"),
      "uuid", delist = false)
    val rentFeeds = batches.map(b => rentals.explodeUnits(rentalFeed(h, b)).collect().toSeq)
    val (liveR, _) = replayUpsert(rentFeeds,
      Seq("building", "address", "rental_rate", "bedrooms", "bathrooms", "size"), "uuid",
      delist = false)
    val events = batches.flatMap(b => Gen.events(seed, b, eventsPerBatch))
    def table(t: String) = canon(store.read(t).collect().toSeq)
    val gotEvents = store.read("events").select("id", "kind", "amount").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1)
    val rollupWant = events.groupBy(_.kind).map { case (kd, es) =>
      s"$kd ${es.size} ${es.map(_.amount).sum}" }.toSeq.sorted
    val rollupGot = store.read("events_rollup").collect().map(r =>
      s"${r.getAs[String]("kind")} ${r.getAs[Long]("n")} ${r.getAs[Long]("amount")}").toSeq.sorted
    val pinnedNow = canon(store.readAt("property_listings", pinnedGen).collect().toSeq)
    Seq(
      ("ingest.listings_live", table("property_listings") == canon(liveL),
        s"${liveL.size} live rows after ${batches.size} batches"),
      ("ingest.listings_archived", table("archived_listings") == canon(archL),
        s"${archL.size} archived rows"),
      ("ingest.permits_live", table("building_permits") == canon(liveP), s"${liveP.size} rows"),
      ("ingest.rentals_live", table("rent_listings") == canon(liveR), s"${liveR.size} rows"),
      ("ingest.stream_exactly_once", gotEvents == events.map(e => (e.id, e.kind, e.amount)).sortBy(_._1),
        s"${events.size} events"),
      ("ingest.rollup", rollupGot == rollupWant, s"${rollupWant.size} groups"),
      ("ingest.pinned_generation", pinnedNow == pinnedRows,
        s"generation $pinnedGen, ${pinnedRows.size} rows"))
  }

  /** Bytes of the timed batches' inputs, each feed written once as
    * plain parquet (outside the store).
    */
  private def inputBytes(h: Harness): Long = {
    val dir = new File(s"${h.workdir}/ingest/input-encoded")
    val bs = timedBatches.toSeq
    val feeds: Seq[(String, Int => DataFrame)] = Seq(
      "av" -> (b => avFeed(h, b)), "omada" -> (b => omadaFeed(h, b)),
      "royal_park" -> (b => royalParkFeed(h, b)), "permits" -> (b => permitFeed(h, b)),
      "rentals" -> (b => rentalFeed(h, b)))
    feeds.foreach { case (name, f) =>
      bs.map(f).reduce(_ unionByName _).coalesce(1).write.parquet(s"${dir.getPath}/$name")
    }
    h.spark.createDataFrame(java.util.Arrays.asList(
      bs.flatMap(b => Gen.events(seed, b, eventsPerBatch))
        .map(e => Row(e.id, e.kind, e.amount)): _*), eventSchema)
      .coalesce(1).write.parquet(s"${dir.getPath}/events")
    Stats.walk(dir).collect { case (p, s) if p.endsWith(".parquet") => s.bytes }.sum
  }

  private var amps: Option[(Double, Double)] = None

  override def extras(h: Harness): ListMap[String, (Double, String)] = {
    if (amps.isEmpty && timedBatches.nonEmpty) {
      val onDisk = Stats.walk(root).values.map(_.bytes).sum
      val live = storeTables.filter(store.exists).flatMap(t => store.read(t).inputFiles)
        .distinct.map(f => new File(new java.net.URI(f)).length()).sum
      amps = Some((Stats.writeAmp(bytesWritten, inputBytes(h)), Stats.spaceAmp(onDisk, live)))
    }
    amps.fold(ListMap.empty[String, (Double, String)]) { case (w, s) =>
      ListMap("write_amp" -> (w, "ratio"), "space_amp" -> (s, "ratio"),
        "batches" -> (timedBatches.size.toDouble, "count"))
    }
  }
}
