package perfbench

import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Pipeline, Tables}
import graft.extract.{Excel, Feeds, FileFeed, Payloads}
import graft.load.Sinks
import graft.transform.{Aggregate, Clean, Enrich, Inventory}
import perfbench.Main.{median, num, probe, tail, timed}

/** The per-layer metric names, in the order they are reported. A workload
  * that never enters a layer reports 0 for it.
  */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "extract.payloads_s" -> "s", "extract.feeds_s" -> "s", "extract.excel_s" -> "s",
    "extract.rows" -> "count",
    "transform.clean_s" -> "s", "transform.aggregate_s" -> "s", "transform.inventory_s" -> "s",
    "transform.enrich_s" -> "s",
    "load.sinks_s" -> "s", "load.bytes_written" -> "bytes", "load.files" -> "count",
    "pipeline.build_s" -> "s",
    "registry.build_s" -> "s", "registry.probe_s" -> "s", "driver.outside_jobs_s" -> "s",
    "spark.actions" -> "count", "spark.jobs" -> "count", "spark.fact_scans" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_s" -> "s", "spark.task_wait_s" -> "s", "spark.task_skew" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.storage_peak_mb" -> "MB",
    "sql.analysis_s" -> "s", "sql.optimization_s" -> "s", "sql.planning_s" -> "s",
    "trace.overhead_s" -> "s")

  /** Every per-layer metric, taking the given value where there is one. */
  def complete(given: Seq[Metric]): Seq[Metric] = {
    val m = given.map(g => g.name -> g.value).toMap
    names.map { case (n, u) => Metric(n, m.getOrElse(n, 0.0), u) }
  }

  def spark(c: Counters): Seq[Metric] = Seq(
    Metric("spark.actions", c.actions, "count"), Metric("spark.jobs", c.jobs, "count"),
    Metric("spark.fact_scans", c.factScans, "count"), Metric("spark.stages", c.stages, "count"),
    Metric("spark.tasks", c.tasks, "count"), Metric("spark.task_busy_s", c.taskBusyMs / 1000.0, "s"),
    Metric("spark.task_wait_s", c.taskWaitMs / 1000.0, "s"), Metric("spark.task_skew", c.skew, "ratio"),
    Metric("spark.shuffle_write_bytes", c.shuffleWrite, "bytes"),
    Metric("spark.shuffle_read_bytes", c.shuffleRead, "bytes"),
    Metric("spark.spill_bytes", c.spill, "bytes"),
    Metric("sql.analysis_s", c.analysisMs / 1000.0, "s"),
    Metric("sql.optimization_s", c.optimizationMs / 1000.0, "s"),
    Metric("sql.planning_s", c.planningMs / 1000.0, "s"))
}

/** The `etl_feeds` workload: one unit is one whole batch, as a daily user
  * runs it: all 13 extractor calls, the dimension reads, then
  * `Pipeline.run` writing its 11 CSV sinks.
  */
object Etl {
  val runDate: Date = Date.valueOf("2024-06-01")
  /** `Pipeline.run`'s default brand split. */
  val Primary = "brand1"
  val Others = Seq("brand2", "brand3")
  /** Assumed traffic, not measured: the repo holds no real feed. The sizes
    * are chosen to fit a run's time budget (perfbench/NOTES.md).
    */
  val FeedSizes = Gen.FeedSizes(pages = 10, ordersPerPage = 33, csvRows = 2000, excelRows = 1000)

  /** The 11 sinks `Pipeline.run` writes, relative to its output directory. */
  val sinks: Seq[String] = Seq("soldvalueretail.csv", "sold_itemswholesale.csv",
    "newstock.csv", "newstock_copy1.csv", "newstock_copy2.csv",
    "brand1_sales/06-01-2024.csv", "brand2_sales/06-01-2024.csv",
    "brand1_sales_agg/06-01-2024-brand1.csv", "brand2_sales_agg/06-01-2024-brand2s.csv",
    "wholesale_brand1/06-01-2024.csv", "wholesale_brand2/06-01-2024.csv")

  /** A generated corpus: where its files are and what the generator knows. */
  final class Inputs(val dir: Path, val parts: IndexedSeq[Part], val tally: Tally) {
    val dimDir: String = dir.resolve("dims").toString
    val feedDir: Path = dir.resolve("feeds")
    def feed(rel: String): String = feedDir.resolve(rel).toString
  }

  def prepare(spark: SparkSession, seed: Long, work: Path): Inputs = {
    val dir = work.resolve("input")
    val parts = Gen.parts(seed)
    Gen.writeParts(spark, parts, dir.resolve("dims"))
    new Inputs(dir, parts, Gen.feeds(seed, FeedSizes, dir.resolve("feeds")))
  }

  /** The extractor calls of one batch as (layer, call). */
  def extractors(spark: SparkSession, in: Inputs): Seq[(String, () => DataFrame)] = {
    val from = Timestamp.valueOf("2024-05-25 00:00:00")
    val to = Timestamp.valueOf("2024-06-01 00:00:00")
    def feed(f: FileFeed): () => DataFrame = () => Feeds.read(spark, f)
    Seq(
      "extract.payloads" -> (() => Payloads.walmart(spark, in.feed("walmart"))),
      "extract.payloads" -> (() => Payloads.houzz(spark, in.feed("houzz"))),
      "extract.payloads" -> (() => Payloads.faire(spark, in.feed("faire"))),
      "extract.payloads" -> (() => Payloads.wooCommerce(spark, in.feed("woocommerce"), "brand1site", from, to)),
      "extract.payloads" -> (() => Payloads.dsco(spark, in.feed("dsco"), "tenant1", from, to)),
      "extract.payloads" -> (() => Payloads.mirakl(spark, in.feed("mirakl"), "mirakl1")),
      "extract.payloads" -> (() => Payloads.wayfair(spark, in.feed("wayfair"))),
      "extract.feeds" -> feed(FileFeed(in.feed("macys.csv"), headerOffset = 4,
        renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"), siteColumn = Some("Merchant"))),
      "extract.feeds" -> feed(FileFeed(in.feed("amazon.txt"), sep = "\t",
        renames = Map("quantity" -> "qty"), siteLiteral = Some("Amazon"))),
      "extract.feeds" -> feed(FileFeed(in.feed("tom.csv"),
        renames = Map("Item SKU" -> "sku", "Qty" -> "qty"), siteLiteral = Some("Touch OF Modern"))),
      "extract.feeds" -> feed(FileFeed(in.feed("hsn.csv"), siteLiteral = Some("HSN"))),
      "extract.feeds" -> feed(FileFeed(in.feed("rue.csv"),
        renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"), siteLiteral = Some("Ruelala & Gilt"))),
      "extract.excel" -> (() => Excel.readFeed(spark, FileFeed(in.feed("walmart.xlsx"),
        siteLiteral = Some("Walmart")))))
  }

  def dims(spark: SparkSession, in: Inputs): Pipeline.Dims = Pipeline.Dims(
    Tables.skuMap(spark, in.dimDir), Tables.salesMap(spark, in.dimDir),
    Tables.stock(spark, in.dimDir), Tables.wholesaleMap(spark, in.dimDir))

  /** One batch. With a tracer, each extractor call, the dimension reads and
    * `Pipeline.run` get a span; the sinks inside `run` are told apart by
    * their SQL executions afterwards.
    */
  def unit(spark: SparkSession, in: Inputs, out: Path, tr: Option[Tracer] = None): Unit = {
    def span[T](name: String)(body: => T): T = tr.fold(body)(_(name)(body))
    val frames = extractors(spark, in).map { case (layer, call) => span(layer)(call()) }
    val d = span("tables.dims")(dims(spark, in))
    span("pipeline.run")(Pipeline.run(frames, d, runDate, out.toString))
  }

  /** `Pipeline.build`'s DAG wired call by call, so each transform call can
    * be wrapped in `step(layer)`. [[drift]] checks that it still matches.
    */
  def wire(frames: Seq[DataFrame], d: Pipeline.Dims,
           step: String => (=> DataFrame) => DataFrame): Pipeline.Outputs = {
    val sales = step("transform.clean")(Clean.cleanSales(frames))
    val soldValue = step("transform.aggregate")(Aggregate.retailAgg(sales))
    val finalResult = step("transform.aggregate")(Aggregate.wholesaleAgg(soldValue, d.skuMap))
    val newStock = step("transform.inventory")(Inventory.decrement(d.stock, finalResult))
    val wholesale = step("transform.enrich")(Enrich.enrichWholesale(finalResult, d.wholesaleMap, runDate))
    val enriched = step("transform.enrich")(Enrich.enrichSales(sales, d.salesMap, runDate))
    val (bp, bo) = Enrich.splitByBrand(enriched, Primary, Others)
    val (wp, wo) = Enrich.splitByBrand(wholesale, Primary, Others)
    val Seq(bPrimary, bOthers, wPrimary, wOthers) = Seq(bp, bo, wp, wo).map(f => step("transform.enrich")(f))
    Pipeline.Outputs(soldValue, finalResult, newStock, enriched, bPrimary, bOthers,
      step("transform.aggregate")(Aggregate.brandAgg(bPrimary)),
      step("transform.aggregate")(Aggregate.brandAgg(bOthers)), wPrimary, wOthers)
  }

  /** The outputs where [[wire]] no longer builds the same analyzed plan as
    * `Pipeline.build` on the same inputs: its layer times would then time
    * some other DAG than the one `Pipeline.run` executes.
    */
  def drift(spark: SparkSession, in: Inputs): Seq[String] = {
    val frames = extractors(spark, in).map(_._2())
    val d = dims(spark, in)
    def fields(o: Pipeline.Outputs) = o.productElementNames.zip(o.productIterator.map(_.asInstanceOf[DataFrame]))
    val real = fields(Pipeline.build(frames, d, runDate, Primary, Others)).toSeq
    val copy = fields(wire(frames, d, _ => df => df)).toMap
    real.collect { case (name, df) if !df.queryExecution.analyzed.sameResult(copy(name).queryExecution.analyzed) =>
      name }
  }

  /** The layer-isolated pass of a traced run: each layer's inputs are
    * pinned (local checkpoint) before its call, and its output is probed
    * inside the span, so a span holds that layer's own work and nothing
    * upstream of it. Returns the number of rows the extractors produced.
    */
  def layered(spark: SparkSession, in: Inputs, out: Path, tr: Tracer): Long = {
    def pin(df: DataFrame) = df.localCheckpoint(true)
    var extracted = 0L
    def step(layer: String)(df: => DataFrame): DataFrame = pin(tr(layer) {
      val d = df
      val rows = probe(d)._1
      if (layer.startsWith("extract.")) extracted += rows
      d
    })
    val frames = extractors(spark, in).map { case (layer, call) => step(layer)(call()) }
    val d = tr("tables.dims")(dims(spark, in))
    val dp = Pipeline.Dims(pin(d.skuMap), pin(d.salesMap), pin(d.stock), pin(d.wholesaleMap))
    tr("pipeline.build")(Pipeline.build(frames, dp, runDate, Primary, Others))
    val w = wire(frames, dp, layer => df => step(layer)(df))
    val day = runDate.toLocalDate
    val o = out.toString
    // the same nine sink calls, in the same order, as Pipeline.run makes
    tr("load.sinks") {
      Sinks.csvReport(w.soldValueRetail, s"$o/soldvalueretail.csv")
      Sinks.csvReport(w.soldWholesale, s"$o/sold_itemswholesale.csv")
      Sinks.csvFanOut(w.newStock, Seq(s"$o/newstock.csv", s"$o/newstock_copy1.csv", s"$o/newstock_copy2.csv"))
      Sinks.datedCsv(w.brandPrimary, s"$o/brand1_sales", day)
      Sinks.datedCsv(w.brandOthers, s"$o/brand2_sales", day)
      Sinks.datedCsv(w.brandPrimaryAgg, s"$o/brand1_sales_agg", day, "-brand1")
      Sinks.datedCsv(w.brandOthersAgg, s"$o/brand2_sales_agg", day, "-brand2s")
      Sinks.datedCsv(w.wholesalePrimary, s"$o/wholesale_brand1", day)
      Sinks.datedCsv(w.wholesaleOthers, s"$o/wholesale_brand2", day)
    }
    extracted
  }

  /** The part files of a CSV sink, in name order. */
  def partFiles(dir: Path): IndexedSeq[Path] = {
    val ps = Files.list(dir)
    try ps.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toIndexedSeq.sortBy(_.toString)
    finally ps.close()
  }

  /** Data lines of a CSV sink (all part files, header dropped). */
  def lines(dir: Path): IndexedSeq[String] = partFiles(dir).flatMap(f => Files.readAllLines(f).asScala.drop(1))

  /** Row-order-independent checksum of a sink: line count and the sum of
    * a 64-bit hash of every data line.
    */
  def checksum(ls: Seq[String]): String = {
    import scala.util.hashing.MurmurHash3.stringHash
    val sum = ls.foldLeft(0L)((acc, l) => acc + ((stringHash(l, 17).toLong << 32) ^ (stringHash(l, 31) & 0xffffffffL)))
    f"${ls.size}:$sum%016x"
  }

  /** Checks one batch's sinks against what the generator's tally implies.
    * Returns each sink's checksum and the mismatches found.
    */
  def verify(out: Path, in: Inputs): (Seq[String], Seq[String]) = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    def d(s: String): Option[Double] = if (s.isEmpty) None else Some(s.toDouble)
    def table(sink: String): (Map[String, Int], IndexedSeq[Array[String]]) = {
      val dir = out.resolve(sink)
      val header = partFiles(dir).headOption.flatMap(f => Files.readAllLines(f).asScala.headOption).getOrElse("")
      (header.split(",", -1).zipWithIndex.toMap, lines(dir).map(_.split(",", -1)))
    }
    def keyed(sink: String, key: String, v: String): Map[String, Option[Double]] = {
      val (h, rows) = table(sink)
      if (rows.map(_(h(key))).distinct.size != rows.size) errs += s"$sink: duplicate $key"
      rows.map(r => r(h(key)) -> d(r(h(v)))).toMap
    }
    def same(sink: String, got: Map[String, Option[Double]], want: Map[String, Option[Double]]): Unit = {
      val bad = (got.keySet ++ want.keySet).filterNot { k =>
        (got.get(k).flatten, want.get(k).flatten) match {
          case (Some(a), Some(b)) => near(a, b)
          case (a, b) => a == b && got.contains(k) == want.contains(k)
        }
      }
      if (bad.nonEmpty) errs += s"$sink: ${bad.size} keys differ, e.g. ${bad.head}: ${got.get(bad.head)} vs ${want.get(bad.head)}"
    }
    val t = in.tally
    val byKey = in.parts.map(p => p.key.toString -> p).toMap
    val retail: Map[String, Option[Double]] = t.rows.keys.map(s => s -> t.sum.get(s)).toMap
    same("soldvalueretail.csv", keyed("soldvalueretail.csv", "sku", "qty"), retail)
    val byName = in.parts.groupBy(_.name)
    val wholesale = byName.map { case (n, ps) =>
      n -> ps.flatMap(p => retail.get(p.key.toString).flatten.map(_ * p.size)).sum }
    same("sold_itemswholesale.csv", keyed("sold_itemswholesale.csv", "sku", "qty"), wholesale.map { case (k, v) => k -> Some(v) })
    val newStock = byName.map { case (n, ps) => n -> Some(ps.map(_.size * 100.0).sum - wholesale(n)) }
    Seq("newstock.csv", "newstock_copy1.csv", "newstock_copy2.csv").foreach(s => same(s, keyed(s, "sku", "qty"), newStock))
    Seq("brand1" -> Set(Primary), "brand2" -> Others.toSet).foreach { case (tag, brands) =>
      val skus = t.rows.keys.filter(s => byKey.get(s).exists(p => brands(p.brand))).toSeq
      val (h, rows) = table(s"${tag}_sales/06-01-2024.csv")
      val wantRows = skus.map(t.rows).sum
      val wantQty = skus.flatMap(t.sum.get).sum
      val gotQty = rows.flatMap(r => d(r(h("qty")))).sum
      if (rows.size != wantRows || !near(gotQty, wantQty))
        errs += s"${tag}_sales: ${rows.size} rows / qty $gotQty, want $wantRows / $wantQty"
      val suffix = if (tag == "brand1") "-brand1" else "-brand2s"
      same(s"${tag}_sales_agg", keyed(s"${tag}_sales_agg/06-01-2024$suffix.csv", "sku", "total"),
        skus.map(s => s -> t.sum.get(s).map(_ * byKey(s).price)).toMap)
      val wsBrand = byName.map { case (n, ps) => n -> ps.map(_.brand).min }
      same(s"wholesale_$tag", keyed(s"wholesale_$tag/06-01-2024.csv", "sku", "qty"),
        wholesale.filter { case (n, _) => brands(wsBrand(n)) }.map { case (k, v) => k -> Some(v) })
    }
    (sinks.map(s => checksum(lines(out.resolve(s)))), errs.toSeq)
  }

  /** Bytes and count of the regular files under `dir` that `keep` accepts. */
  def sizeOf(dir: Path, keep: Path => Boolean): (Long, Long) = if (!Files.exists(dir)) (0L, 0L) else {
    val files = Files.walk(dir)
    try {
      val data = files.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p)).toSeq
      (data.map(Files.size).sum, data.size.toLong)
    } finally files.close()
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, traced: Boolean,
          work: Path, peak: BlockPeak): Result = {
    val in = prepare(spark, seed, work)
    var n = 0
    var failed = 0
    var reference: Option[Seq[String]] = None
    val wrong = scala.collection.mutable.ArrayBuffer.empty[String]
    // one timed batch, then its outputs checked and removed (untimed)
    def batch(tr: Option[Tracer] = None, keep: Boolean = false): Double = {
      n += 1
      val out = work.resolve(s"out-$n")
      val (ran, s) = timed(Try(unit(spark, in, out, tr)))
      ran.failed.foreach { e => failed += 1; wrong += s"batch $n threw $e" }
      if (ran.isSuccess) check(out)
      if (!keep) Main.deleteTree(out)
      s
    }
    def check(out: Path, more: Seq[String] = Nil): Unit = {
      val (sums, errs) = verify(out, in)
      if (reference.isEmpty) reference = Some(sums)
      val differ = if (reference.contains(sums)) Nil else Seq(s"sink checksums differ from the first batch: $sums")
      if (more.nonEmpty || errs.nonEmpty || differ.nonEmpty) { failed += 1; wrong ++= (more ++ errs ++ differ).take(3) }
    }
    val cold = batch()
    val t = System.nanoTime()
    val warm = scala.collection.mutable.ArrayBuffer(batch())
    while ((System.nanoTime() - t) / 1e9 < seconds) warm += batch()
    val lineItems = in.tally.lineItems.toDouble
    val storageMb = peak.peak / 1048576.0
    val (inputBytes, inputFiles) = sizeOf(in.feedDir, _ => true)
    val info = Seq(
      "storage_peak_mb" -> num(storageMb),
      "line_items" -> lineItems.toLong.toString,
      "input_files" -> inputFiles.toString,
      "input_bytes" -> inputBytes.toString,
      "warm_batches" -> warm.size.toString,
      tail(warm))
    // read at the end, after the traced units too
    def wrongJson = "wrong" -> wrong.map(w => "\"" + w.replace("\"", "'") + "\"").mkString("[", ",", "]")
    if (!traced) {
      Result(n, failed, Seq(
        Metric("cold_s", cold, "s"),
        Metric("wall_s", median(warm), "s"),
        // one warm pass of an ETL workload is one batch
        Metric("total_s", median(warm), "s"),
        Metric("rows_per_s", lineItems / median(warm), "rows/s")), info :+ wrongJson)
    } else {
      val rec = Recorder.install(spark, in.feedDir.toString)
      val tr = new Tracer(spark)
      val tracedS = batch(Some(tr), keep = true)
      rec.drain()
      val realSpans = tr.spans.toSeq
      val c = new Counters
      realSpans.foreach(s => c.add(rec.forGroup(s.group)))
      val (bytes, files) = sizeOf(work.resolve(s"out-$n"), _.getFileName.toString.startsWith("part-"))
      Main.deleteTree(work.resolve(s"out-$n"))
      // per-sink breakdown of the real run, from its SQL executions
      val run = realSpans.find(_.name == "pipeline.run").get
      val perSink = rec.executions(run.group).map { x =>
        val target = sinks.find(s => x.planDesc.contains("/" + s)).getOrElse("-")
        s"""{"sink":"$target","ms":${x.end - x.start},"jobs":${x.counters.jobs},"fact_scans":${x.counters.factScans}}"""
      }
      val isoOut = work.resolve("out-layered")
      val drifted = drift(spark, in)
      val extracted = tr("layered")(layered(spark, in, isoOut, tr))
      n += 1
      check(isoOut, drifted.map(f => s"layered pass no longer wires Pipeline.build: $f differs"))
      Main.deleteTree(isoOut)
      rec.drain()
      tr.write(work.resolve("trace.jsonl"), rec)
      // layer self times: the isolated pass's spans, summed per layer name
      val layerS = tr.spans.drop(realSpans.size).groupBy(_.name)
        .map { case (name, ss) => Metric(name + "_s", ss.map(_.seconds).sum, "s") }
      Result(n, failed, Layers.complete(layerS.toSeq ++ Seq(
        Metric("extract.rows", extracted, "count"),
        Metric("load.bytes_written", bytes, "bytes"),
        Metric("load.files", files, "count"),
        Metric("spark.storage_peak_mb", storageMb, "MB"),
        Metric("trace.overhead_s", tracedS - median(warm), "s")) ++ Layers.spark(c)),
        info :+ wrongJson :+ ("sinks" -> perSink.mkString("[", ",", "]")))
    }
  }
}
