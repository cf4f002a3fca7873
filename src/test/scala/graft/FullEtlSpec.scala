package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.util.{Collections, IdentityHashMap}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanExec, QueryExecution,
  RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.{FileScanRDD, InsertIntoHadoopFsRelationCommand}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.extract.{Excel, Feeds, FileFeed, Payloads}

/** The whole reference program end-to-end (SURVEY.md §3): all 13 source
  * extractors (7 API payload shapes + 5 flat-file feeds + 1 Excel feed)
  * feed the full transform DAG and its 11 sinks — the integration
  * equivalent of running portfolio-etl.py once.
  */
class FullEtlSpec extends SparkSpec {

  /** The 13 extractor outputs over freshly written source files, and the
    * paths of the 11 file-backed ones (the HSN and Excel feeds are missing
    * files).
    */
  private def sources(): (Seq[DataFrame], Seq[String]) = {
    val files = Seq.newBuilder[String]
    def tmp(name: String, content: String): String = {
      val dir = Files.createTempDirectory("etl")
      val f = dir.resolve(name); Files.writeString(f, content)
      files += f.toString; f.toString
    }
    val from = Timestamp.valueOf("2024-05-25 00:00:00")
    val to = Timestamp.valueOf("2024-06-01 00:00:00")

    // --- API payloads (S3-S9) -------------------------------------------
    val walmart = Payloads.walmart(spark, tmp("w.json",
      """{"list":{"elements":{"order":[{"orderLines":{"orderLine":[
        |{"item":{"sku":"A-1"},"orderLineQuantity":{"amount":"2"}}]}}]}}}""".stripMargin))
    val houzz = Payloads.houzz(spark, tmp("h.xml",
      "<Orders><Order><OrderItem><SKU>A-1</SKU><Quantity>1</Quantity></OrderItem></Order></Orders>"))
    val faire = Payloads.faire(spark, tmp("f.json",
      """{"orders":[{"items":[{"sku":"B-2","quantity":3}]}]}"""))
    val woo = Payloads.wooCommerce(spark, tmp("c.json",
      """[{"date_created":"2024-05-30T10:00:00","line_items":[{"sku":"B-2","quantity":1}]}]"""),
      "brand1site", from, to)
    val dsco = Payloads.dsco(spark, tmp("d.json",
      """{"orders":[{"dscoCreateDate":"2024-05-29T08:00:00","lineItems":[{"sku":"A-1","quantity":4}]}]}"""),
      "tenant1", from, to)
    val mirakl = Payloads.mirakl(spark, tmp("m.json",
      """{"orders":[{"order_state":"SHIPPING","order_lines":[{"offer_sku":"C-3","quantity":2}]},
        |{"order_state":"CANCELED","order_lines":[{"offer_sku":"C-3","quantity":99}]}]}""".stripMargin),
      "mirakl1")
    val wayfair = Payloads.wayfair(spark, tmp("y.json",
      """{"data":{"getDropshipPurchaseOrders":[{"products":[{"partNumber":"C-3","quantity":1}]}]}}"""))

    // --- file feeds (S10-S14) -------------------------------------------
    val macys = Feeds.read(spark, FileFeed(
      tmp("macys.csv", "junk\njunk\njunk\njunk\nVendor SKU,Quantity,Merchant\nA-1,2,macys\n"),
      headerOffset = 4, renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"),
      siteColumn = Some("Merchant")))
    val amazon = Feeds.read(spark, FileFeed(
      tmp("amazon.txt", "sku\tquantity\nB-2\t5\nsku\tquantity\n"), sep = "\t",
      renames = Map("quantity" -> "qty"), siteLiteral = Some("Amazon")))
    val tom = Feeds.read(spark, FileFeed(
      tmp("tom.csv", "Item SKU,Qty\nC-3,1\n"),
      renames = Map("Item SKU" -> "sku", "Qty" -> "qty"), siteLiteral = Some("Touch OF Modern")))
    val missing = Feeds.read(spark, FileFeed("/nope/hsn.csv", siteLiteral = Some("HSN")))
    val rue = Feeds.read(spark, FileFeed(
      tmp("rue.csv", "Vendor SKU,Quantity\nA-1,1\n"),
      renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"), siteLiteral = Some("Ruelala & Gilt")))
    val excel = Excel.readFeed(spark, FileFeed("/nope/walmart.xlsx", siteLiteral = Some("Walmart")))

    (Seq(walmart, houzz, faire, woo, dsco, mirakl, wayfair,
      macys, amazon, tom, missing, rue, excel), files.result())
  }

  private def dims: Pipeline.Dims = Pipeline.Dims(
    skuMap = df("sku_part STRING, sku_name STRING, multiplier DOUBLE", Seq(
      Row("a-1", "alpha", 2.0), Row("b-2", "beta", 1.0), Row("c-3", "gamma", 1.0))),
    salesMap = df("SKU STRING, cost DOUBLE, brand STRING", Seq(
      Row("a-1", 10.0, "brand1"), Row("b-2", 5.0, "brand2"), Row("c-3", 2.0, "brand3"))),
    stock = df("sku STRING, qty DOUBLE, subcategory STRING, color STRING, brand STRING", Seq(
      Row("alpha", 100.0, "s", "c", "brand1"), Row("beta", 50.0, "s", "c", "brand2"),
      Row("gamma", 20.0, "s", "c", "brand3"))),
    wholesaleMap = df("sku STRING, brand STRING", Seq(
      Row("alpha", "brand1"), Row("beta", "brand2"), Row("gamma", "brand3"))))

  test("13 extractors → clean → aggregate → map → enrich → 11 sinks") {
    val (frames, _) = sources()
    val outDir = Files.createTempDirectory("etl_out").toString
    val o = Pipeline.run(frames, dims, Date.valueOf("2024-06-01"), outDir)

    // retail units: A-1: 2+1+4+2+1 = 10, B-2: 3+1+5 = 9, C-3: 2+1+1 = 4
    // (CANCELED mirakl row and all sentinels/header echoes must be gone)
    val retail = o.soldValueRetail.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(retail == Map("a-1" -> 10.0, "b-2" -> 9.0, "c-3" -> 4.0))

    // wholesale: alpha = 10×2 = 20, beta = 9, gamma = 4
    val ws = o.soldWholesale.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ws == Map("alpha" -> 20.0, "beta" -> 9.0, "gamma" -> 4.0))

    // inventory decremented
    val inv = o.newStock.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(inv == Map("alpha" -> 80.0, "beta" -> 41.0, "gamma" -> 16.0))

    // all 9 sink directories written
    val sinks = new java.io.File(outDir).listFiles().map(_.getName).toSet
    assert(Seq("soldvalueretail.csv", "sold_itemswholesale.csv", "newstock.csv",
      "newstock_copy1.csv", "newstock_copy2.csv", "brand1_sales", "brand2_sales",
      "wholesale_brand1", "wholesale_brand2").forall(sinks.contains), s"sinks: $sinks")
  }

  test("run scans each file-backed feed once; every other sink reads the cache") {
    val (frames, files) = sources()
    val outDir = Files.createTempDirectory("etl_once").toString
    // the run's SQL executions are its sink writes, all under outDir
    val writes = new ConcurrentLinkedQueue[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed match {
          case w: InsertIntoHadoopFsRelationCommand if w.outputPath.toString.contains(outDir) =>
            writes.add(w.outputPath.toString -> qe.executedPlan)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Pipeline.run(frames, dims, Date.valueOf("2024-06-01"), outDir)
      // listener events arrive asynchronously and in order: wait for the last sink's
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!writes.asScala.exists(_._1.contains("wholesale_brand2")) && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val execs = writes.asScala.toSeq
    // 11 sink files plus the fan-out's temp parquet write
    assert(execs.size == 12, s"${execs.size} sink executions")

    // Nodes of a final plan. A cached frame's plan is one shared instance,
    // so a scan under it is the same node in every execution that reads it.
    def nodes(p: SparkPlan, intoCache: Boolean): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, intoCache)
      case s: QueryStageExec => nodes(s.plan, intoCache)
      case m: InMemoryTableScanExec if intoCache => nodes(m.relation.cachedPlan, intoCache)
      case _ => p.children.flatMap(nodes(_, intoCache))
    })
    // The files a leaf reads: a file scan's paths, or the files under an RDD
    // scan's lineage (the preamble-skipping feed reads its file as an RDD).
    def rddFiles(r: RDD[_]): Seq[String] = r match {
      case f: FileScanRDD => f.filePartitions.flatMap(_.files.map(_.toPath.toUri.getPath))
      case _ => r.dependencies.flatMap(d => rddFiles(d.rdd))
    }
    def reads(p: SparkPlan): Seq[String] = p match {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toUri.getPath)
      case s: RDDScanExec => rddFiles(s.rdd)
      case s: ExternalRDDScanExec[_] => rddFiles(s.rdd)
      case _ => Nil
    }
    def feedScans(p: SparkPlan, intoCache: Boolean): Seq[SparkPlan] =
      nodes(p, intoCache).filter(reads(_).exists(files.contains))
    // no sink plan scans a feed itself: they all read the cache or the
    // fan-out's materialized copy
    execs.foreach { case (path, p) =>
      assert(feedScans(p, intoCache = false).isEmpty, s"$path scans a feed directly")
      assert(nodes(p, intoCache = false).exists {
        case _: InMemoryTableScanExec => true
        case n => reads(n).exists(_.contains("__materialize_tmp__"))
      }, s"$path reads neither the cache nor the fan-out copy")
    }
    // one scan node per feed over the whole run: the one under the cached fact
    val seen = Collections.newSetFromMap(new IdentityHashMap[SparkPlan, java.lang.Boolean])
    val scans = execs.flatMap { case (_, p) => feedScans(p, intoCache = true) }.filter(seen.add)
    assert(files.size == 11)
    files.foreach { f =>
      val n = scans.count(reads(_).contains(f))
      assert(n == 1, s"$f has $n scan nodes")
    }
  }
}
