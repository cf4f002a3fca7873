package graft

import java.nio.file.Files
import java.sql.Date
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.ClassicConversions._
import graft.SparkSpec
import graft.transform.Clean

/** Golden end-to-end test of the full reference DAG (SURVEY.md §3.3) on
  * reference-shaped fixtures, including the towel-set mapping case
  * (README.md:22-24) and the §7.4 quirk policies.
  */
class PipelineSpec extends SparkSpec {

  private val runDate = Date.valueOf("2024-06-01")

  /** Two source feeds with junk rows that must be cleaned (:602-607). */
  private def feeds: Seq[DataFrame] = {
    val feedA = df("sku STRING, qty DOUBLE, site STRING", Seq(
      Row("SET-1 ", 2.0, "Walmart"), Row("B-2", 1.0, "Walmart"),
      Row("sku", null, "Walmart"),      // header echo (:602)
      Row("other", 0.0, "Walmart")))    // missing-file sentinel (:604)
    val feedB = df("sku STRING, qty DOUBLE", Seq(Row("set-1", 1.0))) // no site col (U2)
    Seq(feedA, feedB)
  }

  private def dims: Pipeline.Dims = Pipeline.Dims(
    skuMap = df("sku_part STRING, sku_name STRING, multiplier DOUBLE", Seq(
      Row("set-1", "towel", 3.0),     // 1 set = 3 towels
      Row("set-1", "soap", 1.0),
      Row("b-2", "b-2w", 1.0),
      Row("ghost", "ghost-w", 2.0))), // never sold → 0.0 (§7.4-a)
    salesMap = df("SKU STRING, cost DOUBLE, brand STRING", Seq(
      Row("set-1", 10.0, "brand1"), Row("b-2", 4.0, "brand2"))),
    stock = df("sku STRING, qty DOUBLE, subcategory STRING, color STRING, brand STRING", Seq(
      Row("towel", 100.0, "bath", "red", "brand1"),
      Row("soap", 50.0, "bath", "white", "brand1"),
      Row("untouched", 7.0, "misc", "blue", "brand2"))),
    wholesaleMap = df("sku STRING, brand STRING", Seq(
      Row("towel", "brand1"), Row("soap", "brand1"), Row("b-2w", "brand2"))))

  test("full DAG: union→clean→agg→map→inventory→enrich→split, 11 sinks written") {
    val outDir = Files.createTempDirectory("pipeline").toString
    val o = Pipeline.run(feeds, dims, runDate, outDir)

    // retail agg: set-1 = 2+1 = 3 units, b-2 = 1 (junk rows gone)
    val retail = o.soldValueRetail.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(retail == Map("set-1" -> 3.0, "b-2" -> 1.0))

    // wholesale: towel = 3×3 = 9, soap = 3×1 = 3, b-2w = 1, ghost-w = 0.0
    val ws = o.soldWholesale.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ws == Map("towel" -> 9.0, "soap" -> 3.0, "b-2w" -> 1.0, "ghost-w" -> 0.0))

    // inventory: towel 100−9=91, soap 50−3=47, untouched keeps 7 (fillna)
    val inv = o.newStock.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(inv == Map("towel" -> 91.0, "soap" -> 47.0, "untouched" -> 7.0))

    // enriched totals: set-1 rows qty×10, b-2 qty×4; Year/Month pinned
    val enr = o.enriched.collect()
    assert(enr.forall(r => r.getInt(6) == 2024 && r.getString(7) == "June"))

    // brand splits partition the branded rows (§7.4-h intended semantics)
    assert(o.brandPrimary.count() + o.brandOthers.count() == enr.length)

    // sinks exist on disk
    for (f <- Seq("soldvalueretail.csv", "sold_itemswholesale.csv", "newstock.csv",
      "newstock_copy1.csv", "newstock_copy2.csv"))
      assert(new java.io.File(s"$outDir/$f").exists(), s"missing sink $f")
  }

  test("run releases its per-run cache, also when a sink write throws") {
    // the test session is shared by every suite: a leaked entry would be
    // substituted into later suites' plans
    val frames = feeds
    def cachedFact = spark.sharedState.cacheManager.lookupCachedData(Clean.cleanSales(frames))
    Pipeline.run(frames, dims, runDate, Files.createTempDirectory("release").toString)
    assert(cachedFact.isEmpty, "cleaned fact still cached after run")
    // a regular file where the output directory should be: the first sink throws
    val notADir = Files.createTempFile("release", ".out").toString
    intercept[Exception](Pipeline.run(frames, dims, runDate, notADir))
    assert(cachedFact.isEmpty, "cleaned fact still cached after a failed run")
  }

  test("read-overwrite cycle: fan-out materializes before overwriting its input (§7.4-d)") {
    val dir = Files.createTempDirectory("overwrite").toString
    val src = s"$dir/stock.csv"
    df("sku STRING, qty DOUBLE", Seq(Row("a", 5.0), Row("b", 2.0)))
      .coalesce(1).write.option("header", "true").csv(src)
    val stock = spark.read.option("header", "true").csv(src)
    val decremented = stock.selectExpr("sku", "CAST(qty AS DOUBLE) - 1.0 AS qty")
    // overwrite the very file we read from — must not truncate mid-read
    load.Sinks.csvFanOut(decremented, Seq(src, s"$dir/copy.csv"))
    val back = spark.read.option("header", "true").csv(src).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back == Map("a" -> "4.0", "b" -> "1.0"))
  }
}
