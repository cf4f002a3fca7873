package graft

import java.sql.Date
import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.load.Sinks
import graft.transform.{Aggregate, Clean, Enrich, Inventory}

/** The reference's full transform DAG (portfolio-etl.py:581-775, SURVEY.md
  * §3.3) with 11 sink outputs (2 aggregate reports, a 3-path inventory
  * fan-out, and 6 dated brand / wholesale reports). [[Pipeline.build]]
  * returns every output as a lazy Spark plan; [[Pipeline.run]] executes
  * them and writes the sinks.
  *
  * Divergences from the reference, all documented in SURVEY.md §7.4:
  * the cross-frame mask bug at :769 is implemented with its intended
  * semantics; the double-counted walmart frame (:585/:588) is counted once;
  * pandas' CSV index column is not written; `newstock` is materialized
  * before being overwritten (the reference reads and rewrites the same file).
  *
  * Every join is a broadcast join against a mapping dim and every
  * aggregation is a partial+final hash agg, so within one plan the only
  * shuffles at scale are the three aggregation exchanges (A1-A3).
  *
  * Per-run cache. The reference builds its cleaned `sales` frame once and
  * every report reuses it (:581-595). Lazy plans lose that sharing: each
  * of the 9 sink actions would re-read every source, re-clean and
  * re-aggregate. [[Pipeline.run]] therefore persists three frames for the
  * length of the run, so each source is read once per run:
  *  - the cleaned, unioned `sales` fact, which both branches read;
  *  - `soldValue` and `finalResult`, the SKU-bounded chain under the
  *    retail, wholesale, newstock and wholesale-split sinks.
  * It uses `persist` (MEMORY_AND_DISK), not `localCheckpoint`: a lost cache
  * block recomputes from lineage, the returned [[Outputs]] keep their
  * lineage and stay valid after the release, and the analyzed plans stay
  * those of [[Pipeline.build]]. The cache is filled by the first sink,
  * `soldvalueretail`, whose aggregation exchange runs the fill in parallel
  * tasks; a `coalesce(1)` sink placed first would fill it in a single task.
  * All three frames are unpersisted in a `finally`, also when a sink write
  * throws, so no cache entry outlives the run in a shared session.
  */
object Pipeline {

  /** All mapping/dimension inputs for one run. */
  final case class Dims(
      skuMap: DataFrame,        // (sku_part, sku_name, multiplier)  :621
      salesMap: DataFrame,      // (SKU, cost, brand)                :659
      stock: DataFrame,         // (sku, qty, subcategory, color, brand) :634
      wholesaleMap: DataFrame)  // (sku, brand)                      :748

  final case class Outputs(
      soldValueRetail: DataFrame,   // :618
      soldWholesale: DataFrame,     // :632
      newStock: DataFrame,          // :648-650
      enriched: DataFrame,          // :672-683
      brandPrimary: DataFrame,      // :688
      brandOthers: DataFrame,       // :689
      brandPrimaryAgg: DataFrame,   // :720-721
      brandOthersAgg: DataFrame,    // :733-734
      wholesalePrimary: DataFrame,  // :769 (intended semantics)
      wholesaleOthers: DataFrame)   // :770

  /** Builds every output frame of the DAG (lazy — nothing executes until a
    * sink action).
    *
    * @param salesFrames the 13 per-source canonical (sku, qty, site) frames
    * @param primaryBrand / otherBrands the brand split literals (:688-689)
    */
  def build(salesFrames: Seq[DataFrame], dims: Dims, runDate: Date,
            primaryBrand: String, otherBrands: Seq[String]): Outputs =
    // :581-607 union + clean
    fromSales(Clean.cleanSales(salesFrames), dims, runDate, primaryBrand, otherBrands)

  /** [[build]] from the already-cleaned `sales` fact. */
  private def fromSales(sales: DataFrame, dims: Dims, runDate: Date,
                        primaryBrand: String, otherBrands: Seq[String]): Outputs = {
    // branch A: retail agg → wholesale mapping (:610-632)
    val soldValue = Aggregate.retailAgg(sales)
    val finalResult = Aggregate.wholesaleAgg(soldValue, dims.skuMap)

    // branch A1: inventory decrement (:634-646)
    val newStock = Inventory.decrement(dims.stock, finalResult)

    // branch A2: wholesale reporting (:748-770)
    val wholesale = Enrich.enrichWholesale(finalResult, dims.wholesaleMap, runDate)
    val (wsPrimary, wsOthers) = Enrich.splitByBrand(wholesale, primaryBrand, otherBrands)

    // branch B: enriched sales reporting (:659-743)
    val enriched = Enrich.enrichSales(sales, dims.salesMap, runDate)
    val (bPrimary, bOthers) = Enrich.splitByBrand(enriched, primaryBrand, otherBrands)

    Outputs(
      soldValueRetail = soldValue,
      soldWholesale = finalResult,
      newStock = newStock,
      enriched = enriched,
      brandPrimary = bPrimary,
      brandOthers = bOthers,
      brandPrimaryAgg = Aggregate.brandAgg(bPrimary),
      brandOthersAgg = Aggregate.brandAgg(bOthers),
      wholesalePrimary = wsPrimary,
      wholesaleOthers = wsOthers)
  }

  /** Executes the DAG and writes the reference's 11 CSV sinks under
    * `outDir` (K1-K3). `newstock` goes through the materialize-first
    * fan-out because the reference overwrites its own input file
    * (SURVEY.md §7.4-d). The cleaned fact and the SKU-bounded chain are
    * cached for the run and released before it returns (see the object
    * doc); `soldvalueretail` must stay the first sink.
    */
  def run(salesFrames: Seq[DataFrame], dims: Dims, runDate: Date, outDir: String,
          primaryBrand: String = "brand1", otherBrands: Seq[String] = Seq("brand2", "brand3")): Outputs = {
    val sales = Clean.cleanSales(salesFrames)
    val o = fromSales(sales, dims, runDate, primaryBrand, otherBrands)
    val cached = Seq(sales, o.soldValueRetail, o.soldWholesale)
    try {
      // in this order: each chain frame's cached plan reads the cached fact
      cached.foreach(_.persist())
      val day = runDate.toLocalDate
      Sinks.csvReport(o.soldValueRetail, s"$outDir/soldvalueretail.csv")
      Sinks.csvReport(o.soldWholesale, s"$outDir/sold_itemswholesale.csv")
      Sinks.csvFanOut(o.newStock, Seq(
        s"$outDir/newstock.csv", s"$outDir/newstock_copy1.csv", s"$outDir/newstock_copy2.csv"))
      Sinks.datedCsv(o.brandPrimary, s"$outDir/brand1_sales", day)
      Sinks.datedCsv(o.brandOthers, s"$outDir/brand2_sales", day)
      Sinks.datedCsv(o.brandPrimaryAgg, s"$outDir/brand1_sales_agg", day, "-brand1")
      Sinks.datedCsv(o.brandOthersAgg, s"$outDir/brand2_sales_agg", day, "-brand2s")
      Sinks.datedCsv(o.wholesalePrimary, s"$outDir/wholesale_brand1", day)
      Sinks.datedCsv(o.wholesaleOthers, s"$outDir/wholesale_brand2", day)
      o
    } finally cached.foreach(_.unpersist())
  }
}
