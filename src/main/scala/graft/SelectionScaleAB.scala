package graft

import org.apache.spark.sql.functions._

/** A/B evidence harness for the histogram-descent order statistics
  * (SCALING.md): on the q301/q310 price-cents relation, run BOTH arms —
  *
  *   descent — `Selection.exactQuantiles/exactGroupQuantiles`
  *     (⌈log_B(range)⌉ map-combined passes, no row-level sort), and
  *   sort    — the `row_number() OVER (ORDER BY v)` spelling the oracle
  *     uses (a full shuffle-sort of every fact row into ONE partition —
  *     what "exact quantile" costs when written the SQL-textbook way),
  *
  * and report equal (rank, value) results plus warm wall times. The sort
  * arm's single-partition global window is not a strawman: it IS the
  * standard spelling, and its cost model (all rows through one sort,
  * one task for the window) is precisely what the descent removes.
  *
  *   sbt "runMain graft.SelectionScaleAB /root/testdata/sf0.1"
  */
object SelectionScaleAB {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = GraftSession.localCpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ppms = Seq(500000L, 900000L, 990000L)
    def facts = Tables.lineitem(spark, dir)
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    def descent(): Seq[(Long, Long)] =
      graft.ext.Selection.exactQuantiles(facts, col("v"), ppms)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted

    def sortArm(): Seq[(Long, Long)] = {
      val n = facts.count()
      val ranks = ppms.map(p => math.max(1L, (BigInt(p) * n + 999999).toLong / 1000000L))
      // keyspace-sized window: input is collapsed/bounded before this sort
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      facts.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn").isin(ranks: _*))
        .collect().map(r => (r.getLong(1), r.getLong(0))).toSeq.sorted
    }

    val (_, dCold) = timed(descent())
    val (dRes, dWarm) = timed(descent())
    val (_, sCold) = timed(sortArm())
    val (sRes, sWarm) = timed(sortArm())
    // distinct: two ppms can share a rank at tiny n — the sort arm's
    // isin() naturally dedupes, the descent emits one row per ppm
    require(dRes.distinct == sRes, s"arms disagree: $dRes vs $sRes")
    println(f"descent  cold=$dCold%.2fs warm=$dWarm%.2fs results=$dRes")
    println(f"sort     cold=$sCold%.2fs warm=$sWarm%.2fs results=$sRes")

    val b = facts.agg(min("v").as("mn"), max("v").as("mx")).head()
    val range = b.getLong(1) - b.getLong(0) + 1
    val rounds = math.ceil(math.log(range.toDouble) / math.log(1024.0)).toInt
    println(s"value range=$range -> descent rounds=$rounds (B=1024)")
    spark.stop()
  }
}
