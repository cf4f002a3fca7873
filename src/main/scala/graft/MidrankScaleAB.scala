package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** VERDICT r12 #8 experiment: the rank-stats family computes running
  * sums over DISTINCT values with a single-partition window (`Window
  * .orderBy(v)` — "keyspace-bounded by design"), which serializes on one
  * task. This main measures that window against a DISTRIBUTED prefix sum
  * (range exchange → per-partition running sums → tiny offset table
  * broadcast back) on synthetic distinct-value relations of growing
  * cardinality, checksum-compared. The crossover decides whether the
  * operators need a two-arm midrank — and at which cardinality — with
  * numbers instead of assertion.
  *
  *   sbt "runMain graft.MidrankScaleAB"   # sizes default 1M 4M 16M
  */
object MidrankScaleAB {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(1000000L, 4000000L, 16000000L)
    val cpus = GraftSession.localCpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def checksum(df: DataFrame): Long = {
      val r = df.select(bit_xor(xxhash64(df.columns.map(col): _*))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    for (n <- sizes) {
      // synthetic distinct-value relation: (v, m) — the byValue shape
      // every midrank consumer collapses to; m a small positive count
      val byValue = spark.range(n)
        .select(xxhash64(col("id")).as("v"), (pmod(col("id"), lit(7)) + 1).as("m"))
        .localCheckpoint(true) // one-shot: both arms re-read the same synthetic relation

      // ARM A: the operators' current single-partition window
      // keyspace-sized window BY CONSTRUCTION here — this experiment
      // exists precisely to measure where that stops being acceptable
      def armA: DataFrame = byValue.withColumn("cum",
        sum("m").over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

      // ARM B: distributed prefix sum — range-partition by v, local
      // running sums per partition, per-partition totals cumulated on a
      // tiny relation and broadcast back as offsets
      def armB: DataFrame = {
        val rp = byValue.repartitionByRange(col("v"))
          .withColumn("__pid", spark_partition_id())
        val local = rp.withColumn("__c",
          sum("m").over(Window.partitionBy("__pid").orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        // keyspace-sized window: one row per range partition
        val offs = rp.groupBy("__pid").agg(sum("m").as("__t"))
          .withColumn("__off",
            coalesce(sum("__t").over(Window.orderBy(col("__pid"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("__pid", "__off")
        local.join(broadcast(offs), "__pid")
          .select(col("v"), col("m"), (col("__c") + col("__off")).as("cum"))
      }

      val (csA0, coldA) = timed(checksum(armA)); val (csA, warmA) = timed(checksum(armA))
      val (csB0, coldB) = timed(checksum(armB)); val (csB, warmB) = timed(checksum(armB))
      require(csA0 == csA && csB0 == csB)
      println(f"n=$n%-9d single-partition warm=$warmA%6.2fs  distributed warm=$warmB%6.2fs  " +
        f"PARITY=${if (csA == csB) "OK" else "MISMATCH"} (cold A=$coldA%.2f B=$coldB%.2f)")
      byValue.unpersist()
    }
    spark.stop()
  }
}
