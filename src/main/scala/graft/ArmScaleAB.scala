package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B evidence harness for the BYTE-gated two-arm operators (the r13
  * gates): run each operator's BROADCAST arm (default
  * `spark.graft.broadcastBytes` = 128 MiB — the arm every sf picks while
  * its state fits) and its SHUFFLE arm (conf forced to 0 — the regime a
  * 100 TB corpus lands in when the gated relation outgrows the budget)
  * on the SAME registered-query inputs, and report
  *
  *   1. order-insensitive result checksums per arm — must be EQUAL (the
  *      arms are identical arithmetic under different data movement);
  *   2. cold/warm wall times per arm (the shuffle arm is expected slower
  *      at sf0.1 — it exists for correctness at scale, not local speed).
  *
  * Complements [[GraphScaleAB]] (which exercises the pageRank/HITS row
  * gates via broadcastNodeLimit = 0): this main covers the operators
  * whose gates read the conf-backed byte budget, including the suffix
  * family's string-keyed seed exchange.
  *
  *   sbt "runMain graft.ArmScaleAB /root/testdata/sf0.1"
  */
object ArmScaleAB {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = GraftSession.localCpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.select(count(lit(1)).as("n"),
        bit_xor(xxhash64(df.columns.map(col): _*)).as("h")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val li = Tables.lineitem(spark, dir)
    val docs = Tables.documents(spark, dir)
    def coocc = graft.ext.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    def hyperEdges = {
      val e = li.select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_partkey") * 2).as("dst")).distinct()
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    }
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "kCore(q333)" -> (() => graft.ext.Graph.kCore(coocc, k = 80, rounds = 12)),
      "triangleCounts(q101)" -> (() => graft.ext.Graph.triangleCounts(coocc)),
      "localClustering(q306)" -> (() => graft.ext.Graph.localClustering(coocc)),
      "assortativity(q305)" -> (() => graft.ext.Graph.degreeAssortativity(coocc)),
      "hyperanf(q273)" -> (() =>
        graft.ext.Graph.neighborhoodFunction(hyperEdges, rounds = 3, log2m = 4)),
      "dupSpans(q362)" -> (() => graft.ext.SuffixDedup.dupSpans(docs, minLen = 8)),
      "longestRepeat(q368)" -> (() => graft.ext.SuffixDedup.longestRepeat(docs)),
      "crossLongestRepeat(q376)" -> (() => graft.ext.SuffixDedup.crossLongestRepeat(
        docs.filter(col("doc_id") % 20 =!= 0), docs.filter(col("doc_id") % 20 === 0))))

    val results = for ((label, mk) <- cases) yield {
      val arms = for (bytes <- Seq("134217728", "0")) yield {
        spark.conf.set("spark.graft.broadcastBytes", bytes)
        val (_, cold) = timed(checksum(mk()))
        val (cs, warm) = timed(checksum(mk()))
        (bytes, cs, cold, warm)
      }
      spark.conf.unset("spark.graft.broadcastBytes")
      val Seq((_, csB, coldB, warmB), (_, csS, coldS, warmS)) = arms
      val ok = csB == csS
      println(f"$label%-26s broadcast=(n=${csB._1},h=${csB._2}) " +
        f"shuffle=(n=${csS._1},h=${csS._2}) PARITY=${if (ok) "OK" else "MISMATCH"} " +
        f"warmB=$warmB%.2fs warmS=$warmS%.2fs coldB=$coldB%.2fs coldS=$coldS%.2fs")
      ok
    }
    println(if (results.forall(identity)) "ARM PARITY: ALL OK"
      else "ARM PARITY: MISMATCH FOUND")
    spark.stop()
    if (!results.forall(identity)) sys.exit(1)
  }
}
