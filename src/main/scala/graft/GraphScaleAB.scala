package graft

import org.apache.spark.sql.functions._

/** A/B evidence harness for the two-arm PageRank/HITS gate (SCALING.md):
  * on the q95/q283 edge sets, run BOTH arms — broadcast
  * (nodes ≤ broadcastNodeLimit, the default at these scales) and shuffle
  * (forced via broadcastNodeLimit = 0, the billion-node arm) — and report
  *
  *   1. order-insensitive result checksums (must be EQUAL — the arms are
  *      the same integer arithmetic under different data movement),
  *   2. warm wall times per arm,
  *   3. the planner's join pick for one representative round, built from
  *      the exact expression the operator plans (Graph.scala pageRank
  *      round join), pre-AQE (`sparkPlan`): the shuffle arm must contain
  *      NO broadcast of the keyspace-sized rank relation — SortMergeJoin
  *      (or shuffled hash) expected; AQE may still convert at runtime
  *      when the MEASURED size is small, which is the desired behavior.
  *
  *   sbt "runMain graft.GraphScaleAB /root/testdata/sf0.1 3"
  */
object GraphScaleAB {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = if (args.length > 1) args(1).toInt else 3
    val cpus = GraftSession.localCpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val e = Tables.lineitem(spark, dir).select(
      (col("l_suppkey") * 2 + 1).as("src"), (col("l_partkey") * 2).as("dst"))
    def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.select(count(lit(1)).as("n"),
        bit_xor(xxhash64(df.columns.map(col): _*)).as("h")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    for ((label, limit) <- Seq("broadcast-arm" -> 4000000L, "shuffle-arm" -> 0L)) {
      val (_, cold) = timed(checksum(
        graft.ext.Graph.pageRank(e, iters, broadcastNodeLimit = limit)))
      val (cs, warm) = timed(checksum(
        graft.ext.Graph.pageRank(e, iters, broadcastNodeLimit = limit)))
      println(f"pageRank  $label%-14s checksum=$cs cold=$cold%.2fs warm=$warm%.2fs")
      val (_, hcold) = timed(checksum(
        graft.ext.Graph.hits(e, iters, broadcastNodeLimit = limit)))
      val (hcs, hwarm) = timed(checksum(
        graft.ext.Graph.hits(e, iters, broadcastNodeLimit = limit)))
      println(f"hits      $label%-14s checksum=$hcs cold=$hcold%.2fs warm=$hwarm%.2fs")
    }

    // representative round join, pre-AQE plan, both arms — the exact
    // shape pageRank builds per round (edge⋈rank on src). The probe runs
    // under autoBroadcastJoinThreshold = -1, simulating the regime where
    // the rank relation's STATS exceed any broadcast budget (the
    // billion-node graph): the broadcast arm's explicit hint still forces
    // a BroadcastHashJoin there — exactly the 100 TB failure mode — while
    // the shuffle arm leaves the pick to the planner, which falls back to
    // a shuffle join. (At the sf0.1 sizes above, both arms plan broadcast
    // under the DEFAULT threshold because the measured relation is tiny —
    // the desired small-regime behavior.)
    val eD = e.repartition(col("src"))
    val deg = eD.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = eD.join(deg, "src").localCheckpoint(true) // one-shot: reused across both A/B arms
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint(true) // one-shot: both arms seed from it
    val pr = nodes.withColumn("pr", lit(1000000L))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for ((label, prSide) <- Seq("broadcast-arm" -> broadcast(pr), "shuffle-arm" -> pr)) {
        val sums = withDeg.join(prSide, withDeg("src") === prSide("id"))
          .select(col("dst").as("id"), expr("pr div outdeg").as("c"))
          .groupBy("id").agg(sum("c").as("s"))
        val plan = sums.queryExecution.sparkPlan.toString
        val pick =
          if (plan.contains("BroadcastHashJoin")) "BroadcastHashJoin"
          else if (plan.contains("SortMergeJoin")) "SortMergeJoin"
          else if (plan.contains("ShuffledHashJoin")) "ShuffledHashJoin"
          else "other"
        println(s"round-join plan at big-node stats ($label): $pick")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)

    // triangle-census closing-join gate (q101/q306 shape): both arms of
    // the automatic edge-count gate on the REAL co-occurrence edges —
    // checksums must be equal; the shuffle arm's pre-AQE plan must not
    // broadcast the O(m) closing edge list even when stats would allow it
    val cooc = graft.ext.Graph.coOccurrenceEdges(
      Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")
      .localCheckpoint(true) // one-shot: four timed census runs share the edges
    for ((label, limit) <- Seq("broadcast-arm" -> 4000000L, "shuffle-arm" -> 0L)) {
      val (_, cold) = timed(checksum(
        graft.ext.Graph.triangleCounts(cooc, broadcastEdgeLimit = limit)))
      val (cs, warm) = timed(checksum(
        graft.ext.Graph.triangleCounts(cooc, broadcastEdgeLimit = limit)))
      println(f"triangles $label%-14s checksum=$cs cold=$cold%.2fs warm=$warm%.2fs")
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for ((label, limit) <- Seq("broadcast-arm" -> 4000000L, "shuffle-arm" -> 0L)) {
        val plan = graft.ext.Graph.triangleCounts(cooc, broadcastEdgeLimit = limit)
          .queryExecution.sparkPlan.toString
        val pick =
          if (plan.contains("BroadcastHashJoin")) "BroadcastHashJoin"
          else if (plan.contains("SortMergeJoin")) "SortMergeJoin"
          else if (plan.contains("ShuffledHashJoin")) "ShuffledHashJoin"
          else "other"
        println(s"closing-join plan at big-edge stats ($label): $pick")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    spark.stop()
  }
}
