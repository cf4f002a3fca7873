package graft
// Ad-hoc query profiler.
//   sbt "runMain graft.BenchOne q15_minhash_pairs /root/testdata/sf0.1 3"
//   sbt "runMain graft.BenchOne --top 10 /root/testdata/sf0.1 2"
// --top N re-benches the N slowest queries from the last BENCH_LOCAL.json
// (the drift-directive loop in one command: per query it prints the last
// recorded sf0.1 time next to fresh reps, so a regression is visible
// without diffing bench files by hand). Plans dump only in single-query
// mode — N formatted plans would bury the timings.
object BenchOne {
  def main(args: Array[String]): Unit = {
    val top = if (args.headOption.contains("--top")) Some(args(1).toInt) else None
    val rest = if (top.isDefined) args.drop(2) else args.drop(1)
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (rest.length > 1) rest(1).toInt else 2
    val cpus = GraftSession.localCpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // last recorded per-query seconds, parsed from BENCH_LOCAL.json's
    // "queries" object (flat "name":sec pairs — no JSON lib needed)
    def lastBench(): Map[String, Double] = {
      val p = java.nio.file.Paths.get("BENCH_LOCAL.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        "\"(q[0-9]+[a-z0-9_]*)\":([0-9.Ee+-]+)".r.findAllMatchIn(s)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }

    val targets: Seq[String] = top match {
      case Some(n) =>
        val last = lastBench()
        require(last.nonEmpty, "--top needs a BENCH_LOCAL.json from a prior graft.Bench run")
        last.toSeq.sortBy(-_._2).take(n).map(_._1)
      case None => Seq(args(0))
    }
    val last = lastBench()
    targets.foreach { name =>
      val fn = SparkEntry.queries(name)
      val prev = last.get(name).map(s => f" (last bench: $s%.2fs)").getOrElse("")
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        // the driver's probe, NOT count(): under count() ColumnPruning
        // deletes unreferenced operator tails (the round-4 finding), so
        // count-based numbers systematically undershoot the driver bench
        // — the r8 q306 "driver 7.6s vs BenchOne 2.6s" mystery was this
        val n = Bench.probeRows(fn(spark, sfDir))
        println(f"[$name run $i] ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n$prev")
      }
      if (top.isEmpty) fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
