package graft

/** Dev harness for targeted perf measurements on derived corpora
  * (SCALING.md): times named `SparkEntry.queries` against an arbitrary
  * table directory — min of 3 warm reps each, after a warmup pass.
  *
  *   sbt "runMain graft.Timeit /tmp/events10x q39_asof_join q52_asof_native"
  *
  * Unlike [[Bench]] this runs ONLY the named queries, so a derived dir
  * need only contain the tables those queries read.
  */
object Timeit {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Timeit <sfDir> <queryName>...")
    val dir = args(0)
    val names = args.drop(1).toSeq
    val cpus = GraftSession.localCpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n"))
      // checksum probe, NOT count(): count() lets ColumnPruning drop any
      // operator whose outputs the count doesn't reference (e.g. the whole
      // window of a composed as-of) — hashing every column forces the full
      // operator semantics to actually execute
      def run(): (Long, Long) = {
        val df = fn(spark, dir)
        val row = df.select(
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.bit_xor(org.apache.spark.sql.functions.xxhash64(
            df.columns.map(org.apache.spark.sql.functions.col): _*))).head()
        (row.getLong(0), row.getLong(1))
      }
      run() // warm
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val (rows, _) = run()
        (System.nanoTime() - t0) / 1e9 -> rows
      }.minBy(_._1)
      println(f"TIMEIT $n%-24s ${best._1}%8.3f s  ${best._2}%,d rows")
    }
    spark.stop()
  }
}
