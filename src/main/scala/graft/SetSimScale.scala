package graft

import org.apache.spark.sql.functions._

/** Dev probe for SCALING.md: times [[ext.SetSim.jaccardJoin]] on derived
  * HIGH-ENTROPY corpora (the prefix filter's design habitat — token df is
  * spread over a vocabulary that grows with the corpus, as natural text's
  * does) at n and 10n, printing wall seconds and result sizes. The
  * registered q113 runs on the driver's synthetic corpus whose ~400-token
  * universe makes EVERY token corpus-frequent — there the candidate set
  * provably approaches all-pairs for any exact algorithm (SetSim
  * scaladoc); this probe documents the behavior the operator is built
  * for. Usage: sbt "runMain graft.SetSimScale [n] [reps]".
  */
object SetSimScale {
  def main(args: Array[String]): Unit = {
    val n0 = if (args.nonEmpty) args(0).toInt else 5000
    val reps = if (args.length > 1) args(1).toInt else 2
    val cpus = GraftSession.localCpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus, "graft-setsim-scale")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    for (n <- Seq(n0, n0 * 10)) {
      val vocab = (math.sqrt(n.toDouble) * 60).toInt // vocab grows with corpus
      val docs = spark.range(n.toLong).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit("t"), pmod(col("id") * 3 + j * 7, lit(vocab)))): _*).as("text"))
        .localCheckpoint(true) // one-shot: time the operator, not the generator
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        val rows = ext.SetSim.jaccardJoin(docs, tPermille = 500).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[setsim n=$n%d vocab=$vocab%d run $r] $sec%.2fs pairs=$rows%d")
      }
    }
    spark.stop()
  }
}
