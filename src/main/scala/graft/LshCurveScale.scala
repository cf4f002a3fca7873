package graft

import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** Dev probe for SCALING.md: attributes the q270 (LSH tuning curve)
  * scale-up by counting the loosest-banding candidate UNIVERSE — the
  * curve's only fact-pair-sized intermediate — at a base corpus and its
  * 10× replica. The 10× perf corpus salts each replica with a one-token
  * prefix, so cross-replica documents are genuine NEAR-duplicates (all
  * but the leading shingles agree): the true near-dup pair count grows
  * ~(replicas)² per duplicate cluster, and an honest exact-certification
  * arm must enumerate them. This probe separates that data-driven pair
  * growth from any plan defect. Usage:
  *   sbt "runMain graft.LshCurveScale <sfDir> <sfDir10x> [permille]"
  */
object LshCurveScale {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.length >= 2) Seq(args(0), args(1))
               else Seq("/root/testdata/sf0.1", "/tmp/sfperf")
    val permille = if (args.length > 2) args(2).toInt else 300
    val cpus = GraftSession.localCpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus, "graft-lsh-scale")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dirs.foreach { d =>
      val docs = Tables.documents(spark, d)
        .filter(Dedup.affineHash(col("doc_id"), 7) % 1000 < permille)
        .localCheckpoint(true) // one-shot: time the operator, not the sample scan
      val nDocs = docs.count()
      val sigs = Dedup.minHashSignatures(docs, 16)
      val t0 = System.nanoTime()
      val pairs = Dedup.minHashCandidatePairs(sigs, 16, 4).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[lsh-universe $d] docs=$nDocs%,d candidate_pairs=$pairs%,d $sec%.2fs")
    }
    spark.stop()
  }
}
