package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import perfbench.Main.{median, num, probe, tail, timed}

/** The `registry_sample` workload: a fixed sample of
  * `graft.SparkEntry.queries` over the sf0.01 tables in `perfbench/data`,
  * each query built and then probed the way `graft.Bench` does.
  */
object Registry {

  /** A query's expected probe result. */
  final case class Expected(name: String, rows: Long, checksum: Long)

  val dataDir = "perfbench/data/sf0.01"
  val expectedFile = "perfbench/expected/registry_sf0.01.tsv"
  /** The sample, run in this order. Fixed, and independent of the seed and
    * of the timings in [[expectedFile]]; perfbench/NOTES.md says how these
    * five were chosen. Odd, so the median query is one query, not the mean
    * of two.
    */
  val Sample: Seq[String] =
    Seq("q03_wholesale_agg", "q04_inventory", "q05_enrich", "q19_lsh_topk", "q250_pca_component")
  /** Untimed passes between the cold pass and the timed warm passes:
    * queries keep speeding up over their first runs in a JVM.
    */
  val WarmupPasses = 1

  /** The sample's expected probe results. */
  def sample(root: Path): IndexedSeq[Expected] = {
    val byName = Files.readAllLines(root.resolve(expectedFile)).asScala
      .filterNot(_.startsWith("#")).map(_.split("\t")).map(f => f(0) -> Expected(f(0), f(1).toLong, f(2).toLong)).toMap
    Sample.map(byName).toIndexedSeq
  }

  final case class QueryRun(name: String, buildS: Double, probeS: Double, ok: Boolean) {
    def seconds: Double = buildS + probeS
  }

  def pass(spark: SparkSession, dir: String, qs: Seq[Expected],
           tr: Option[Tracer] = None): IndexedSeq[QueryRun] = {
    val fns = SparkEntry.queries
    qs.map { e =>
      def span[T](name: String)(body: => T): T = tr.fold(body)(_(name)(body))
      val t = System.nanoTime()
      try span(s"registry.query:${e.name}") {
        val (df, buildS) = timed(span("registry.build")(fns(e.name)(spark, dir)))
        val ((rows, sum), probeS) = timed(span("registry.probe")(probe(df)))
        QueryRun(e.name, buildS, probeS, rows == e.rows && sum == e.checksum)
      } catch {
        case NonFatal(_) => QueryRun(e.name, (System.nanoTime() - t) / 1e9, 0.0, ok = false)
      }
    }.toIndexedSeq
  }

  def run(spark: SparkSession, root: Path, seconds: Double, traced: Boolean,
          work: Path, peak: BlockPeak): Result = {
    val dir = root.resolve(dataDir).toString
    val qs = sample(root)
    val cold = pass(spark, dir, qs)
    val warmup = (1 to WarmupPasses).flatMap(_ => pass(spark, dir, qs))
    val t = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer(pass(spark, dir, qs))
    while ((System.nanoTime() - t) / 1e9 < seconds) passes += pass(spark, dir, qs)
    val all = cold ++ warmup ++ passes.flatten
    val failed = all.count(!_.ok)
    // a query's warm time is its median over the warm passes, so the
    // statistics below do not change with how many passes fit the run
    val perQuery = qs.map(q => median(passes.map(_.find(_.name == q.name).get.seconds)))
    val passS = passes.map(_.map(_.seconds).sum)
    val rows = qs.map(_.rows).sum.toDouble
    val storageMb = peak.peak / 1048576.0
    val info = Seq(
      "storage_peak_mb" -> num(storageMb),
      "queries" -> qs.map(q => "\"" + q.name + "\"").mkString("[", ",", "]"),
      "warm_passes" -> passes.size.toString,
      tail(perQuery),
      "query_seconds" -> qs.map { q =>
        val ts = (cold +: passes).map(_.find(_.name == q.name).get.seconds)
        s""""${q.name}":${ts.map(num).mkString("[", ",", "]")}"""
      }.mkString("{", ",", "}"),
      "wrong" -> all.filterNot(_.ok).map(u => "\"" + u.name + "\"").distinct.mkString("[", ",", "]"))
    if (!traced) {
      Result(all.size, failed, Seq(
        Metric("cold_s", cold.map(_.seconds).sum, "s"),
        Metric("wall_s", median(perQuery), "s"),
        Metric("total_s", median(passS), "s"),
        Metric("rows_per_s", rows / median(passS), "rows/s")), info)
    } else {
      val rec = Recorder.install(spark, "/lineitem.parquet")
      val tr = new Tracer(spark)
      val tracedPass = pass(spark, dir, qs, Some(tr))
      rec.drain()
      tr.write(work.resolve("trace.jsonl"), rec)
      val c = new Counters
      tr.spans.foreach(s => c.add(rec.forGroup(s.group)))
      // per query: its wall minus the time some job of it was running
      val outside = tr.spans.filter(_.parent == -1).map { q =>
        val cs = new Counters
        tr.spans.filter(s => s.id == q.id || s.parent == q.id).foreach(s => cs.add(rec.forGroup(s.group)))
        q.seconds - cs.jobCoverMs / 1000.0
      }.sum
      val tracedFailed = tracedPass.count(!_.ok)
      Result(all.size + tracedPass.size, failed + tracedFailed, Layers.complete(Seq(
        Metric("registry.build_s", tracedPass.map(_.buildS).sum, "s"),
        Metric("registry.probe_s", tracedPass.map(_.probeS).sum, "s"),
        Metric("driver.outside_jobs_s", outside, "s"),
        Metric("spark.storage_peak_mb", storageMb, "MB"),
        Metric("trace.overhead_s", median(tracedPass.map(_.seconds)) - median(perQuery), "s")) ++
        Layers.spark(c)), info)
    }
  }

  /** Probes every registered query at sf0.01, cold pass then warm pass, as
    * `name rows checksum cold_s warm_s` lines: the expected-values file.
    */
  def record(spark: SparkSession, root: Path): String = {
    val dir = root.resolve(dataDir).toString
    val names = SparkEntry.queries.keys.toIndexedSeq.sorted
    def once() = names.map { n =>
      val ((rows, sum), s) = timed(probe(SparkEntry.queries(n)(spark, dir)))
      (n, rows, sum, s)
    }
    val cold = once()
    val warm = once()
    require(cold.map(c => (c._2, c._3)) == warm.map(w => (w._2, w._3)), "registry not repeatable")
    ("# name\trows\tchecksum\tcold_s\twarm_s" +: cold.zip(warm).map { case (c, w) =>
      s"${c._1}\t${c._2}\t${c._3}\t${num(c._4)}\t${num(w._4)}"
    }).mkString("\n")
  }
}
