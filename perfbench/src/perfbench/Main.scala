package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

/** One metric of a run's result. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: the units attempted and failed, its metrics,
  * and extra facts (pre-rendered JSON values) for the human-readable log.
  */
final case class Result(attempted: Int, failed: Int, metrics: Seq[Metric], info: Seq[(String, String)])

/** The benchmark JVM. `run.py` launches it once per run (plus short
  * set-up-only launches for `setup_s`), reads the JSON it leaves in `--out`,
  * and prints the result line. Arguments are `--key value` pairs:
  *   --mode run|setup|record   --workload NAME   --seed N   --seconds S
  *   --trace 0|1   --root REPO   --work DIR   --out FILE   --t0 NANOS   --cores N
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = a("t0").toLong
    val work = Paths.get(a("work"))
    val spark = session(a("cores").toInt, work)
    val setupS = (System.nanoTime() - t0) / 1e9
    val out = Paths.get(a("out"))
    a("mode") match {
      case "setup" =>
        spark.stop()
        write(out, s"""{"setup_s":${num(setupS)}}""")
      case "record" =>
        val root = Paths.get(a("root"))
        val text = Registry.record(spark, root)
        spark.stop()
        write(root.resolve(Registry.expectedFile), text)
        write(out, "{}")
      case "run" =>
        val peak = new BlockPeak
        spark.sparkContext.addSparkListener(peak)
        val seed = a("seed").toLong
        val seconds = a("seconds").toDouble
        val traced = a("trace") == "1"
        val root = Paths.get(a("root"))
        val r = a("workload") match {
          case "etl_feeds" => Etl.run(spark, seed, seconds, traced, work, peak)
          case "registry_sample" => Registry.run(spark, root, seconds, traced, work, peak)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        // stop first: shutdown noise must not land between the result and its reader
        spark.stop()
        val metrics = (Metric("setup_s", setupS, "s") +: r.metrics)
          .map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString("{", ",", "}")
        val info = r.info.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        write(out, s"""{"attempted":${r.attempted},"failed":${r.failed},"metrics":$metrics,"info":$info}""")
    }
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$cores]", cores, "perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.debug.maxToStringFields", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The registry's probe (graft.Bench.probe): row count plus a whole-row
    * xxhash64 folded with bit_xor, so every output column is computed.
    */
  def probe(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t) / 1e9)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `wall_tail_s`, printed as a fact of the run but not a bounded metric
    * (perfbench/NOTES.md says why): the highest percentile (50th or above)
    * with at least ten samples above it, or the maximum when there is
    * none, i.e. with fewer than 20 samples.
    */
  def tail(xs: Iterable[Double]): (String, String) = {
    val s = xs.toIndexedSeq.sorted
    val p = (99 to 50 by -1).find(p => s.size - math.ceil(s.size * p / 100.0).toInt >= 10).getOrElse(100)
    val v = s(math.ceil(s.size * p / 100.0).toInt - 1)
    "wall_tail_s" -> s"""{"value":${num(v)},"unit":"s","percentile":$p,"samples":${s.size}}"""
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def write(p: Path, s: String): Unit = Files.write(p, (s + "\n").getBytes("UTF-8"))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p)
    try paths.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally paths.close()
  }
}
