package perfbench

import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.MrfPipeline
import graft.sources.MrfOptions

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <spansFile>
  *
  * Prints one line `PERFBENCH {json}` with the correctness counts, the
  * metrics and the run's host conditions; `perfbench/run.py` turns it
  * into the benchmark's result line. A traced run also writes its spans
  * to `spansFile`, one JSON object per line.
  */
object Main {

  val Cores = 4
  val ShufflePartitions = 8

  /** What a workload feeds the program.
    *
    * @param files number of MRF documents;
    * @param bytesPerFile decompressed size of each;
    * @param gz whether each is staged as `.json.gz`;
    * @param options the `payer-mrf` source options;
    * @param groups provider groups per document.
    */
  final case class Input(
      files: Int, bytesPerFile: Long, gz: Boolean, options: Map[String, String], groups: Int) {
    /** The options as the source parses them (the path is not used). */
    val sourceOptions: MrfOptions = MrfOptions.fromProperties((options + ("path" -> "-")).asJava)
    def chunkBytes: Long = sourceOptions.chunkBytes
    def maxElements: Int = sourceOptions.maxElements
    def inputBytes: Long = files * bytesPerFile
  }

  /** The headline shape: one single-object MRF read as chunk text,
    * scaled 1:8 with its chunk target (16 MiB at `chunkBytes` 1 MiB in
    * place of 128 MiB at the default 8 MiB), so the driver-side split
    * still cuts sixteen chunks, four per core.
    */
  val LargeInput =
    Input(files = 1, bytesPerFile = 16L << 20, gz = false, Map("chunkBytes" -> (1L << 20).toString),
      groups = 2000)

  /** Sixteen small archives, four per core, read one row per element. */
  val FleetInput =
    Input(files = 16, bytesPerFile = 512L << 10, gz = true, Map("perElement" -> "true"),
      groups = 300)

  /** Planned length of one timed pass: a run makes `seconds / PassSeconds`
    * passes (at least two), a number fixed by the run length, so every
    * run's medians are over the same passes of the JVM's warm-up curve.
    */
  val PassSeconds = 8.0

  /** Gold lookups per pass; the first one closes the end-to-end span.
    * One lookup takes a few tenths of a second and its time depends on
    * the (code, TIN) pair drawn, so `gold_p50_s` needs a dozen samples
    * per pass to be steady across seeds. Three in four are hits (see
    * `Bench.lookup`).
    */
  val LookupsPerIteration = 12

  /** Ingest-only repeats per pass, on fresh copies: one ingest is short
    * next to a pass, so the ingest figure needs more samples than a
    * pass gives.
    */
  val IngestRepeats = 2

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, spansS) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = Paths.get(workS)
    val processStart = System.nanoTime()
    val input = workload match {
      case "mrf_single_large" => LargeInput
      case "mrf_fleet_gz" => FleetInput
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - processStart) / 1e9

    try {
      val b = new Bench(spark, input, seed, work, trace, Paths.get(spansS))
      val result = b.run(seconds, sessionS)
      val host = Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString,
        "cores" -> Cores.toString, "master" -> Json.str(s"local[$Cores]"),
        "shuffle_partitions" -> ShufflePartitions.toString,
        "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "input_bytes" -> input.inputBytes.toString, "input_files" -> input.files.toString) ++
        result.info
      println("PERFBENCH " + Json.obj(Seq(
        "correct" -> (result.failed == 0 && result.attempted > 0).toString,
        "attempted" -> result.attempted.toString,
        "failed" -> result.failed.toString,
        "metrics" -> Json.obj(result.metrics.map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }),
        "host" -> Json.obj(host))))
    } finally spark.stop()
  }
}

/** Minimal JSON text writers. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** One run's outcome; `info` joins the host record. */
final case class Result(
    attempted: Long, failed: Long, metrics: Seq[(String, (Double, String))],
    info: Seq[(String, String)])

/** Operation accounting: an operation is one ingest, one silver table
  * write or one gold lookup, and in a traced run also the standalone
  * split and scan. An operation fails when it throws or when its output
  * differs from the generator's model.
  */
final class Ops {
  var attempted, failed = 0L

  def apply(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch {
        case t: Throwable =>
          System.err.println(s"perfbench: $what failed")
          t.printStackTrace()
          false
      }
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: $what: output differs from the generator's model")
    }
    ok
  }

  /** Operations that could not run because an earlier one failed. */
  def skipped(n: Int): Unit = { attempted += n; failed += n }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

/** The silver tables in write order, with their [[MrfPipeline.Silver]] field. */
object SilverTables {
  val names: Seq[String] = Seq(
    "header", "providers_x_payer", "codes", "rates", "prices", "par_providers",
    "rate_provider_groups", "bundled_codes")

  def frames(s: MrfPipeline.Silver): Seq[(String, DataFrame)] =
    names.zip(Seq(s.header, s.providersXPayer, s.codes, s.rates, s.prices, s.parProviders,
      s.rateProviderGroups, s.bundledCodes))

  def read(spark: SparkSession, dir: Path): MrfPipeline.Silver = {
    def t(n: String) = spark.read.parquet(dir.resolve(n).toString)
    MrfPipeline.Silver(t("header"), t("providers_x_payer"), t("codes"), t("rates"),
      t("prices"), t("par_providers"), t("rate_provider_groups"), t("bundled_codes"))
  }

  def expected(c: MrfGen.Counts, files: Int): Map[String, Long] = Map(
    "header" -> files.toLong, "providers_x_payer" -> c.providersXPayer, "codes" -> c.items,
    "rates" -> c.rates, "prices" -> c.prices, "par_providers" -> c.parProviders,
    "rate_provider_groups" -> c.rateProviderGroups, "bundled_codes" -> c.bundledCodes)
}
