package perfbench

import java.time.Instant

/** Counts the benchmark measures itself in a traced pass (the span
  * tree holds the times and Spark counters).
  */
final class Layers {
  var gunzipBytesOut, splitBytes, splitChunks, scanRows, scanPayloadBytes, bronzeBytes,
      silverRows = 0L
}

/** Per-layer metrics of a traced run. Each is the median over the
  * run's traced passes; a metric's name starts with the layer it
  * measures. `trace.*` compares the traced end-to-end span with the
  * untraced passes of the same run.
  */
object Layers {

  type Metrics = Seq[(String, (Double, String))]

  def names: Seq[(String, String)] = Seq(
    "split.busy_s" -> "s", "split.bytes" -> "bytes", "split.chunks" -> "count",
    "gunzip.busy_s" -> "s", "gunzip.bytes_out" -> "bytes",
    "scan.busy_s" -> "s", "scan.rows" -> "count", "scan.payload_bytes" -> "bytes",
    "scan.tasks" -> "count", "scan.task_util" -> "ratio",
    "stream.batches" -> "count", "stream.split_wait_s" -> "s",
    "stream.latest_offset_s" -> "s", "stream.planning_s" -> "s",
    "stream.add_batch_s" -> "s", "stream.commit_s" -> "s",
    "stream.bronze_bytes_written" -> "bytes") ++
    SilverTables.names.map(n => s"silver.${n}_s" -> "s") ++ Seq(
    "silver.rows_out" -> "count", "silver.jobs" -> "count",
    "silver.shuffle_write_bytes" -> "bytes", "silver.spill_bytes" -> "bytes",
    "silver.task_util" -> "ratio", "silver.bronze_read_amplification" -> "ratio",
    "gold.plan_s" -> "s", "gold.exec_s" -> "s", "gold.jobs_per_lookup" -> "count",
    "gold.bytes_read_per_lookup" -> "bytes", "gold.shuffle_bytes_per_lookup" -> "bytes",
    "gold.rows_scanned_per_result" -> "ratio",
    "driver.gc_ingest_s" -> "s", "driver.gc_silver_s" -> "s", "driver.gc_gold_s" -> "s",
    "trace.traced_e2e_s" -> "s", "trace.untraced_e2e_s" -> "s",
    "trace.layers_self_sum_s" -> "s", "trace.self_coverage" -> "ratio",
    "trace.overhead_s" -> "s")

  private def spans(t: Tracer, name: String): Seq[Span] =
    t.roots.toSeq.flatMap(_.walk).filter(_.name == name)

  private def one(t: Tracer, name: String): Option[Span] = spans(t, name).headOption

  private def secs(t: Tracer, name: String): Double = spans(t, name).map(_.seconds).sum

  private def util(s: Span): Double =
    if (s.seconds <= 0) 0.0 else s.total.runMs / 1000.0 / (s.seconds * Main.Cores)

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Gold metrics over the `gold.lookup` spans of `t`. */
  private def gold(t: Tracer): Map[String, Double] = {
    val ls = spans(t, "gold.lookup")
    val totals = ls.map(_.total)
    val rows = ls.map(_.rows).sum
    Map(
      "gold.plan_s" -> Stats.median(spans(t, "gold.plan").map(_.seconds)),
      "gold.exec_s" -> Stats.median(spans(t, "gold.exec").map(_.seconds)),
      "gold.jobs_per_lookup" -> mean(totals.map(_.jobs.toDouble)),
      "gold.bytes_read_per_lookup" -> mean(totals.map(_.inBytes.toDouble)),
      "gold.shuffle_bytes_per_lookup" -> mean(totals.map(_.shuffleWrite.toDouble)),
      "gold.rows_scanned_per_result" -> totals.map(_.inRecords).sum.toDouble / math.max(1L, rows),
      "driver.gc_gold_s" -> spans(t, "gold").map(_.gcMs).sum / 1000.0)
  }

  /** Metrics of one traced pass. */
  private def ofPass(t: Tracer, l: Layers, untracedE2e: Double): Map[String, Double] = {
    val root = one(t, "pipeline").get
    val ingest = one(t, "ingest").get
    val silver = one(t, "silver").get
    val scan = one(t, "scan").get
    val progress = t.progress.toSeq.map(_.progress)
    def duration(k: String) = progress.map(p =>
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0
    val firstBatchMs = progress.headOption
      .map(p => Instant.parse(p.timestamp).toEpochMilli).getOrElse(ingest.endMs)
    val silverTotal = silver.total
    val selfSum = root.walk.map(_.selfSeconds).sum
    Map(
      "split.busy_s" -> secs(t, "split"), "split.bytes" -> l.splitBytes.toDouble,
      "split.chunks" -> l.splitChunks.toDouble,
      "gunzip.busy_s" -> secs(t, "gunzip"), "gunzip.bytes_out" -> l.gunzipBytesOut.toDouble,
      "scan.busy_s" -> scan.seconds, "scan.rows" -> l.scanRows.toDouble,
      "scan.payload_bytes" -> l.scanPayloadBytes.toDouble,
      "scan.tasks" -> scan.total.tasks.toDouble, "scan.task_util" -> util(scan),
      "stream.batches" -> progress.size.toDouble,
      "stream.split_wait_s" -> (firstBatchMs - ingest.startMs) / 1000.0,
      "stream.latest_offset_s" -> duration("latestOffset"),
      "stream.planning_s" -> duration("queryPlanning"),
      "stream.add_batch_s" -> duration("addBatch"),
      "stream.commit_s" -> (duration("walCommit") + duration("commitOffsets")),
      "stream.bronze_bytes_written" -> l.bronzeBytes.toDouble,
      "silver.rows_out" -> l.silverRows.toDouble,
      "silver.jobs" -> silverTotal.jobs.toDouble,
      "silver.shuffle_write_bytes" -> silverTotal.shuffleWrite.toDouble,
      "silver.spill_bytes" -> silverTotal.spill.toDouble,
      "silver.task_util" -> util(silver),
      // bronze rows the silver writes read, per bronze row: how often the
      // eight writes re-read (and re-parse) bronze
      "silver.bronze_read_amplification" ->
        silverTotal.inRecords.toDouble / math.max(1L, l.scanRows),
      "driver.gc_ingest_s" -> ingest.gcMs / 1000.0,
      "driver.gc_silver_s" -> silver.gcMs / 1000.0,
      "trace.traced_e2e_s" -> root.seconds,
      "trace.untraced_e2e_s" -> untracedE2e,
      "trace.layers_self_sum_s" -> selfSum,
      "trace.self_coverage" -> selfSum / untracedE2e,
      "trace.overhead_s" -> (root.seconds - untracedE2e)) ++
      SilverTables.names.map(n => s"silver.${n}_s" -> secs(t, s"silver.$n")) ++
      gold(t)
  }

  /** @param traced the traced pipeline passes with their tracers;
    * @param untracedE2e end-to-end seconds of the run's untraced passes.
    */
  def metrics(traced: Seq[(Tracer, Layers)], untracedE2e: Seq[Double]): Metrics = {
    val base = Stats.median(untracedE2e)
    val perPass = traced.map { case (t, l) => ofPass(t, l, base) }
    val merged = perPass.head.keys.map(k => k -> Stats.median(perPass.map(_(k)))).toMap
    names.map { case (n, u) => n -> (merged.getOrElse(n, Double.NaN), u) }
  }
}
