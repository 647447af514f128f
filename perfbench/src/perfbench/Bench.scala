package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.MrfPipeline
import graft.sources.{Gunzip, JsonSplitter}

/** Timings of one raw-MRF → gold pipeline pass. `e2eS` runs from stream
  * start to the first gold lookup's rows collected and checked; the
  * first of `ingestS` is that pass's own ingest, the rest are repeats.
  */
final case class Pass(ingestS: Seq[Double], e2eS: Double, lookupS: Seq[Double])

/** Runs the workloads against the program's public entry points:
  * `readStream`/`read.format("payer-mrf")`, `MrfPipeline.silver`,
  * `MrfPipeline.shoppablePrices` on the written silver tables, and — in a
  * traced run only — `Gunzip.decompressIfNeeded` and `JsonSplitter.run`
  * called on their own.
  *
  * Every pass stages fresh copies of the inputs (new path and mtime)
  * and writes to fresh checkpoint and output directories: the source's
  * split cache keys on (path, length, mtime), `Gunzip` reuses a newer
  * decompressed sibling, and a reused checkpoint turns `AvailableNow`
  * into a no-op. Any of these would let a pass skip work.
  */
final class Bench(
    spark: SparkSession, input: Main.Input, seed: Long, work: Path, trace: Boolean,
    spansOut: Path) {
  private val ops = new Ops
  private val rnd = new scala.util.Random(seed)
  private var passNo = 0
  private val hconf = spark.sessionState.newHadoopConf()

  // ---- inputs -------------------------------------------------------

  private def fileName(f: Int): String =
    f"mrf_$f%04d.json" + (if (input.gz) ".gz" else "")

  /** Generates the workload's documents into `dir`. */
  private def generate(dir: Path, in: Main.Input): Seq[Doc] = {
    Files.createDirectories(dir)
    val tins = in.groups * 3 / 4
    val codes = math.max(16, (in.bytesPerFile / 6000).toInt)
    (0 until in.files).map { f =>
      Doc.writeFile(MrfGen.Shape(seed, f, in.groups, codes, tins), in.bytesPerFile,
        dir.resolve(fileName(f)), in.chunkBytes, in.maxElements)
    }
  }

  private def counts(docs: Seq[Doc]): MrfGen.Counts = docs.map(_.counts).reduce(_ + _)

  /** Bronze rows the source must emit: one per chunk (or per element
    * with `perElement`) plus one header row per file.
    */
  private def expectedBronze(docs: Seq[Doc]): Long = {
    val c = counts(docs)
    val perElement = input.options.get("perElement").contains("true")
    (if (perElement) c.refElements + c.items else c.chunks) + docs.size
  }

  /** Copies the generated files into a fresh directory; returns the path
    * the source loads (the file itself for a single document).
    */
  private def stage(dir: Path, docs: Seq[Doc]): Path = {
    Files.createDirectories(dir)
    docs.indices.foreach { f =>
      Files.copy(genDir.resolve(fileName(f)), dir.resolve(fileName(f)),
        StandardCopyOption.COPY_ATTRIBUTES)
      // a fresh mtime, not the generated file's
      dir.resolve(fileName(f)).toFile.setLastModified(System.currentTimeMillis())
    }
    if (docs.size == 1) dir.resolve(fileName(0)) else dir
  }

  private def freshDir(): Path = {
    passNo += 1
    val d = work.resolve(f"pass-$passNo%03d")
    Files.createDirectories(d)
    d
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Rows of a parquet table directory, summed from its file footers. */
  private def parquetRows(dir: Path): Long = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new HPath(f.toUri), hconf))
      try r.getRecordCount finally r.close()
    }.sum
    finally s.close()
  }

  private def treeBytes(p: Path, keep: String => Boolean): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(f => Files.isRegularFile(f) && keep(f.getFileName.toString))
      .map(Files.size).sum
    finally s.close()
  }

  // ---- one pass -----------------------------------------------------

  /** Ingest → silver → `lookups` gold lookups (the first inside the
    * end-to-end span), all checked, then [[Main.IngestRepeats]]
    * ingest-only repeats. Returns the timings and the pass directory
    * (the caller deletes it), or None when an operation failed.
    */
  private def pass(docs: Seq[Doc], lookups: Int, t: Tracer): Option[(Pass, Path)] = {
    val dir = freshDir()
    val src = stage(dir.resolve("in"), docs)
    val bronzeDir = dir.resolve("bronze")
    val silverDir = dir.resolve("silver")
    var done = 0
    def step(what: String)(body: => Unit): Boolean = {
      done += 1
      ops(what) { body; true }
    }
    val timed =
      try {
        val t0 = System.nanoTime()
        t.span("pipeline") {
          val ingested = step("ingest")(t.span("ingest")(ingest(src, dir)))
          val ingestS = (System.nanoTime() - t0) / 1e9
          val written = ingested && t.span("silver") {
            val tables =
              SilverTables.frames(MrfPipeline.silver(spark.read.parquet(bronzeDir.toString)))
            tables.forall { case (n, df) =>
              step(s"silver $n write") {
                t.span(s"silver.$n")(df.write.parquet(silverDir.resolve(n).toString))
              }
            }
          }
          if (!written) None
          else {
            done += 1
            val (firstS, firstOk) =
              t.span("gold")(lookup(SilverTables.read(spark, silverDir), docs, t, 0))
            Some((Pass(Seq(ingestS), (System.nanoTime() - t0) / 1e9, Seq(firstS)), firstOk))
          }
        }
      } catch {
        case e: Throwable =>
          System.err.println("perfbench: pipeline pass aborted"); e.printStackTrace(); None
      }
    timed match {
      case None =>
        ops.skipped(1 + SilverTables.names.size + lookups - done)
        deleteTree(dir)
        None
      case Some((p, firstOk)) =>
        // untimed count checks, each failing its layer's operation
        val bronze = parquetRows(bronzeDir)
        val bronzeOk = bronze == expectedBronze(docs)
        if (!bronzeOk) {
          ops.failed += 1
          System.err.println(s"perfbench: bronze has $bronze rows, model ${expectedBronze(docs)}")
        }
        val expect = SilverTables.expected(counts(docs), docs.size)
        val silverOk = SilverTables.names.map { n =>
          val got = parquetRows(silverDir.resolve(n))
          if (got != expect(n)) {
            ops.failed += 1
            System.err.println(s"perfbench: silver $n has $got rows, model ${expect(n)}")
          }
          got == expect(n)
        }.forall(identity)
        val silver = SilverTables.read(spark, silverDir)
        val more = (1 until lookups).map(k => t.span("gold")(lookup(silver, docs, t, k))._1)
        val reingest = (0 until Main.IngestRepeats).flatMap { k =>
          val d = dir.resolve(s"ingest-$k")
          var secs = Double.NaN
          ops("ingest repeat") {
            val t0 = System.nanoTime()
            ingest(stage(d.resolve("in"), docs), d)
            secs = (System.nanoTime() - t0) / 1e9
            parquetRows(d.resolve("bronze")) == expectedBronze(docs)
          }
          deleteTree(d)
          Some(secs).filterNot(_.isNaN)
        }
        val all = p.copy(ingestS = p.ingestS ++ reingest, lookupS = p.lookupS ++ more)
        if (bronzeOk && silverOk && firstOk) Some((all, dir))
        else { deleteTree(dir); None }
    }
  }

  /** Streams `src` to `dir/bronze` with `Trigger.AvailableNow`. */
  private def ingest(src: Path, dir: Path): Unit = {
    val q = spark.readStream.format("payer-mrf").options(input.options)
      .load(src.toString)
      .writeStream.format("parquet")
      .option("path", dir.resolve("bronze").toString)
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** The `k`-th checked gold lookup of a pass: seconds from building the
    * DataFrame to collected rows, and whether the rows equal the model's.
    * Every fourth lookup is a miss, so each pass has the same mix: a miss
    * takes about two thirds as long as a hit, and a drawn mix would move
    * the median with the draw.
    */
  private def lookup(s: MrfPipeline.Silver, docs: Seq[Doc], t: Tracer, k: Int)
      : (Double, Boolean) = {
    val (code, tin) = docs(rnd.nextInt(docs.size)).lookupPair(rnd, hit = k % 4 != 3)
    var secs = 0.0
    val ok = ops(s"gold lookup ($code, $tin)") {
      val t0 = System.nanoTime()
      val rows = t.spanned("gold.lookup") { span =>
        val df = t.span("gold.plan") {
          val d = MrfPipeline.shoppablePrices(s, code, tin)
          d.queryExecution.executedPlan
          d
        }
        val r = t.span("gold.exec")(df.collect())
        if (span != null) span.rows = r.length
        r
      }
      secs = (System.nanoTime() - t0) / 1e9
      val got = rows.toSeq.map(goldRow).sorted(MrfGen.goldOrdering)
      val want = docs.flatMap(_.expectedGold(code, tin)).sorted(MrfGen.goldOrdering)
      if (got != want) System.err.println(
        s"perfbench: gold ($code, $tin) returned ${got.size} rows, model ${want.size}")
      got == want
    }
    (secs, ok)
  }

  private def goldRow(r: Row): MrfGen.GoldRow = {
    def i(n: String) = r.fieldIndex(n)
    MrfGen.GoldRow(
      r.getString(i("file_name")), r.getString(i("reporting_entity_name")),
      r.getString(i("billing_code")), r.getDouble(i("negotiated_rate")),
      if (r.isNullAt(i("provider_group_id"))) -1L else r.getLong(i("provider_group_id")),
      r.getSeq[Long](i("npi")), r.getStruct(i("tin")).getAs[String]("value"))
  }

  // ---- set-up -------------------------------------------------------

  private var genDir: Path = _
  private var setupInfo = Seq.empty[(String, String)]

  /** Generates the inputs three times (the median is the set-up's
    * generation time, and the three copies must agree byte for byte),
    * then warms up. Returns the documents and the set-up seconds after
    * the session start.
    */
  private def setup(): (Seq[Doc], Double) = {
    val gens = (0 until 3).map { k =>
      val d = work.resolve(s"gen-$k")
      val t0 = System.nanoTime()
      val docs = generate(d, input)
      (d, docs, (System.nanoTime() - t0) / 1e9)
    }
    val (dir, docs, _) = gens.head
    gens.tail.foreach { case (d, other, _) =>
      require(other == docs && docs.indices.forall(f =>
        Files.mismatch(dir.resolve(fileName(f)), d.resolve(fileName(f))) == -1L),
        "the generator is not deterministic for this seed")
      deleteTree(d)
    }
    genDir = dir
    // a first pass pays class loading, the streaming query's start-up,
    // code generation and JIT compilation of the parse paths (the first
    // pass runs about half again as long as the next); its operations
    // are checked but not counted. It makes as many gold lookups as a
    // timed pass, since the first lookups of a JVM run twice as long as
    // the later ones
    val t0 = System.nanoTime()
    val (attempted, failed) = (ops.attempted, ops.failed)
    val (_, passDir) = pass(docs, Main.LookupsPerIteration, Tracer.off(spark))
      .getOrElse(throw new IllegalStateException("warm-up pass failed"))
    ops.attempted = attempted
    ops.failed = failed
    deleteTree(passDir)
    val warmS = (System.nanoTime() - t0) / 1e9
    setupInfo = Seq(
      "generate_s" -> gens.map(g => Json.num(g._3)).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmS))
    (docs, Stats.median(gens.map(_._3)) + warmS)
  }

  // ---- heap -----------------------------------------------------------

  /** Peak heap still in use after any collection during the timed
    * passes. Per-layer only, like [[retainedHeapMb]]: across runs of
    * the same code both are bimodal (the peak with where a collection
    * falls, as G1 allocates the MB-sized chunk strings as humongous
    * objects; the retained heap by about 45 MB on the single file).
    */
  private object HeapWatch extends javax.management.NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile var peak = 0L

    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }

    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(this, null, null))
  }

  /** Heap the driver still holds after a full collection, in MiB. */
  private def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // ---- workloads ------------------------------------------------------

  private def e2eMetrics(setupS: Double, passes: Seq[Pass], lookupS: Seq[Double])
      : Layers.Metrics = {
    val gb = input.inputBytes / 1e9
    Seq(
      "setup_s" -> (setupS, "s"),
      "ingest_gb_per_min" -> (Stats.median(passes.flatMap(_.ingestS).map(s => gb / (s / 60))), "GB/min"),
      "e2e_gb_per_min" -> (Stats.median(passes.map(p => gb / (p.e2eS / 60))), "GB/min"),
      "gold_p50_s" -> (Stats.median(lookupS), "s"))
  }

  private def result(metrics: Layers.Metrics): Result =
    Result(ops.attempted, ops.failed, metrics, info)

  private var info = Seq.empty[(String, String)]

  /** Timed full passes, as many as `seconds` plans (see
    * [[Main.PassSeconds]]). A traced run makes four passes in the
    * order untraced, traced, traced, untraced, so the JVM's warm-up
    * trend cancels out of the tracing overhead.
    */
  def run(seconds: Double, sessionS: Double): Result = {
    val (docs, setupS) = setup()
    val passes = ArrayBuffer.empty[Pass]
    val traced = ArrayBuffer.empty[(Tracer, Layers)]
    val planned =
      if (trace) Seq(false, true, true, false)
      else Seq.fill(math.max(2, math.round(seconds / Main.PassSeconds).toInt))(false)
    var retainedMb = 0.0
    System.gc()
    HeapWatch.peak = 0L
    var failed = false
    for (tracedPass <- planned if !failed) {
      val t = if (tracedPass) Tracer.on(spark) else Tracer.off(spark)
      pass(docs, Main.LookupsPerIteration, t) match {
        case None =>
          if (t.enabled) t.finish()
          failed = true
        case Some((p, dir)) =>
          if (t.enabled) {
            val l = diagnostics(t, docs, dir)
            t.finish()
            traced += ((t, l))
          } else passes += p
          deleteTree(dir)
          // outside the timed span: what one pass leaves behind
          retainedMb = math.max(retainedMb, retainedHeapMb())
      }
    }
    val peakLiveMb = HeapWatch.peak / 1048576.0
    if (trace) {
      val w = Files.newBufferedWriter(spansOut)
      try traced.foreach(_._1.writeTo(w)) finally w.close()
    }
    info = setupInfo ++ Seq("session_s" -> Json.num(sessionS),
      "timed_passes" -> (passes.size + traced.size).toString,
      "gold_samples" -> passes.map(_.lookupS.size).sum.toString,
      "pass_ingest_s" -> passes.flatMap(_.ingestS).map(Json.num).mkString("[", ",", "]"),
      "pass_e2e_s" -> passes.map(p => Json.num(p.e2eS)).mkString("[", ",", "]"),
      "gold_s" -> passes.flatMap(_.lookupS).map(Json.num).mkString("[", ",", "]"))
    if (!trace)
      result(e2eMetrics(sessionS + setupS, passes.toSeq, passes.flatMap(_.lookupS).toSeq))
    else if (traced.isEmpty) result(Nil)
    else result(Layers.metrics(traced.toSeq, passes.map(_.e2eS).toSeq) ++ Seq(
      "driver.peak_live_heap_mb" -> ((peakLiveMb, "MB")),
      "driver.retained_heap_mb" -> ((retainedMb, "MB"))))
  }

  // ---- traced-run diagnostics ---------------------------------------

  /** Standalone layer calls on fresh copies of the inputs, outside the
    * end-to-end span: `Gunzip.decompressIfNeeded` per archive,
    * `JsonSplitter.run` per document with the source's own splitter
    * options, and a batch `payer-mrf` scan with the payload forced.
    * The split and scan results are checked against the model.
    */
  private def diagnostics(t: Tracer, docs: Seq[Doc], passDir: Path): Layers = {
    val dir = passDir.resolve("diag")
    stage(dir, docs)
    val l = new Layers
    val json = t.span("gunzip") {
      docs.indices.map(f => Gunzip.decompressIfNeeded(new HPath(dir.resolve(fileName(f)).toUri), hconf))
    }
    if (input.gz) l.gunzipBytesOut = json.map(p => Files.size(Paths.get(p.toUri))).sum
    t.span("split") {
      json.foreach { p =>
        val in = Files.newInputStream(Paths.get(p.toUri))
        try new JsonSplitter(in, input.sourceOptions.splitterOptions).run {
          case JsonSplitter.ArrayChunk(_, s, e, _) => l.splitChunks += 1; l.splitBytes += e - s
          case _: JsonSplitter.HeaderChunk => ()
        } finally in.close()
      }
    }
    val c = counts(docs)
    ops("split counts")(l.splitBytes == c.splitBytes && l.splitChunks == c.chunks)
    val loadPath = if (docs.size == 1) json.head.toString else dir.toString
    val row = t.span("scan") {
      spark.read.format("payer-mrf").options(input.options).load(loadPath)
        .select(count(lit(1)), coalesce(sum(length(col("json_payload")).cast("long")), lit(0L)))
        .head()
    }
    l.scanRows = row.getLong(0)
    l.scanPayloadBytes = row.getLong(1)
    ops("scan rows")(l.scanRows == expectedBronze(docs))
    l.bronzeBytes = treeBytes(passDir.resolve("bronze"), _.endsWith(".parquet"))
    l.silverRows = SilverTables.expected(c, docs.size).values.sum
    l
  }
}
