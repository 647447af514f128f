package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** E2E coverage of the payer-mrf V2 source, mirroring the reference's
  * TST01–TST05 (`/root/reference/src/test/scala/com/databricks/
  * SparkStreamingSource.scala`) plus batch reads, per-element rows, and
  * checkpointed restart — on freshly synthesized fixtures.
  */
class MrfSourceSpec extends SparkTestBase {

  private lazy val ffsPath = MrfFixtures.writeTemp("ffs.json", MrfFixtures.ffs).getAbsolutePath

  /** A fresh directory holding the four fixture files — the smallest
    * fleet that takes the executor split path.
    */
  private def fleetDir(prefix: String): java.io.File = {
    val dir = Files.createTempDirectory(prefix).toFile
    Seq("a_ffs.json" -> MrfFixtures.ffs, "b_bundle.json" -> MrfFixtures.bundle,
      "c_cap.json" -> MrfFixtures.capitation, "d_multi.json" -> MrfFixtures.multiPlan)
      .foreach { case (name, json) =>
        Files.write(new java.io.File(dir, name).toPath, json.getBytes("UTF-8"))
      }
    dir
  }

  /** Task counts of the `payer-mrf-split` executor jobs `body` submits,
    * one entry per job. A marker job run after `body` flushes the
    * listener bus: events arrive in order, so once the marker's start is
    * seen, every earlier split job's start has been seen too.
    */
  private def splitJobTasks(body: => Unit): List[Int] = {
    val sc = spark.sparkContext
    val marker = "mrf-spec-marker-" + java.util.UUID.randomUUID()
    val splitJobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val group = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (group == marker) markerSeen.countDown()
        else if (group != null && group.startsWith("payer-mrf-split"))
          splitJobs.add(js.stageInfos.map(_.numTasks).sum)
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "listener-bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      splitJobs.asScala.toList
    } finally sc.removeSparkListener(listener)
  }

  test("batch read: all three header keys present (TST01)") {
    val df = spark.read.format("payer-mrf").load(ffsPath)
    val keys = df.select("header_key").distinct().collect().map(_.getString(0)).toSet
    assert(keys == Set("provider_references", "in_network", ""))
    assert(df.count() >= 3)
    // file_name column carries the basename
    assert(df.select("file_name").distinct().collect().map(_.getString(0)).toSet == Set("ffs.json"))
  }

  test("batch read: every payload is parseable JSON (TST02)") {
    val df = spark.read.format("payer-mrf").load(ffsPath)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    df.collect().foreach { r =>
      val parsed = mapper.readTree(r.getString(2))
      assert(parsed != null && (parsed.isArray || parsed.isObject))
    }
  }

  test("round-trip: in_network payloads re-parse with full nested schema (TST03)") {
    import spark.implicits._
    val df = spark.read.format("payer-mrf").load(ffsPath)
    val parsed = spark.read.json(
      df.filter($"header_key" === "in_network").select("json_payload").as[String])
    // spark.read.json on "[...]" strings yields one row per element
    assert(parsed.columns.contains("billing_code"))
    assert(parsed.columns.contains("negotiated_rates"))
    val codes = parsed.select("billing_code").collect().map(_.getString(0)).toSet
    assert(codes == Set("27447", "99213"))
    val rate = parsed.filter($"billing_code" === "27447")
      .select(explode($"negotiated_rates").as("r"))
      .select(explode($"r.negotiated_prices").as("p"))
      .select($"p.negotiated_rate").collect().map(_.getDouble(0)).min
    assert(rate == 123.45)
    // header residue reparses with all scalar members
    val header = spark.read.json(
      df.filter($"header_key" === "").select("json_payload").as[String])
    assert(header.select("reporting_entity_name").first().getString(0) == "graft health")
    assert(header.columns.contains("plan_name"))
  }

  test("payloadAsArray=true returns non-empty element arrays (TST04)") {
    import spark.implicits._
    val df = spark.read.format("payer-mrf")
      .option("payloadAsArray", "true").load(ffsPath)
    assert(df.schema("json_payload").dataType.typeName == "array")
    val sizes = df.filter($"header_key" =!= "")
      .select(size($"json_payload")).collect().map(_.getInt(0))
    assert(sizes.nonEmpty && sizes.forall(_ > 0))
  }

  test("perElement=true yields one row per array element") {
    import spark.implicits._
    val df = spark.read.format("payer-mrf")
      .option("perElement", "true").load(ffsPath)
    // ffs fixture: 3 provider_references + 2 in_network + 1 header
    assert(df.count() == 6)
    val perKey = df.groupBy("header_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perKey("provider_references") == 3)
    assert(perKey("in_network") == 2)
    // each element row is itself a JSON object, directly parseable
    val parsed = spark.read.json(
      df.filter($"header_key" === "in_network").select("json_payload").as[String])
    assert(parsed.count() == 2)
  }

  test("gz input is decompressed and streamed (TST05)") {
    import spark.implicits._
    val gzFile = MrfFixtures.writeTemp("ffs.json.gz", MrfFixtures.ffs, gz = true)
    val df = spark.read.format("payer-mrf").load(gzFile.getAbsolutePath)
    assert(df.filter($"header_key" === "in_network").count() > 0)
    // sibling .json materialized once, reused on re-read
    val sibling = new java.io.File(gzFile.getParentFile, "ffs.json")
    assert(sibling.exists())
    val again = spark.read.format("payer-mrf").load(gzFile.getAbsolutePath)
    assert(again.count() == df.count())
  }

  test("folder-zips skip directory entries; uppercase extensions decompress") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mrf-codec2").toFile
    // zip -r style: a directory entry (and a metadata-ish file inside
    // another dir) precedes the payload — the first FILE entry wins
    val zipFile = new java.io.File(dir, "folder.json.zip")
    val zo = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zipFile))
    zo.putNextEntry(new java.util.zip.ZipEntry("folder/"))
    zo.closeEntry()
    zo.putNextEntry(new java.util.zip.ZipEntry("folder/doc.json"))
    zo.write(MrfFixtures.ffs.getBytes("UTF-8"))
    zo.closeEntry(); zo.close()
    // uppercase extension: real feeds publish DATA.JSON.GZ
    val gzFile = new java.io.File(dir, "UPPER.JSON.GZ")
    val go = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gzFile))
    go.write(MrfFixtures.ffs.getBytes("UTF-8")); go.close()

    val df = spark.read.format("payer-mrf").load(dir.getAbsolutePath)
    assert(df.select("file_name").distinct().collect().map(_.getString(0)).toSet ==
      Set("folder.json", "UPPER.JSON"))
    assert(df.filter($"header_key" === "in_network").count() == 2)
  }

  test("overlapping paths list each file once") {
    // a directory AND a file inside it: chunks must not assemble twice
    val dir = Files.createTempDirectory("mrf-overlap").toFile
    Files.write(new java.io.File(dir, "a.json").toPath, MrfFixtures.ffs.getBytes("UTF-8"))
    val one = spark.read.format("payer-mrf").load(dir.getAbsolutePath)
    val both = spark.read.format("payer-mrf")
      .load(dir.getAbsolutePath, new java.io.File(dir, "a.json").getAbsolutePath)
    assert(both.count() == one.count(),
      s"overlapping paths doubled rows: ${both.count()} vs ${one.count()}")
  }

  test("zst and zip inputs decompress and stream like gz") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mrf-codec").toFile
    // .zst via zstd-jni (ships with Spark)
    val zstFile = new java.io.File(dir, "ffs_z.json.zst")
    val zOut = new com.github.luben.zstd.ZstdOutputStream(
      new java.io.FileOutputStream(zstFile))
    zOut.write(MrfFixtures.ffs.getBytes("UTF-8")); zOut.close()
    // .zip with the document as the first entry
    val zipFile = new java.io.File(dir, "bundle_z.json.zip")
    val zipOut = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zipFile))
    zipOut.putNextEntry(new java.util.zip.ZipEntry("bundle_z.json"))
    zipOut.write(MrfFixtures.bundle.getBytes("UTF-8")); zipOut.close()

    val df = spark.read.format("payer-mrf").load(dir.getAbsolutePath)
    assert(df.select("file_name").distinct().collect().map(_.getString(0)).toSet ==
      Set("ffs_z.json", "bundle_z.json"))
    val parsed = spark.read.json(
      df.filter($"header_key" === "in_network").select("json_payload").as[String])
    assert(parsed.select("negotiation_arrangement").distinct()
      .collect().map(_.getString(0)).toSet == Set("ffs", "bundle"))
    // file_name pushdown matches compressed inputs by decompressed name
    val pruned = spark.read.format("payer-mrf").load(dir.getAbsolutePath)
      .filter($"file_name" === "ffs_z.json")
    assert(pruned.select("file_name").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("ffs_z.json"))
    // re-reading the DIRECTORY after the decompressed siblings were
    // materialized must not double-emit (compressed originals are
    // dropped from the listing when their sibling is present)
    val n1 = df.count()
    val again = spark.read.format("payer-mrf").load(dir.getAbsolutePath)
    assert(again.count() == n1, "directory re-read double-emitted compressed inputs")
  }

  test("streaming with AvailableNow terminates and matches batch (TST01 streaming)") {
    val checkpoint = Files.createTempDirectory("mrf-ckpt").toString
    val outDir = Files.createTempDirectory("mrf-out").toString
    val stream = spark.readStream.format("payer-mrf").load(ffsPath)
    assert(stream.isStreaming)
    def runOnce(): Unit = {
      val q = stream.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "stream did not terminate")
    }
    runOnce()
    val got = spark.read.parquet(outDir)
    val batch = spark.read.format("payer-mrf").load(ffsPath)
    assert(got.count() == batch.count())
    val keys = got.select("header_key").distinct().collect().map(_.getString(0)).toSet
    assert(keys == Set("provider_references", "in_network", ""))

    // restart against the same checkpoint: deterministic re-derivation,
    // nothing re-emitted
    runOnce()
    assert(spark.read.parquet(outDir).count() == batch.count())
  }

  test("console debug sink drains the source (S8 — the reference's print sink shape)") {
    // the reference's debug sink collects and prints; the V2 twin is
    // the built-in console sink. Truncate + cap rows so the suite log
    // stays readable; AvailableNow proves the sink accepts every batch
    // to the terminal offset.
    val checkpoint = Files.createTempDirectory("mrf-ckpt-console").toString
    val q = spark.readStream.format("payer-mrf").load(ffsPath)
      .writeStream
      .format("console")
      .option("numRows", 2)
      .option("truncate", true)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "console-sink stream did not terminate")
    assert(q.exception.isEmpty, s"console sink failed: ${q.exception}")
  }

  test("maxChunksPerBatch bounds each micro-batch (admission control)") {
    val checkpoint = Files.createTempDirectory("mrf-ckpt-ac").toString
    val q = spark.readStream.format("payer-mrf")
      .option("chunkBytes", "4096").option("maxElements", "1")
      .option("maxChunksPerBatch", "2")
      .load(ffsPath)
      .writeStream.format("memory").queryName("mrf_ac_out")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000))
    // all 6 chunks arrive (3 provider_references + 2 in_network + header)
    assert(spark.table("mrf_ac_out").count() == 6)
    // ...across at least 3 bounded batches of ≤2 chunks
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3, s"expected ≥3 batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows <= 2))
  }

  test("streaming with ProcessingTime trigger drains and stops") {
    val checkpoint = Files.createTempDirectory("mrf-ckpt-pt").toString
    val q = spark.readStream.format("payer-mrf").load(ffsPath)
      .writeStream.format("memory").queryName("mrf_pt_out")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    q.processAllAvailable()
    val n = spark.table("mrf_pt_out").count()
    q.stop()
    assert(n == spark.read.format("payer-mrf").load(ffsPath).count())
  }

  test("multiple files: bundle + ffs in one directory") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mrf-multi").toFile
    Files.write(new java.io.File(dir, "a_ffs.json").toPath, MrfFixtures.ffs.getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "b_bundle.json").toPath, MrfFixtures.bundle.getBytes("UTF-8"))
    val df = spark.read.format("payer-mrf").load(dir.getAbsolutePath)
    assert(df.select("file_name").distinct().count() == 2)
    val parsed = spark.read.json(
      df.filter($"header_key" === "in_network").select("json_payload").as[String])
    val arrangements = parsed.select("negotiation_arrangement").distinct()
      .collect().map(_.getString(0)).toSet
    assert(arrangements == Set("ffs", "bundle"))
    assert(parsed.columns.contains("bundled_codes"))
  }

  test("small chunkBytes still reproduces every element exactly once") {
    import spark.implicits._
    val df = spark.read.format("payer-mrf")
      .option("chunkBytes", "4096").option("maxElements", "1").load(ffsPath)
    val parsed = spark.read.json(
      df.filter($"header_key" === "in_network").select("json_payload").as[String])
    assert(parsed.count() == 2)
  }

  test("column pruning: payload-free projections read no bytes; counts still exact") {
    import spark.implicits._
    val df = spark.read.format("payer-mrf").option("perElement", "true").load(ffsPath)
    val counts = df.groupBy("header_key").count()
    // the scan in the executed plan carries only the pruned columns
    val plan = counts.queryExecution.executedPlan.toString
    assert(plan.contains("columns=header_key"), plan)
    val m = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("provider_references" -> 3L, "in_network" -> 2L, "" -> 1L))
  }

  test("filter pushdown: header_key demux prunes chunks at planning time") {
    import spark.implicits._
    val df = spark.read.format("payer-mrf").load(ffsPath)
      .filter($"header_key" === "in_network")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("headerKeys=in_network"), plan)
    assert(df.count() > 0)
    assert(df.select("header_key").distinct().collect().map(_.getString(0)).toSeq == Seq("in_network"))
    // streaming path prunes too
    val checkpoint = Files.createTempDirectory("mrf-ckpt-push").toString
    val q = spark.readStream.format("payer-mrf").load(ffsPath)
      .filter($"header_key" === "in_network")
      .writeStream.format("memory").queryName("mrf_push_out")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000))
    val got = spark.table("mrf_push_out")
    assert(got.count() == spark.read.format("payer-mrf").load(ffsPath)
      .filter($"header_key" === "in_network").count())
  }

  test("file_name pushdown prunes whole files before splitting") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mrf-fprune").toFile
    Files.write(new java.io.File(dir, "a_ffs.json").toPath, MrfFixtures.ffs.getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "b_bundle.json").toPath, MrfFixtures.bundle.getBytes("UTF-8"))
    val df = spark.read.format("payer-mrf").load(dir.getAbsolutePath)
      .filter($"file_name" === "a_ffs.json")
    assert(df.queryExecution.executedPlan.toString.contains("fileNames=a_ffs.json"))
    assert(df.select("file_name").distinct().collect().map(_.getString(0)).toSeq == Seq("a_ffs.json"))
    assert(df.count() == 3) // ffs: provider_references + in_network + header chunks
  }

  test("ignoreCorruptFiles skips bad files, fails loudly otherwise") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mrf-corrupt").toFile
    Files.write(new java.io.File(dir, "good.json").toPath, MrfFixtures.ffs.getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "bad.json").toPath, """{"in_network": [{"x": 1}""".getBytes("UTF-8"))
    // default: corrupt file is an error
    intercept[Exception] {
      spark.read.format("payer-mrf").load(dir.getAbsolutePath).count()
    }
    // opted in: good file fully read, bad one skipped
    val df = spark.read.format("payer-mrf")
      .option("ignoreCorruptFiles", "true").load(dir.getAbsolutePath)
    assert(df.select("file_name").distinct().collect().map(_.getString(0)).toSet == Set("good.json"))
    assert(df.filter($"header_key" === "in_network").count() > 0)
    // the executor split path applies the same corrupt-file policy: a
    // 4-file directory takes it (the 2-file one above took the driver
    // pool), and each read splits in one 4-task job
    val fleet = Files.createTempDirectory("mrf-corrupt-fleet").toFile
    Files.write(new java.io.File(fleet, "good.json").toPath, MrfFixtures.ffs.getBytes("UTF-8"))
    Seq("bad_a.json", "bad_b.json", "bad_c.json").foreach { n =>
      Files.write(new java.io.File(fleet, n).toPath, """{"in_network": [{"x": 1}""".getBytes("UTF-8"))
    }
    val tasks = splitJobTasks {
      intercept[Exception] {
        spark.read.format("payer-mrf")
          .option("chunkBytes", "4103").load(fleet.getAbsolutePath).count()
      }
      val dfx = spark.read.format("payer-mrf")
        .option("chunkBytes", "4103")
        .option("ignoreCorruptFiles", "true").load(fleet.getAbsolutePath)
      assert(dfx.select("file_name").distinct().collect().map(_.getString(0)).toSet == Set("good.json"))
    }
    assert(tasks == List(4, 4), s"expected two 4-task split jobs, saw $tasks")
  }

  test("payloadAsArray + perElement is rejected (contradictory output shapes)") {
    val e = intercept[Exception] {
      spark.read.format("payer-mrf")
        .option("payloadAsArray", "true").option("perElement", "true")
        .load(ffsPath).count()
    }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
  }

  test("a 4-file read splits on executor tasks; chunks match the driver path") {
    val fleet = fleetDir("mrf-dist-e")
    var distRows: Seq[Seq[Any]] = Nil
    val distTasks = splitJobTasks {
      distRows = spark.read.format("payer-mrf").option("chunkBytes", "4099")
        .load(fleet.getAbsolutePath)
        .select("file_name", "header_key", "json_payload")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    // the split itself ran as one executor task per file
    assert(distTasks == List(4), s"expected one 4-task split job, saw $distTasks")
    // the same files, one per scan, go through the driver pool (fresh
    // copies: the split cache keys on the path) → identical rows
    val single = fleetDir("mrf-dist-d")
    var drvRows: Seq[Seq[Any]] = Nil
    val drvTasks = splitJobTasks {
      drvRows = single.listFiles().toSeq.flatMap { f =>
        spark.read.format("payer-mrf").option("chunkBytes", "4099")
          .load(f.getAbsolutePath)
          .select("file_name", "header_key", "json_payload")
          .collect().map(_.toSeq)
      }.sortBy(_.toString)
    }
    assert(drvTasks.isEmpty, s"single-file reads must split on the driver, saw $drvTasks")
    assert(distRows == drvRows)
  }

  test("a 1-file stream splits on the driver; a 4-file stream submits split jobs") {
    def stream(dir: java.io.File): Unit = {
      val q = spark.readStream.format("payer-mrf").option("chunkBytes", "4111")
        .load(dir.getAbsolutePath)
        .writeStream.format("noop")
        .option("checkpointLocation", Files.createTempDirectory("mrf-ckpt-rule").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "stream did not terminate")
    }
    val one = Files.createTempDirectory("mrf-rule-1").toFile
    Files.write(new java.io.File(one, "a_ffs.json").toPath, MrfFixtures.ffs.getBytes("UTF-8"))
    val oneTasks = splitJobTasks(stream(one))
    assert(oneTasks.isEmpty, s"a 1-file stream must keep the driver scan, saw $oneTasks")
    // the streaming executor path runs one 1-task job per file
    val fourTasks = splitJobTasks(stream(fleetDir("mrf-rule-4")))
    assert(fourTasks == List(1, 1, 1, 1), s"expected four 1-task split jobs, saw $fourTasks")
  }

  test("streaming on the executor split path matches batch and restarts cleanly") {
    val dir = fleetDir("mrf-dist-s")
    val checkpoint = Files.createTempDirectory("mrf-ckpt-dist").toString
    val outDir = Files.createTempDirectory("mrf-out-dist").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("payer-mrf").option("chunkBytes", "4101")
        .load(dir.getAbsolutePath)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "stream did not terminate")
    }
    assert(splitJobTasks(runOnce()).nonEmpty, "a 4-file stream must split on executors")
    val batch = spark.read.format("payer-mrf").option("chunkBytes", "4101")
      .load(dir.getAbsolutePath)
    val streamed = spark.read.parquet(outDir)
    assert(streamed.count() == batch.count())
    assert(
      streamed.select("file_name", "header_key", "json_payload").collect()
        .map(_.toSeq).sortBy(_.toString).toSeq ==
      batch.select("file_name", "header_key", "json_payload").collect()
        .map(_.toSeq).sortBy(_.toString).toSeq)
    // restart: nothing re-emits
    runOnce()
    assert(spark.read.parquet(outDir).count() == batch.count())
  }

  test("multi-file stream survives a MID-STREAM restart: ordinals stable across files, no dupes, no gaps") {
    // three files, one readStream, micro-batches capped at 2 chunks so
    // batches SPAN file boundaries; the first run is killed
    // deterministically mid-stream (the sink throws on its second
    // batch, after batch 0 committed), the second run resumes from the
    // checkpoint. Exactly-once delivery across the restart proves the
    // global chunk ordinals re-derive identically over the multi-file
    // listing — the T7 determinism claim, under fleet geometry.
    val dir = Files.createTempDirectory("mrf-midrestart").toFile
    Files.write(new java.io.File(dir, "a_ffs.json").toPath, MrfFixtures.ffs.getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "b_bundle.json").toPath, MrfFixtures.bundle.getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "c_cap.json").toPath, MrfFixtures.capitation.getBytes("UTF-8"))
    val checkpoint = Files.createTempDirectory("mrf-ckpt-midrestart").toString
    val outDir = Files.createTempDirectory("mrf-out-midrestart").toString

    def run(failOnBatch: Long): Option[Throwable] = {
      val q = spark.readStream.format("payer-mrf")
        .option("chunkBytes", "4096").option("maxElements", "1")
        .option("maxChunksPerBatch", "2")
        .load(dir.getAbsolutePath)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (id == failOnBatch) throw new RuntimeException("injected mid-stream kill")
          df.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination(120000)
        None
      } catch { case t: org.apache.spark.sql.streaming.StreamingQueryException =>
        Some(t)
      } finally q.stop()
    }

    // run 1: dies on its SECOND batch — some chunks delivered, not all
    val err = run(failOnBatch = 1L)
    assert(err.exists(_.getMessage.contains("injected mid-stream kill")),
      s"first run should have died mid-stream, got $err")
    val partial = spark.read.parquet(outDir).count()
    assert(partial > 0, "mid-stream kill landed before any batch committed")

    // run 2: resumes from the checkpoint and drains to the end
    assert(run(failOnBatch = -1L).isEmpty, "restarted run should complete")

    val batch = spark.read.format("payer-mrf")
      .option("chunkBytes", "4096").option("maxElements", "1")
      .load(dir.getAbsolutePath)
      .select("file_name", "header_key", "json_payload")
    val streamed = spark.read.parquet(outDir)
      .select("file_name", "header_key", "json_payload")
    assert(partial < batch.count(), "kill was not actually mid-stream")
    // exactly-once across the restart: full multiset equality
    assert(
      streamed.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
        batch.collect().map(_.toSeq).sortBy(_.toString).toSeq,
      "restart re-emitted or dropped chunks")
    // and the fleet actually spanned all three files
    assert(streamed.select("file_name").distinct().count() == 3)
  }

  test("fleets larger than the split-cache capacity plan correctly") {
    // 130 files > MrfSplitCache.MaxFiles (128): planning must assemble
    // from computed results, not from the evicting LRU
    val dir = Files.createTempDirectory("mrf-fleet").toFile
    (0 until 130).foreach { i =>
      Files.write(new java.io.File(dir, f"f$i%03d.json").toPath,
        s"""{"plan": $i, "in_network": [{"billing_code": "$i"}]}""".getBytes("UTF-8"))
    }
    val df = spark.read.format("payer-mrf").option("perElement", "true")
      .load(dir.getAbsolutePath)
    // per file: 1 in_network element + 1 header chunk
    assert(df.count() == 260)
    assert(df.select("file_name").distinct().count() == 130)
  }

  test("ignoreCorruptFiles keeps a corrupt file's valid-prefix chunks") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mrf-prefix").toFile
    // two complete elements, then truncation mid-document
    Files.write(new java.io.File(dir, "partial.json").toPath,
      """{"in_network": [{"a": 1}, {"b": 2}, {"c":""".getBytes("UTF-8"))
    val df = spark.read.format("payer-mrf")
      .option("ignoreCorruptFiles", "true")
      .option("chunkBytes", "1").option("maxElements", "1")
      .load(dir.getAbsolutePath)
    // the two complete elements were split before the failure byte and
    // are returned (spark.sql.files.ignoreCorruptFiles semantics)
    val payloads = df.filter($"header_key" === "in_network")
      .select("json_payload").collect().map(_.getString(0)).toSet
    assert(payloads.exists(_.contains("\"a\"")) && payloads.exists(_.contains("\"b\"")),
      s"expected the two complete elements, got $payloads")
    assert(!payloads.exists(_.contains("\"c\"")))
  }

  test("a user-supplied schema must match the source schema exactly") {
    // matching schema (names + types) is accepted...
    val ok = spark.read
      .schema("file_name STRING, header_key STRING, json_payload STRING")
      .format("payer-mrf").load(ffsPath)
    assert(ok.count() > 0)
    // ...a divergent one fails AT PLANNING TIME with a clear message,
    // not as a per-task MatchError or silently corrupt rows
    val e = intercept[Exception] {
      spark.read.schema("fn STRING").format("payer-mrf").load(ffsPath).count()
    }
    assert(e.getMessage.contains("payer-mrf defines its own schema"), e.getMessage)
  }

  test("globs skip hidden/temp files; explicit paths honor them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mrf-glob").toFile
    Files.write(new java.io.File(dir, "data.json").toPath, MrfFixtures.ffs.getBytes("UTF-8"))
    // an in-flight Gunzip temp and an underscore marker in the same dir
    Files.write(new java.io.File(dir, ".x.json.tmp.abc123").toPath, "{garbage".getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "_SUCCESS").toPath, Array.empty[Byte])
    // directory listing and glob both see only the data file
    for (p <- Seq(dir.getAbsolutePath, dir.getAbsolutePath + "/*")) {
      val names = spark.read.format("payer-mrf").load(p)
        .select("file_name").distinct().collect().map(_.getString(0)).toSet
      assert(names == Set("data.json"), s"$p listed $names")
    }
    // an EXPLICIT non-glob path to a hidden file is deliberate intent
    Files.write(new java.io.File(dir, ".explicit.json").toPath, MrfFixtures.ffs.getBytes("UTF-8"))
    val explicit = spark.read.format("payer-mrf")
      .load(dir.getAbsolutePath + "/.explicit.json")
    assert(explicit.filter($"header_key" === "in_network").count() > 0)
    // a glob whose EVERY match is hidden fails loudly, not as a silent
    // empty scan
    val e = intercept[Exception] {
      spark.read.format("payer-mrf").load(dir.getAbsolutePath + "/.e*").count()
    }
    assert(e.getMessage.contains("hidden") || (e.getCause != null &&
      e.getCause.getMessage.contains("hidden")), e.getMessage)
  }

  test("streaming prunes pushed file_name filters at chunk scheduling") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mrf-sprune").toFile
    Files.write(new java.io.File(dir, "a_ffs.json").toPath, MrfFixtures.ffs.getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "b_bundle.json").toPath, MrfFixtures.bundle.getBytes("UTF-8"))
    val checkpoint = Files.createTempDirectory("mrf-ckpt-sprune").toString
    val q = spark.readStream.format("payer-mrf").load(dir.getAbsolutePath)
      .filter($"file_name" === "a_ffs.json")
      .writeStream.format("memory").queryName("mrf_sprune_out")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000))
    val got = spark.table("mrf_sprune_out")
    assert(got.select("file_name").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("a_ffs.json"))
    assert(got.count() == spark.read.format("payer-mrf").load(dir.getAbsolutePath)
      .filter($"file_name" === "a_ffs.json").count())
  }

  test("missing input fails fast") {
    val e = intercept[Exception] {
      spark.read.format("payer-mrf").load("/nonexistent/nope.json").count()
    }
    assert(e.getMessage.contains("nope") || e.getCause != null)
  }

  private def tableFor(path: String): MrfTable = {
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", path))
    new MrfTable(MrfOptions(opts), opts)
  }

  test("scan reads the OWNING session's Hadoop conf, not the active session's") {
    import org.apache.spark.sql.SparkSession
    val a = spark.newSession()
    val b = spark.newSession()
    a.conf.set("spark.hadoop.graft.probe", "session-a")
    b.conf.set("spark.hadoop.graft.probe", "session-b")
    val prevActive = SparkSession.getActiveSession
    try {
      SparkSession.setActiveSession(a)
      val table = tableFor(ffsPath) // captures A as owner
      // a DIFFERENT session is active when the scan is built — the bug
      // this guards against read the wrong session's conf here
      SparkSession.setActiveSession(b)
      val scan = table.newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().asInstanceOf[MrfScan]
      // session SQL-conf entries are copied into the Hadoop conf
      // verbatim (newHadoopConf does not strip the spark.hadoop prefix
      // for session-level overrides)
      assert(scan.hadoopConf().get("spark.hadoop.graft.probe") == "session-a")
    } finally prevActive.foreach(SparkSession.setActiveSession)
  }

  test("micro-batch stream works from a thread with NO active or default session") {
    import org.apache.spark.sql.SparkSession
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    val table = tableFor(ffsPath) // owner captured while a session exists
    val checkpoint = Files.createTempDirectory("mrf-nosession").toString
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // before the owning context was threaded through, this resolved
      // SparkSession.active at construction and blew up (or targeted
      // whatever session happened to be active)
      val stream = table.newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().asInstanceOf[MrfScan]
        .toMicroBatchStream(checkpoint).asInstanceOf[MrfMicroBatchStream]
      try {
        stream.prepareForTriggerAvailableNow() // blocks until split done
        assert(stream.latestOffset().asInstanceOf[MrfOffset].n > 0)
      } finally stream.stop()
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("commit GCs the chunk ledger — driver memory is bounded by the uncommitted window") {
    // drive the MicroBatchStream by hand (the exact calls Spark's
    // MicroBatchExecution makes) so the ledger is observable between
    // batches: with maxChunksPerBatch=2 the retained spec count must
    // never exceed the uncommitted window, and the base must advance
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of(
        "path", ffsPath, "chunkBytes", "4096", "maxElements", "1",
        "maxChunksPerBatch", "2"))
    val stream = new MrfTable(MrfOptions(opts), opts)
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().asInstanceOf[MrfScan]
      .toMicroBatchStream(Files.createTempDirectory("mrf-gc").toString)
      .asInstanceOf[MrfMicroBatchStream]
    try {
      stream.prepareForTriggerAvailableNow()
      val terminal = stream.latestOffset().asInstanceOf[MrfOffset].n
      assert(terminal == 6) // ffs at 4 KB/1-element chunks: 3+2+1
      var start = 0L
      while (start < terminal) {
        val end = stream
          .latestOffset(MrfOffset(start), ReadLimit.allAvailable())
          .asInstanceOf[MrfOffset].n
        assert(end - start <= 2, s"admission control violated: $start -> $end")
        assert(stream.planInputPartitions(MrfOffset(start), MrfOffset(end)).nonEmpty)
        stream.commit(MrfOffset(end))
        val (base, retained) = stream.ledgerState
        assert(base == end, s"ledger base $base did not advance to committed $end")
        assert(retained == (terminal - end).toInt,
          s"ledger retains $retained specs after committing $end of $terminal")
        start = end
      }
      assert(stream.ledgerState == ((terminal, 0)),
        "fully committed stream must hold zero chunk specs")
    } finally stream.stop()
  }

  test("an archive and its materialized sibling keep the same ordinal slot") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("mrf-ordinal").toFile
    // neighbor whose raw name sorts BETWEEN "x.json" and "x.json.gz" —
    // under raw-name ordering the archive would CHANGE SIDES of it
    // after decompression, shifting every later chunk's global ordinal
    val neighbor = new java.io.File(dir, "x.json.abc")
    java.nio.file.Files.write(neighbor.toPath, "{}".getBytes)
    val gz = new java.io.File(dir, "x.json.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    out.write(MrfFixtures.ffs.getBytes); out.close()
    val opts = MrfOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", dir.getAbsolutePath)))
    val conf = spark.sessionState.newHadoopConf()
    val before = MrfFileSplitter.listFileStatuses(opts, conf).map(_.getPath.getName)
    Gunzip.decompressIfNeeded(new Path(gz.getAbsolutePath), conf)
    val after = MrfFileSplitter.listFileStatuses(opts, conf).map(_.getPath.getName)
    assert(before == Seq("x.json.gz", "x.json.abc"),
      s"canonical ordering should place the archive at its sibling's slot, got $before")
    assert(after == Seq("x.json", "x.json.abc"),
      s"sibling must occupy the archive's former slot, got $after")
  }

  test("concurrent decompressIfNeeded materializes one intact sibling, no torn temps") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("mrf-race").toFile
    val gz = new java.io.File(dir, "y.json.gz")
    val payload = MrfFixtures.ffs
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    out.write(payload.getBytes); out.close()
    val conf = spark.sessionState.newHadoopConf()
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val results = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val errors = java.util.Collections.synchronizedList(new java.util.ArrayList[Throwable]())
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        try {
          barrier.await()
          results.add(Gunzip.decompressIfNeeded(new Path(gz.getAbsolutePath), conf).toString)
        } catch { case t: Throwable => errors.add(t) }
      }, s"gunzip-race-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    assert(errors.isEmpty, s"concurrent materialization failed: $errors")
    assert(results.size == 8 && results.asScala.toSet.size == 1)
    val sibling = new java.io.File(dir, "y.json")
    assert(new String(java.nio.file.Files.readAllBytes(sibling.toPath)) == payload,
      "sibling content torn or truncated")
    val leftovers = dir.listFiles().map(_.getName).filter(_.contains(".tmp"))
    assert(leftovers.isEmpty, s"stray temp files: ${leftovers.toSeq}")
  }

  test("two archives decompressing to the same sibling list once, newest wins") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mrf-dualarc").toFile
    // data.json.gz (older, ffs content) + data.json.zip (newer, bundle
    // content) both decompress to data.json: exactly ONE may be read —
    // the newer zip — or chunks double on first read and the listing
    // halves (shifting checkpoint ordinals) once the sibling exists
    val gz = new java.io.File(dir, "data.json.gz")
    val go = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    go.write(MrfFixtures.ffs.getBytes("UTF-8")); go.close()
    val zip = new java.io.File(dir, "data.json.zip")
    val zo = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zip))
    zo.putNextEntry(new java.util.zip.ZipEntry("data.json"))
    zo.write(MrfFixtures.bundle.getBytes("UTF-8")); zo.close()
    assert(gz.setLastModified(zip.lastModified() - 60000L))

    val df = spark.read.format("payer-mrf").load(dir.getAbsolutePath)
    val rows = df.filter($"header_key" === "in_network").count()
    assert(rows == 1, s"dual archives must list once, got $rows in_network chunks")
    val parsed = spark.read.json(
      df.filter($"header_key" === "in_network").select("json_payload").as[String])
    assert(parsed.select("negotiation_arrangement").collect()
      .map(_.getString(0)).toSeq == Seq("bundle"),
      "the NEWER archive's content must win")
  }

  test("zip AppleDouble metadata file entries are skipped, not materialized") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mrf-macosx").toFile
    // macOS Archive Utility layout: __MACOSX/._data.json is a FILE
    // entry (AppleDouble resource fork) preceding the payload —
    // materializing it would fail the splitter on binary bytes (or
    // silently zero the file under ignoreCorruptFiles)
    val zip = new java.io.File(dir, "data.json.zip")
    val zo = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zip))
    zo.putNextEntry(new java.util.zip.ZipEntry("__MACOSX/")); zo.closeEntry()
    zo.putNextEntry(new java.util.zip.ZipEntry("__MACOSX/._data.json"))
    zo.write(Array[Byte](0, 5, 22, 7, -1, -2, 0, 1)); zo.closeEntry()
    zo.putNextEntry(new java.util.zip.ZipEntry("data.json"))
    zo.write(MrfFixtures.ffs.getBytes("UTF-8")); zo.close()

    val df = spark.read.format("payer-mrf").load(dir.getAbsolutePath)
    assert(df.filter($"header_key" === "in_network").count() == 1)
  }

  test("maxResidueBytes is a real option: tiny cap fails loudly, raised cap reads") {
    val dir = Files.createTempDirectory("mrf-residue").toFile
    // a ~4 KB non-array header member: over the 1 KB floor cap, well
    // under a raised one
    val fat = s"""{"reporting_entity_name": "${"x" * 4096}",
                 |"in_network": [{"negotiation_arrangement": "ffs"}]}""".stripMargin
    Files.write(new java.io.File(dir, "r.json").toPath, fat.getBytes("UTF-8"))
    val tiny = intercept[Exception] {
      spark.read.format("payer-mrf")
        .option("maxResidueBytes", 1024).load(dir.getAbsolutePath).count()
    }
    assert(tiny.getMessage != null)
    val ok = spark.read.format("payer-mrf")
      .option("maxResidueBytes", 1 << 20).load(dir.getAbsolutePath).count()
    assert(ok > 0)
  }
}
