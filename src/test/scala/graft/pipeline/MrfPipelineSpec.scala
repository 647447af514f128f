package graft.pipeline

import graft.SparkTestBase
import graft.sources.MrfFixtures
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Silver/gold parity with the reference demo ETL on the synthesized FFS
  * fixture — the "minimum end-to-end slice" of SURVEY.md §7.1(3):
  * source → demux → parse → unnest → join → predicate, asserting the
  * fixture's known 123.45 rate for billing code 27447.
  */
class MrfPipelineSpec extends SparkTestBase {

  private lazy val bronze = {
    val p = MrfFixtures.writeTemp("ffs.json", MrfFixtures.ffs).getAbsolutePath
    spark.read.format("payer-mrf").load(p).cache()
  }

  test("header silver: one row per file with entity scalars") {
    val h = MrfPipeline.header(bronze)
    assert(h.count() == 1)
    val row = h.first()
    assert(row.getAs[String]("reporting_entity_name") == "graft health")
    assert(row.getAs[String]("plan_name") == "graft ppo")
    assert(row.getAs[String]("version") == "1.0.0")
  }

  test("providers silver: group rows with npi/tin + location variant") {
    import spark.implicits._
    val p = MrfPipeline.providerReferencesXPayer(bronze, MrfPipeline.header(bronze))
    assert(p.count() == 3) // 2 inline groups + 1 location-only
    val g100 = p.filter($"provider_group_id" === 100).first()
    assert(g100.getSeq[Long](g100.fieldIndex("npi")) == Seq(1111111111L, 2222222222L))
    assert(g100.getAs[org.apache.spark.sql.Row]("tin").getAs[String]("value") == "11-1111111")
    assert(g100.getAs[String]("reporting_entity_name") == "graft health")
    val g300 = p.filter($"provider_group_id" === 300).first()
    assert(g300.getAs[String]("location") != null && g300.isNullAt(g300.fieldIndex("npi")))
  }

  test("codes/rates/prices silver grain matches the fixture") {
    import spark.implicits._
    val s = MrfPipeline.silver(bronze)
    assert(s.codes.count() == 2) // 27447, 99213
    assert(s.rates.count() == 3) // 2 rates for 27447, 1 for 99213
    assert(s.prices.count() == 3)
    assert(s.parProviders.count() == 3) // refs [100,200] + [300]
    // deterministic surrogate keys: rebuilt pipeline yields identical keys
    val again = MrfPipeline.silver(bronze)
    assert(
      s.rates.select("sk_rate_id").collect().map(_.getLong(0)).toSet ==
        again.rates.select("sk_rate_id").collect().map(_.getLong(0)).toSet)
    // every price joins back to a code
    assert(
      s.prices.join(s.codes, "sk_in_network_id").count() == 3)
  }

  /** The six silver frames built on the parsed `in_network` items. */
  private def inNetworkFrames(s: MrfPipeline.Silver): Seq[(String, DataFrame)] = Seq(
    "codes" -> s.codes, "rates" -> s.rates, "prices" -> s.prices,
    "parProviders" -> s.parProviders, "rateProviderGroups" -> s.rateProviderGroups,
    "bundledCodes" -> s.bundledCodes)

  /** Stages with shuffle output that `body` runs. A marker job after
    * `body` flushes the listener bus: events arrive in order, so once
    * the marker's start is seen, every earlier stage's end has been too.
    */
  private def shuffleWritingStages(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "mrf-pipeline-marker-" + java.util.UUID.randomUUID()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (Option(e.stageInfo.taskMetrics).exists(_.shuffleWriteMetrics.recordsWritten > 0))
          stages.incrementAndGet()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "listener-bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      stages.get()
    } finally sc.removeSparkListener(listener)
  }

  test("silver parses and deduplicates in_network once for all six derived tables") {
    val p = MrfFixtures.writeTemp("ffs.json", MrfFixtures.ffs).getAbsolutePath
    val fresh = spark.read.format("payer-mrf").load(p)
    var s: MrfPipeline.Silver = null
    val shuffles = shuffleWritingStages {
      s = MrfPipeline.silver(fresh)
      inNetworkFrames(s).foreach { case (_, df) =>
        df.write.format("noop").mode("overwrite").save()
      }
    }
    assert(shuffles <= 1, s"silver + six writes ran $shuffles shuffle-writing stages")
    val leaves = inNetworkFrames(s).map { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs]))),
        s"$name re-parses bronze:\n$plan")
      val rdds = plan.collect { case lr: LogicalRDD => lr.rdd.id }
      assert(rdds.size == 1, s"$name reads ${rdds.size} checkpoint leaves:\n$plan")
      rdds.head
    }
    assert(leaves.distinct.size == 1, s"the six tables read different checkpoints: $leaves")
  }

  test("silver rejects a streaming bronze and points to foreachBatch") {
    val p = MrfFixtures.writeTemp("ffs.json", MrfFixtures.ffs).getAbsolutePath
    val streaming = spark.readStream.format("payer-mrf").load(p)
    val e = intercept[IllegalArgumentException](MrfPipeline.silver(streaming))
    assert(e.getMessage.contains("foreachBatch"), e.getMessage)
  }

  test("byte-identical duplicate in_network items dedupe instead of multiplying gold") {
    import spark.implicits._
    // the same item listed twice: identical content → identical
    // surrogate key. Left in, the rates × prices × providers chain
    // would emit 2×2 = 4+ gold rows per semantic row; the codes-level
    // dedup collapses the duplicate to exactly the single-item result
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(MrfFixtures.ffs)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val inNet = root.get("in_network")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    inNet.add(inNet.get(0).deepCopy[com.fasterxml.jackson.databind.JsonNode]())
    val p = MrfFixtures.writeTemp("dup.json", m.writeValueAsString(root)).getAbsolutePath
    val dupBronze = spark.read.format("payer-mrf").load(p)
    val s = MrfPipeline.silver(dupBronze)
    assert(s.codes.filter($"billing_code" === "27447").count() == 1,
      "duplicate item must collapse to one code row")
    val gold = MrfPipeline.shoppablePrices(s, billingCode = "27447", tinValue = "11-1111111")
    assert(gold.count() == 1, s"duplicate item multiplied gold rows: ${gold.count()}")
  }

  test("gold shoppable prices: knee replacement at TIN 11-1111111 = 123.45") {
    val s = MrfPipeline.silver(bronze)
    val gold = MrfPipeline.shoppablePrices(s, billingCode = "27447", tinValue = "11-1111111")
    val rows = gold.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Double]("negotiated_rate") == 123.45)
    assert(r.getAs[String]("billing_class") == "institutional")
    assert(r.getAs[Long]("provider_group_id") == 100L)
    assert(r.getAs[String]("reporting_entity_name") == "graft health")
  }

  test("gold returns both provider variants of one code and TIN in one lookup") {
    // the fixture's inline group on 27447's second rate moved to the
    // referenced group 100's TIN: one lookup then hits both sides
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(MrfFixtures.ffs)
    root.get("in_network").get(0).get("negotiated_rates").get(1)
      .get("provider_groups").get(0).get("tin")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("value", "11-1111111")
    val p = MrfFixtures.writeTemp("both.json", m.writeValueAsString(root)).getAbsolutePath
    val s = MrfPipeline.silver(spark.read.format("payer-mrf").load(p))
    val rows = MrfPipeline.shoppablePrices(s, "27447", "11-1111111").collect()
    val got = rows.map { r =>
      val g = r.fieldIndex("provider_group_id")
      (r.getAs[Double]("negotiated_rate"), if (r.isNullAt(g)) None else Some(r.getLong(g)))
    }.toSeq.sortBy(_._1)
    assert(got == Seq(123.45 -> Some(100L), 321.99 -> None), rows.toSeq)
    assert(rows.forall(_.getAs[String]("reporting_entity_name") == "graft health"), rows.toSeq)
  }

  test("gold reads each silver table it needs once per lookup") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = java.nio.file.Files.createTempDirectory("mrf-gold-silver")
    val s = MrfPipeline.silver(bronze)
    val tables = Seq(
      "header" -> s.header, "providers_x_payer" -> s.providersXPayer, "codes" -> s.codes,
      "rates" -> s.rates, "prices" -> s.prices, "par_providers" -> s.parProviders,
      "rate_provider_groups" -> s.rateProviderGroups, "bundled_codes" -> s.bundledCodes)
    tables.foreach { case (n, df) => df.write.parquet(dir.resolve(n).toString) }
    def t(n: String) = spark.read.parquet(dir.resolve(n).toString)
    val read = MrfPipeline.Silver(t("header"), t("providers_x_payer"), t("codes"), t("rates"),
      t("prices"), t("par_providers"), t("rate_provider_groups"), t("bundled_codes"))
    val gold = MrfPipeline.shoppablePrices(read, "27447", "11-1111111")
    val plan = gold.queryExecution.optimizedPlan
    val scanned = plan.collect { case lr: LogicalRelation => lr.relation }
      .flatMap { case h: HadoopFsRelation => h.location.rootPaths.map(_.getName) }.sorted
    assert(scanned == Seq("codes", "header", "par_providers", "prices",
      "providers_x_payer", "rate_provider_groups"), plan)
    assert(gold.collect().map(_.getAs[Double]("negotiated_rate")).toSeq == Seq(123.45))
  }

  /** The eight silver tables of `s` by name. */
  private def silverTables(s: MrfPipeline.Silver): Seq[(String, DataFrame)] =
    Seq("header" -> s.header, "providersXPayer" -> s.providersXPayer) ++ inNetworkFrames(s)

  /** The source's three bronze shapes of one fixture file. */
  private def shapes(name: String, json: String): Seq[(String, DataFrame)] = {
    val p = MrfFixtures.writeTemp(name, json).getAbsolutePath
    def read(opt: String) = spark.read.format("payer-mrf").option(opt, "true").load(p)
    Seq("chunk text" -> spark.read.format("payer-mrf").load(p),
      "perElement" -> read("perElement"), "payloadAsArray" -> read("payloadAsArray"))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a malformed element drops alone, in every shape") {
    import spark.implicits._
    val got = shapes("malformed.json", MrfFixtures.malformedElement).map { case (shape, b) =>
      val codes = MrfPipeline.inNetworkCodes(b)
      // T1's one price has a string rate: its row stays, the rate is null
      val t1RateIsNull = MrfPipeline.inNetworkRates(codes.filter($"billing_code" === "T1"))
        .select($"rate.negotiated_prices".getItem(0)("negotiated_rate").isNull)
        .as[Boolean].collect().toSeq
      (shape, codes.select(coalesce($"billing_code", lit("<null>"))).as[String]
        .collect().sorted.toSeq, t1RateIsNull)
    }
    assert(got.forall { case (_, codes, t1) =>
      codes == Seq("27447", "99213", "T1") && t1 == Seq(true)
    }, got)
  }

  /** Asserts that all eight silver tables and the gold lookup built from
    * the `shape` bronze are row-identical to those built from chunk text. */
  private def assertSameSilverAsChunkText(shape: String): Unit = {
    // code rows per fixture: the whitespace twins are two distinct
    // byte sequences, so they keep two keys and two rows
    val fixtures = Seq(
      ("ffs.json", MrfFixtures.ffs, 2),
      ("malformed.json", MrfFixtures.malformedElement, 3),
      ("twins.json", MrfFixtures.whitespaceTwins, 3))
    fixtures.foreach { case (name, json, nCodes) =>
      val bySilver = shapes(name, json).filter { case (sh, _) => sh == "chunk text" || sh == shape }
        .map { case (sh, b) =>
          val s = MrfPipeline.silver(b)
          assert(s.codes.count() == nCodes, s"$name, $sh")
          val gold = MrfPipeline.shoppablePrices(s, "27447", "11-1111111")
          sh -> (silverTables(s).map { case (t, df) => t -> rows(df) } :+ ("gold" -> rows(gold)))
        }
      assert(bySilver.map(_._1) == Seq("chunk text", shape))
      val Seq((_, want), (_, got)) = bySilver
      val gold = want.toMap.apply("gold")
      assert(gold.size == 1 && gold.head.contains(",123.45,"), s"$name: $gold")
      want.zip(got).foreach { case ((t, w), (_, g)) =>
        assert(g == w, s"$name: $t differs between chunk text and $shape")
      }
    }
  }

  test("pipeline works identically on perElement bronze") {
    assertSameSilverAsChunkText("perElement")
  }

  test("pipeline works identically on payloadAsArray bronze") {
    assertSameSilverAsChunkText("payloadAsArray")
  }

  test("capitation arrangement: covered_services survive the parse") {
    import spark.implicits._
    val p = MrfFixtures.writeTemp("cap.json", MrfFixtures.capitation).getAbsolutePath
    val b = spark.read.format("payer-mrf").load(p)
    val codes = MrfPipeline.inNetworkCodes(b)
    assert(codes.filter($"negotiation_arrangement" === "capitation").count() == 1)
    val covered = MrfPipeline.items(
      b, "in_network", graft.pipeline.MrfSchema.inNetworkItem)
      .select(explode($"item.covered_services").as("cs"))
      .select($"cs.billing_code").collect().map(_.getString(0)).toSet
    assert(covered == Set("99213", "99214"))
  }

  test("multiple-plans shape: no plan header members, in_network only") {
    import spark.implicits._
    val p = MrfFixtures.writeTemp("multi.json", MrfFixtures.multiPlan).getAbsolutePath
    val bronze = spark.read.format("payer-mrf").load(p)
    val h = MrfPipeline.header(bronze)
    assert(h.count() == 1)
    assert(h.first().getAs[String]("plan_name") == null)
    val s = MrfPipeline.silver(bronze)
    assert(s.codes.count() == 1 && s.prices.count() == 1)
    assert(s.parProviders.count() == 0) // inline groups, no int refs
    // the inline provider_groups variant surfaces through its own
    // silver table...
    assert(s.rateProviderGroups.count() == 1)
    val g = s.rateProviderGroups.first()
    assert(g.getAs[org.apache.spark.sql.Row]("tin").getAs[String]("value") == "55-5555555")
    // ...and reaches gold (a join through provider references alone
    // sees no provider rows for it)
    val gold = MrfPipeline.shoppablePrices(s, billingCode = "71045", tinValue = "55-5555555")
    val rows = gold.collect()
    assert(rows.length == 1, s"inline-group price missing from gold: ${rows.toSeq}")
    assert(rows.head.getAs[Double]("negotiated_rate") == 55.0)
    assert(rows.head.getAs[String]("reporting_entity_name") == "graft multi")
    assert(rows.head.isNullAt(rows.head.fieldIndex("provider_group_id")))
    // a refs-variant file through the same lookup is unchanged
    val ffsBronzeS = MrfPipeline.silver(
      spark.read.format("payer-mrf")
        .load(MrfFixtures.writeTemp("ffs.json", MrfFixtures.ffs).getAbsolutePath))
    val goldRefs = MrfPipeline.shoppablePrices(ffsBronzeS, "27447", "11-1111111")
    assert(goldRefs.collect().head.getAs[Double]("negotiated_rate") == 123.45)
  }

  test("bundle arrangement: bundled_codes survive the parse") {
    import spark.implicits._
    val p = MrfFixtures.writeTemp("bundle.json", MrfFixtures.bundle).getAbsolutePath
    val b = spark.read.format("payer-mrf").load(p)
    val codes = MrfPipeline.inNetworkCodes(b)
    assert(codes.filter($"negotiation_arrangement" === "bundle").count() == 1)
    val bundled = MrfPipeline.bundledCodes(codes)
    assert(bundled.select($"billing_code").collect().map(_.getString(0)).toSet ==
      Set("59400", "59409"))
    // bundled components join back to their parent bundle item
    assert(bundled.join(codes.drop("file_name", "billing_code", "billing_code_type",
      "billing_code_type_version", "description"), "sk_in_network_id").count() == 2)
  }

  test("q43 flagship: source → bronze → silver → gold matches the derivation") {
    // the oracle-checked catalog query, pinned here at sf0.001 so the
    // whole chain (JSON assembly, streaming source, pipeline) also runs
    // under the spec suite: billing code 7 = parts {7, 27}, each with
    // one rate referencing group 8 (j=0), two provider_groups entries
    // under TIN-8 → exactly 4 rows
    val q43 = graft.queries.QueryCatalog.queries("q43_mrf_gold_pipeline")
    val rows = q43(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 4)
    val byRateNpi = rows.map(r => (
      r.getAs[Double]("negotiated_rate"), r.getAs[String]("npi_csv"),
      r.getAs[String]("tin_value"), r.getAs[String]("billing_code"),
      r.getAs[Long]("provider_group_id"))).toSet
    assert(byRateNpi == Set(
      (7.0, "801,802", "TIN-8", "7", 8L),
      (7.0, "803", "TIN-8", "7", 8L),
      (27.0, "801,802", "TIN-8", "7", 8L),
      (27.0, "803", "TIN-8", "7", 8L)))
    assert(rows.forall(_.getAs[String]("reporting_entity_name") == "graft-test-payer"))
    assert(rows.forall(_.getAs[String]("service_code_csv") == "11,22"))
  }
}
