package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.MrfPipeline

/** q43: the engine's FLAGSHIP path — payer-mrf source → bronze →
  * silver → gold shoppable prices (`MrfPipeline` re-expressing
  * `/root/reference/01_payer_mrf_demo.py:143-238`) — under the DuckDB
  * oracle, end to end.
  *
  * The MRF document is DERIVED DETERMINISTICALLY from the part and
  * supplier testdata tables by integer arithmetic on their keys, so the
  * oracle can recompute the expected gold rows INDEPENDENTLY from the
  * same tables: any defect in JSON assembly, the splitter, schema
  * parsing, surrogate keys, or the silver/gold joins surfaces as a
  * row/hash mismatch. Nothing the query emits is read back by the
  * oracle.
  *
  * Generation rules (mirrored 1:1 in the oracle SQL):
  *  - in_network item per part with `p_partkey <= 40`: billing_code =
  *    p_partkey % 20 (so two items SHARE each code — exercising the
  *    repeated-billing-code surrogate-key path), name = p_name,
  *    arrangement "ffs".
  *  - two negotiated_rates per item (j = 0, 1), each referencing
  *    provider groups ((p+j) % 10)+1 and ((p+j+5) % 10)+1, each with
  *    ONE "negotiated" price of (p*100 + j*7)/100.0 and one
  *    "percentage" price the pipeline must filter out.
  *  - provider_references group g = 1..10: two provider_groups entries
  *    (npi [g*100+1, g*100+2] and [g*100+3]), both tin "TIN-g".
  *  - plus two "bundle" items exercising the non-FFS branch (dropped
  *    by gold's arrangement filter).
  */
object MrfGold {

  private val FileName = "mrf_q43.json"
  private val Payer = "graft-test-payer"

  private[queries] def buildJson(
      parts: Seq[(Long, String)],
      groups: Seq[Long],
      rateOf: (Long, Int) => Double = (p, j) => (p * 100 + j * 7) / 100.0,
      includePart: Long => Boolean = _ => true,
      // q214: vendor extension field injected on matching parts —
      // exercised by the schema-drift detector, default off
      extensionOn: Long => Boolean = _ => false): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("reporting_entity_name", Payer)
    root.put("reporting_entity_type", "payer")
    root.put("last_updated_on", "2024-01-01")
    root.put("version", "1.0.0")
    val provRefs = root.putArray("provider_references")
    // group ids COME FROM the supplier table (mirroring the oracle's
    // `FROM supplier WHERE s_suppkey <= 10`) — a dataset with fewer
    // suppliers then drops the same rate rows on both sides instead of
    // silently diverging from a fabricated 1..10
    groups.foreach { g =>
      val ref = provRefs.addObject()
      ref.put("provider_group_id", g)
      // groupsNode, not `groups`: shadowing the Seq[Long] parameter
      // inside the loop that iterates it invites silent misuse
      val groupsNode = ref.putArray("provider_groups")
      val g1 = groupsNode.addObject()
      val n1 = g1.putArray("npi"); n1.add(g * 100L + 1); n1.add(g * 100L + 2)
      val t1 = g1.putObject("tin"); t1.put("type", "ein"); t1.put("value", s"TIN-$g")
      val g2 = groupsNode.addObject()
      val n2 = g2.putArray("npi"); n2.add(g * 100L + 3)
      val t2 = g2.putObject("tin"); t2.put("type", "ein"); t2.put("value", s"TIN-$g")
    }
    val inNetwork = root.putArray("in_network")
    parts.filter(pp => includePart(pp._1)).foreach { case (p, pname) =>
      val item = inNetwork.addObject()
      item.put("negotiation_arrangement", "ffs")
      item.put("name", pname)
      item.put("billing_code_type", "CPT")
      item.put("billing_code_type_version", "2024")
      item.put("billing_code", (p % 20).toString)
      item.put("description", s"item-$p")
      if (extensionOn(p)) item.put("x_custom_ext", s"ext-$p")
      val rates = item.putArray("negotiated_rates")
      (0 to 1).foreach { j =>
        val rate = rates.addObject()
        val refs = rate.putArray("provider_references")
        refs.add(((p + j) % 10) + 1); refs.add(((p + j + 5) % 10) + 1)
        val prices = rate.putArray("negotiated_prices")
        val neg = prices.addObject()
        neg.put("negotiated_type", "negotiated")
        neg.put("negotiated_rate", rateOf(p, j))
        neg.put("expiration_date", "2025-12-31")
        val sc = neg.putArray("service_code"); sc.add("11"); sc.add("22")
        neg.put("billing_class", "institutional")
        val pct = prices.addObject()
        pct.put("negotiated_type", "percentage")
        pct.put("negotiated_rate", 50.0)
        pct.put("expiration_date", "2025-12-31")
        pct.put("billing_class", "institutional")
      }
    }
    Seq(41L, 42L).foreach { p =>
      val item = inNetwork.addObject()
      item.put("negotiation_arrangement", "bundle")
      item.put("name", s"bundle-$p")
      item.put("billing_code_type", "CPT")
      item.put("billing_code_type_version", "2024")
      item.put("billing_code", (p % 20).toString)
      val bc = item.putArray("bundled_codes").addObject()
      bc.put("billing_code_type", "CPT")
      bc.put("billing_code_type_version", "2024")
      bc.put("billing_code", s"B$p")
      bc.put("description", s"component-$p")
    }
    m.writeValueAsString(root)
  }

  /** Stage the derived MRF document and run it through the REAL
    * `payer-mrf` streaming source, returning the materialized bronze
    * frame (shared by q43's gold pipeline and q154's benchmarking —
    * both exercise source + splitter + schema parse end to end).
    */
  private def stagedBronze(
      s: SparkSession, d: String, tag: String,
      rateOf: (Long, Int) => Double = (p, j) => (p * 100 + j * 7) / 100.0,
      includePart: Long => Boolean = _ => true,
      includeGroup: Long => Boolean = _ => true): DataFrame = {
    import s.implicits._
    val parts = s.read.parquet(s"$d/part.parquet")
      .filter($"p_partkey" <= 40)
      .select($"p_partkey", $"p_name")
      // bounded: <= 40 literal-keyed dim rows for the MRF fixture doc
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val groups = s.read.parquet(s"$d/supplier.parquet")
      .filter($"s_suppkey" <= 10)
      .select($"s_suppkey")
      // bounded: <= 10 literal-keyed dim rows
      .collect().map(_.getLong(0)).toSeq.sorted
      // a narrower network: the document simply omits the group, and
      // the natural-key join drops its rate rows on both sides
      .filter(includeGroup)
    // RAM-backed scratch where available + explicit checkpoint: the
    // bronze stream's checkpoint fsyncs must not be hostage to a slow
    // disk (see [[Scratch]])
    val dir = Scratch.tempDir(tag)
    val file = dir.resolve(FileName)
    try {
      java.nio.file.Files.writeString(file, buildJson(parts, groups, rateOf, includePart))
      // bronze arrives through the real streaming source (the
      // reference's deployment shape); AvailableNow ends the stream at
      // the terminal offset and the memory sink materializes bronze,
      // so the staged file can be deleted before the caller executes
      // the returned (lazy) downstream plan
      val name = tag + "_bronze_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // memory-sink view drops in a finally — a failed/timed-out stream
      // must not leak its bronze rows into the session
      try {
        val q = s.readStream.format("payer-mrf").load(file.toString)
          .writeStream.outputMode("append")
          .format("memory").queryName(name)
          .option("checkpointLocation", dir.resolve("_ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        // stop() on the failure path too: a hung stream must not keep
        // running (and reading the staged file the finally deletes)
        // after the timeout propagates; stop() after normal termination
        // is a no-op
        try require(q.awaitTermination(600000),
          s"$tag bronze stream did not terminate within 600s — refusing a partial bronze")
        finally q.stop()
        // one eager localCheckpoint materializes bronze off the temp
        // view (dropped in the finally) and off the staged JSON (the
        // outer finally deletes it) — no driver-side row copy
        s.table(name).localCheckpoint(true)
      } finally s.catalog.dropTempView(name)
    } finally {
      // the JSON is only needed until the stream terminates (above);
      // bronze is materialized driver-side by then
      Scratch.deleteRecursively(dir)
    }
  }

  private def q43(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sv = MrfPipeline.silver(stagedBronze(s, d, "q43_mrf"))
    // BOTH provider variants (the staged document only uses group-id
    // references, so the inline side contributes zero rows — but the
    // union plan is what runs under the oracle)
    MrfPipeline.shoppablePrices(sv, billingCode = "7", tinValue = "TIN-8")
      .select(
        $"file_name", $"reporting_entity_name", $"billing_code",
        $"billing_code_type", $"name", $"negotiated_rate", $"billing_class",
        array_join($"service_code", ",").as("service_code_csv"),
        $"expiration_date", $"provider_group_id",
        array_join($"npi".cast("array<string>"), ",").as("npi_csv"),
        $"tin".getField("value").as("tin_value"))
      .orderBy($"negotiated_rate", $"npi_csv")
  }

  /** q154: rate BENCHMARKING over the same pipeline — every
    * fee-for-service negotiated rate positioned within its billing
    * code's market: percent_rank (the exact (r−1)/(n−1) rational both
    * engines compute identically), code row count, and exact min/max.
    * THE canonical price-transparency consumer question ("is this
    * rate high for this service?") asked of the full unfiltered
    * silver rate table — no billing-code or TIN slice, so this also
    * exercises the silver codes ⋈ prices join at full width. The
    * per-code window is bounded by rates-per-code (market size), not
    * the corpus.
    */
  private def q154(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sv = MrfPipeline.silver(stagedBronze(s, d, "q154_mrf"))
    val rates = sv.codes.filter($"negotiation_arrangement" === "ffs")
      .select($"sk_in_network_id", $"billing_code")
      .join(sv.prices.select($"sk_in_network_id", $"negotiated_rate"), "sk_in_network_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("billing_code").orderBy("negotiated_rate")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("billing_code")
    rates.select(
      $"billing_code", $"negotiated_rate",
      count(lit(1)).over(wAll).as("n_code"),
      percent_rank().over(w).as("pct_rank"),
      min($"negotiated_rate").over(wAll).as("code_min"),
      max($"negotiated_rate").over(wAll).as("code_max"))
      .orderBy($"billing_code", $"negotiated_rate")
  }


  /** q160: MONTH-OVER-MONTH rate-change detection — the price-
    * transparency consumer's time axis: TWO document versions run
    * through the full source→silver pipeline and diff per item
    * (keyed by the unique description). Version 2 raises every
    * p % 5 == 0 item's rates 10% and delists item 3, so all four
    * change classes (changed / unchanged / delisted / added-side
    * geometry) are observable. One full-outer join on the item key —
    * the q108 snapshot-diff shape applied to the MRF domain.
    */
  private def q160(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def ratesOf(bronze: DataFrame): DataFrame = {
      val sv = MrfPipeline.silver(bronze)
      sv.codes.filter($"negotiation_arrangement" === "ffs")
        .select($"sk_in_network_id", $"description")
        .join(sv.prices.select($"sk_in_network_id", $"negotiated_rate"), "sk_in_network_id")
        .groupBy($"description")
        .agg(min($"negotiated_rate").as("rmin"), max($"negotiated_rate").as("rmax"))
    }
    val v1 = ratesOf(stagedBronze(s, d, "q160_v1"))
    val v2 = ratesOf(stagedBronze(s, d, "q160_v2",
      rateOf = (p, j) =>
        if (p % 5 == 0) (p * 100 + j * 7) * 11 / 1000.0 else (p * 100 + j * 7) / 100.0,
      includePart = _ != 3L))
    v1.select($"description", $"rmin".as("old_min"), $"rmax".as("old_max"))
      .join(
        v2.select($"description", $"rmin".as("new_min"), $"rmax".as("new_max")),
        Seq("description"), "full_outer")
      .withColumn("change",
        when($"new_min".isNull, "delisted")
          .when($"old_min".isNull, "added")
          .when($"old_min" === $"new_min" && $"old_max" === $"new_max", "unchanged")
          .otherwise("changed"))
      .orderBy($"description")
  }

  /** q172: PROVIDER-NETWORK overlap between two payers — the other
    * canonical price-transparency consumer question ("do these payers
    * cover the same providers for this service?"). Two documents run
    * the full source→silver path: payer 1 with the complete network,
    * payer 2 omitting every third provider group (`includeGroup`).
    * Per billing code: the NPI set reachable through codes ⋈
    * referenced groups ⋈ provider groups in each network, exact
    * set-overlap counts, and the Jaccard as one pinned division —
    * bit-exact, no tolerance. The oracle recomputes everything
    * INDEPENDENTLY from the generation rules (part/supplier tables),
    * touching none of the emitted output.
    */
  private def q172(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def npiByCode(bronze: DataFrame): DataFrame = {
      val sv = MrfPipeline.silver(bronze)
      sv.codes.filter($"negotiation_arrangement" === "ffs")
        .select($"sk_in_network_id", $"billing_code")
        .join(sv.parProviders.select($"sk_in_network_id", $"provider_reference_id"),
          "sk_in_network_id")
        .join(sv.providersXPayer.select($"provider_group_id", $"npi"),
          $"provider_reference_id" === $"provider_group_id")
        .select($"billing_code", explode($"npi").as("npi"))
        .distinct()
    }
    val v1 = npiByCode(stagedBronze(s, d, "q172_v1")).localCheckpoint(true)
    val v2 = npiByCode(stagedBronze(s, d, "q172_v2",
      includeGroup = g => g % 3 != 0)).localCheckpoint(true)
    val c1 = v1.groupBy($"billing_code").agg(count(lit(1)).as("npi_v1"))
    val c2 = v2.groupBy($"billing_code").agg(count(lit(1)).as("npi_v2"))
    val cc = v1.join(v2, Seq("billing_code", "npi"))
      .groupBy($"billing_code").agg(count(lit(1)).as("npi_common"))
    val cu = v1.unionByName(v2).distinct()
      .groupBy($"billing_code").agg(count(lit(1)).as("npi_union"))
    c1.join(c2, Seq("billing_code"), "left")
      .join(cc, Seq("billing_code"), "left")
      .join(cu, Seq("billing_code"))
      .select($"billing_code", $"npi_v1",
        coalesce($"npi_v2", lit(0L)).as("npi_v2"),
        coalesce($"npi_common", lit(0L)).as("npi_common"),
        (coalesce($"npi_common", lit(0L)).cast("double") / $"npi_union".cast("double"))
          .as("jaccard"))
      .orderBy($"billing_code")
  }

  def all: Seq[Q] = Seq(
    Q(
      "q43_mrf_gold_pipeline",
      q43,
      // independent recomputation from part/supplier by the same
      // integer derivation — no read-back of the emitted result
      Some("""WITH prov AS (
             |  SELECT s_suppkey AS gid,
             |    CAST(s_suppkey*100+1 AS VARCHAR) || ',' || CAST(s_suppkey*100+2 AS VARCHAR) AS npi_csv
             |  FROM supplier WHERE s_suppkey <= 10
             |  UNION ALL
             |  SELECT s_suppkey, CAST(s_suppkey*100+3 AS VARCHAR)
             |  FROM supplier WHERE s_suppkey <= 10),
             |rates AS (
             |  SELECT p_partkey, p_name, j
             |  FROM part, (SELECT unnest([0, 1]) AS j) WHERE p_partkey <= 40),
             |refs AS (
             |  SELECT p_partkey, p_name, j, ((p_partkey + j) % 10) + 1 AS gid FROM rates
             |  UNION ALL
             |  SELECT p_partkey, p_name, j, ((p_partkey + j + 5) % 10) + 1 FROM rates)
             |SELECT 'mrf_q43.json' AS file_name,
             |  'graft-test-payer' AS reporting_entity_name,
             |  CAST(p_partkey % 20 AS VARCHAR) AS billing_code,
             |  'CPT' AS billing_code_type,
             |  p_name AS name,
             |  CAST(p_partkey*100 + j*7 AS DOUBLE)/100.0 AS negotiated_rate,
             |  'institutional' AS billing_class,
             |  '11,22' AS service_code_csv,
             |  '2025-12-31' AS expiration_date,
             |  CAST(gid AS BIGINT) AS provider_group_id,
             |  npi_csv,
             |  'TIN-' || CAST(gid AS VARCHAR) AS tin_value
             |FROM refs JOIN prov USING (gid)
             |WHERE (p_partkey % 20) = 7 AND gid = 8
             |ORDER BY negotiated_rate, npi_csv""".stripMargin)),

    // ---- per-ELEMENT row grain through the batch source (the
    // `perElement` option, previously spec-only): the same
    // deterministically derived MRF document, read with one row per
    // top-level array element, histogrammed by the business key inside
    // each element's payload. The oracle recomputes the histogram from
    // part/supplier with the same integer derivation — any defect in
    // the element splitter (boundary placement, bracket wrap, lost or
    // duplicated elements) or in payload integrity shows up as a
    // wrong count.
    Q(
      "q98_mrf_per_element",
      (s, d) => {
        import s.implicits._
        val parts = s.read.parquet(s"$d/part.parquet")
          .filter($"p_partkey" <= 40)
          .select($"p_partkey", $"p_name")
          // bounded: <= 40 literal-keyed dim rows for the MRF fixture doc
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
        val groups = s.read.parquet(s"$d/supplier.parquet")
          .filter($"s_suppkey" <= 10)
          .select($"s_suppkey")
          // bounded: <= 10 literal-keyed dim rows
          .collect().map(_.getLong(0)).toSeq.sorted
        val dir = Scratch.tempDir("q98_mrf")
        val file = dir.resolve("mrf_q98.json")
        try {
          java.nio.file.Files.writeString(file, buildJson(parts, groups))
          s.read.format("payer-mrf").option("perElement", "true")
            .load(file.toString)
            .filter($"header_key".isin("in_network", "provider_references"))
            .select($"header_key",
              coalesce(
                get_json_object($"json_payload", "$.billing_code"),
                get_json_object($"json_payload", "$.provider_group_id")).as("k"))
            .groupBy($"header_key", $"k").agg(count(lit(1)).as("n"))
            .orderBy($"header_key", $"k")
            // materialize on executors BEFORE the staged file deletes —
            // the caller executes the returned plan later (q43's rule)
            .localCheckpoint(true)
        } finally Scratch.deleteRecursively(dir)
      },
      Some("""WITH inn AS (
             |  SELECT CAST(p_partkey % 20 AS VARCHAR) AS k
             |  FROM part WHERE p_partkey <= 40
             |  UNION ALL SELECT '1'  -- bundle item 41 (41 % 20)
             |  UNION ALL SELECT '2'  -- bundle item 42
             |),
             |pr AS (SELECT CAST(s_suppkey AS VARCHAR) AS k
             |  FROM supplier WHERE s_suppkey <= 10)
             |SELECT 'in_network' AS header_key, k, count(*) AS n FROM inn GROUP BY k
             |UNION ALL
             |SELECT 'provider_references', k, count(*) FROM pr GROUP BY k
             |ORDER BY header_key, k""".stripMargin)),

    // ---- q154: rate benchmarking — see [[q154]]. The oracle derives
    // the full unfiltered rate table independently from `part` by the
    // generation rules (q43's discipline: nothing emitted is read
    // back) and replays the exact percent_rank rational and window
    // extrema; any defect in the source, splitter, silver joins, or
    // ranking shifts a row.
    Q(
      "q154_mrf_rate_benchmark",
      q154,
      Some("""WITH p AS (SELECT p_partkey AS p FROM part WHERE p_partkey <= 40),
             |r AS (SELECT CAST(p % 20 AS VARCHAR) AS billing_code,
             |    (p * 100 + j * 7) / 100.0 AS negotiated_rate
             |  FROM p, (SELECT unnest([0, 1]) AS j))
             |SELECT billing_code, negotiated_rate,
             |  count(*) OVER (PARTITION BY billing_code) AS n_code,
             |  percent_rank() OVER (PARTITION BY billing_code ORDER BY negotiated_rate) AS pct_rank,
             |  min(negotiated_rate) OVER (PARTITION BY billing_code) AS code_min,
             |  max(negotiated_rate) OVER (PARTITION BY billing_code) AS code_max
             |FROM r ORDER BY billing_code, negotiated_rate""".stripMargin)),

    // ---- q160: month-over-month rate changes — see [[q160]]. The
    // oracle derives BOTH versions' rate tables from `part` by the
    // generation rules (q43 discipline) and replays the diff exactly.
    Q(
      "q160_mrf_rate_changes",
      q160,
      Some("""WITH p AS (SELECT p_partkey AS p, 'item-' || p_partkey AS description
             |  FROM part WHERE p_partkey <= 40),
             |v1 AS (SELECT description,
             |    min((p * 100 + j * 7) / 100.0) AS old_min,
             |    max((p * 100 + j * 7) / 100.0) AS old_max
             |  FROM p, (SELECT unnest([0, 1]) AS j) GROUP BY description),
             |v2 AS (SELECT description,
             |    min(CASE WHEN p % 5 = 0 THEN (p * 100 + j * 7) * 11 / 1000.0
             |             ELSE (p * 100 + j * 7) / 100.0 END) AS new_min,
             |    max(CASE WHEN p % 5 = 0 THEN (p * 100 + j * 7) * 11 / 1000.0
             |             ELSE (p * 100 + j * 7) / 100.0 END) AS new_max
             |  FROM p, (SELECT unnest([0, 1]) AS j) WHERE p <> 3 GROUP BY description),
             |f AS (SELECT description, old_min, old_max, new_min, new_max
             |  FROM v1 FULL OUTER JOIN v2 USING (description))
             |SELECT description, old_min, old_max, new_min, new_max,
             |  CASE WHEN new_min IS NULL THEN 'delisted'
             |       WHEN old_min IS NULL THEN 'added'
             |       WHEN old_min = new_min AND old_max = new_max THEN 'unchanged'
             |       ELSE 'changed' END AS change
             |FROM f ORDER BY description""".stripMargin)),

    // ---- q172: payer network overlap — see [[q172]]. The oracle
    // rebuilds both networks' (code, npi) sets from the generation
    // rules alone: groups from supplier, rate references
    // ((p+j)%10)+1 / ((p+j+5)%10)+1, npis {g·100+1..3}; payer 2 drops
    // g % 3 = 0. Exact counts, one pinned division.
    Q(
      "q172_mrf_network_overlap",
      q172,
      Some("""WITH p AS (SELECT p_partkey AS p FROM part WHERE p_partkey <= 40),
             |g1 AS (SELECT s_suppkey AS g FROM supplier WHERE s_suppkey <= 10),
             |g2 AS (SELECT g FROM g1 WHERE g % 3 <> 0),
             |refs AS MATERIALIZED (SELECT p.p, unnest([((p.p + j.j) % 10) + 1,
             |    ((p.p + j.j + 5) % 10) + 1]) AS g
             |  FROM p, (SELECT unnest([0, 1]) AS j) j),
             |npis AS MATERIALIZED (SELECT g, unnest([g * 100 + 1, g * 100 + 2, g * 100 + 3]) AS npi
             |  FROM g1),
             |v1 AS MATERIALIZED (SELECT DISTINCT CAST(r.p % 20 AS VARCHAR) AS billing_code, n.npi
             |  FROM refs r JOIN g1 ON r.g = g1.g JOIN npis n ON n.g = r.g),
             |v2 AS MATERIALIZED (SELECT DISTINCT CAST(r.p % 20 AS VARCHAR) AS billing_code, n.npi
             |  FROM refs r JOIN g2 ON r.g = g2.g JOIN npis n ON n.g = r.g),
             |c1 AS (SELECT billing_code, count(*) AS npi_v1 FROM v1 GROUP BY 1),
             |c2 AS (SELECT billing_code, count(*) AS npi_v2 FROM v2 GROUP BY 1),
             |cc AS (SELECT v1.billing_code, count(*) AS npi_common
             |  FROM v1 JOIN v2 USING (billing_code, npi) GROUP BY 1),
             |cu AS (SELECT billing_code, count(*) AS npi_union
             |  FROM (SELECT * FROM v1 UNION SELECT * FROM v2) GROUP BY 1)
             |SELECT c1.billing_code, c1.npi_v1,
             |  coalesce(c2.npi_v2, 0) AS npi_v2,
             |  coalesce(cc.npi_common, 0) AS npi_common,
             |  CAST(coalesce(cc.npi_common, 0) AS DOUBLE) / CAST(cu.npi_union AS DOUBLE) AS jaccard
             |FROM c1
             |LEFT JOIN c2 USING (billing_code)
             |LEFT JOIN cc USING (billing_code)
             |JOIN cu USING (billing_code)
             |ORDER BY billing_code""".stripMargin)),

    // ---- q196: MULTI-FILE STREAMING FLEET — the q43 gold pipeline
    // where bronze arrives from THREE files through ONE readStream
    // over the directory listing (the fleet geometry of a real TiC
    // month: hundreds of files per payer). Parts shard across files by
    // p % 3; every file carries the full provider network, and gold's
    // per-file join scoping keeps them separate. Micro-batches are
    // capped below the per-file chunk count so batches SPAN file
    // boundaries — global ordinal offsets across the multi-file ledger
    // are what the oracle implicitly checks: a listing-order or
    // ordinal defect loses or duplicates chunks and moves rows/hashes.
    Q(
      "q196_mrf_multifile_fleet",
      (s, d) => {
        import s.implicits._
        val parts = s.read.parquet(s"$d/part.parquet")
          .filter($"p_partkey" <= 40)
          .select($"p_partkey", $"p_name")
          // bounded: <= 40 literal-keyed dim rows for the MRF fixture doc
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
        val groups = s.read.parquet(s"$d/supplier.parquet")
          .filter($"s_suppkey" <= 10)
          .select($"s_suppkey")
          // bounded: <= 10 literal-keyed dim rows
          .collect().map(_.getLong(0)).toSeq.sorted
        val dir = Scratch.tempDir("q196_fleet")
        try {
          (0 until 3).foreach { k =>
            java.nio.file.Files.writeString(
              dir.resolve(s"mrf_$k.json"),
              buildJson(parts, groups, includePart = p => p % 3 == k))
          }
          val name = "q196_bronze_" + java.util.UUID.randomUUID().toString.replace("-", "")
          try {
            val q = s.readStream.format("payer-mrf")
              .option("maxChunksPerBatch", "2")
              .load(dir.toString)
              .writeStream.outputMode("append")
              .format("memory").queryName(name)
              .option("checkpointLocation", dir.resolve("_ckpt").toString)
              .trigger(Trigger.AvailableNow())
              .start()
            try require(q.awaitTermination(600000),
              "q196 stream did not terminate within 600s — refusing a partial bronze")
            finally q.stop()
            val dataBatches = q.recentProgress.count(_.numInputRows > 0)
            require(dataBatches >= 3,
              s"q196 ran $dataBatches data micro-batch(es); the fleet point needs " +
                "batches spanning the 3-file listing")
            val sv = MrfPipeline.silver(s.table(name).localCheckpoint(true))
            MrfPipeline.shoppablePrices(sv, billingCode = "7", tinValue = "TIN-8")
              .select(
                $"file_name", $"reporting_entity_name", $"billing_code",
                $"billing_code_type", $"name", $"negotiated_rate", $"billing_class",
                array_join($"service_code", ",").as("service_code_csv"),
                $"expiration_date", $"provider_group_id",
                array_join($"npi".cast("array<string>"), ",").as("npi_csv"),
                $"tin".getField("value").as("tin_value"))
              .orderBy($"file_name", $"negotiated_rate", $"npi_csv")
          } finally s.catalog.dropTempView(name)
        } finally Scratch.deleteRecursively(dir)
      },
      // the q43 oracle plus the file-assignment rule — recomputed from
      // part/supplier alone, nothing read back from the stream
      Some("""WITH prov AS (
             |  SELECT s_suppkey AS gid,
             |    CAST(s_suppkey*100+1 AS VARCHAR) || ',' || CAST(s_suppkey*100+2 AS VARCHAR) AS npi_csv
             |  FROM supplier WHERE s_suppkey <= 10
             |  UNION ALL
             |  SELECT s_suppkey, CAST(s_suppkey*100+3 AS VARCHAR)
             |  FROM supplier WHERE s_suppkey <= 10),
             |rates AS (
             |  SELECT p_partkey, p_name, j
             |  FROM part, (SELECT unnest([0, 1]) AS j) WHERE p_partkey <= 40),
             |refs AS (
             |  SELECT p_partkey, p_name, j, ((p_partkey + j) % 10) + 1 AS gid FROM rates
             |  UNION ALL
             |  SELECT p_partkey, p_name, j, ((p_partkey + j + 5) % 10) + 1 FROM rates)
             |SELECT 'mrf_' || CAST(p_partkey % 3 AS VARCHAR) || '.json' AS file_name,
             |  'graft-test-payer' AS reporting_entity_name,
             |  CAST(p_partkey % 20 AS VARCHAR) AS billing_code,
             |  'CPT' AS billing_code_type,
             |  p_name AS name,
             |  CAST(p_partkey*100 + j*7 AS DOUBLE)/100.0 AS negotiated_rate,
             |  'institutional' AS billing_class,
             |  '11,22' AS service_code_csv,
             |  '2025-12-31' AS expiration_date,
             |  CAST(gid AS BIGINT) AS provider_group_id,
             |  npi_csv,
             |  'TIN-' || CAST(gid AS VARCHAR) AS tin_value
             |FROM refs JOIN prov USING (gid)
             |WHERE (p_partkey % 20) = 7 AND gid = 8
             |ORDER BY file_name, negotiated_rate, npi_csv""".stripMargin)),

    // ---- q224: PER-CODE RATE OUTLIERS — the robust-statistics
    // operators composed onto the MRF domain: for every billing code,
    // the EXACT per-group median rate ([[graft.operators
    // .WeightedQuantile]] with unit weights — smallest value whose
    // cumulative count reaches half), the exact MAD (a second
    // per-group selection over the derived |rate − median|), and the
    // count of rates beyond median + 3·MAD — "which negotiated rates
    // are anomalous for this service" asked of the full silver rate
    // table. Everything is a data value or a single IEEE expression
    // over data values — hash-exact, no tolerance.
    Q(
      "q224_mrf_rate_outliers",
      (s, d) => {
        import s.implicits._
        val sv = MrfPipeline.silver(stagedBronze(s, d, "q224_mrf"))
        val rates = sv.codes.filter($"negotiation_arrangement" === "ffs")
          .select($"sk_in_network_id", $"billing_code")
          .join(sv.prices.select($"sk_in_network_id", $"negotiated_rate"),
            "sk_in_network_id")
          .select($"billing_code", $"negotiated_rate")
          .localCheckpoint(true) // three consumers below
        val med = graft.operators.WeightedQuantile.weightedQuantile(
          rates, $"billing_code", $"negotiated_rate", lit(1.0), 1, 2)
          .toDF("billing_code", "med")
        val withMed = rates.join(med, "billing_code")
        val mad = graft.operators.WeightedQuantile.weightedQuantile(
          withMed.select($"billing_code",
            abs($"negotiated_rate" - $"med").as("dev")),
          $"billing_code", $"dev", lit(1.0), 1, 2)
          .toDF("billing_code", "mad")
        withMed.join(mad, "billing_code")
          .groupBy($"billing_code")
          .agg(
            count(lit(1)).as("n"),
            first($"med").as("med"),
            first($"mad").as("mad"),
            sum(when($"negotiated_rate" > $"med" + lit(3.0) * $"mad", 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy($"billing_code")
      },
      Some("""WITH p AS (SELECT p_partkey AS p FROM part WHERE p_partkey <= 40),
             |r AS MATERIALIZED (SELECT CAST(p % 20 AS VARCHAR) AS bc,
             |    (p * 100 + j * 7) / 100.0 AS rate
             |  FROM p, (SELECT unnest([0, 1]) AS j)),
             |rk AS MATERIALIZED (SELECT bc, rate,
             |    row_number() OVER (PARTITION BY bc ORDER BY rate) AS rn,
             |    count(*) OVER (PARTITION BY bc) AS n
             |  FROM r),
             |med AS (SELECT bc, rate AS med FROM rk
             |  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)),
             |dv AS MATERIALIZED (SELECT r.bc, abs(r.rate - m.med) AS dev, m.med
             |  FROM r JOIN med m ON r.bc = m.bc),
             |dk AS MATERIALIZED (SELECT bc, dev,
             |    row_number() OVER (PARTITION BY bc ORDER BY dev) AS rn,
             |    count(*) OVER (PARTITION BY bc) AS n
             |  FROM dv),
             |mad AS (SELECT bc, dev AS mad FROM dk
             |  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT))
             |SELECT r.bc AS billing_code, count(*) AS n,
             |  any_value(m.med) AS med, any_value(d.mad) AS mad,
             |  CAST(sum(CASE WHEN r.rate > m.med + 3.0 * d.mad
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM r
             |JOIN med m ON r.bc = m.bc
             |JOIN mad d ON r.bc = d.bc
             |GROUP BY r.bc ORDER BY billing_code""".stripMargin))
  )
}
