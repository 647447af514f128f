package graft.pipeline

import graft.sources.MrfElements
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Bronze → silver → gold transforms over payer-mrf bronze rows,
  * re-expressing the reference's notebook ETL (`/root/reference/
  * 01_payer_mrf_demo.py:143-238`) as composable `DataFrame => DataFrame`
  * library functions.
  *
  * Differences by design:
  *  - an explicit [[MrfSchema]] parse instead of two-pass RDD
  *    inference (single-pass; see MrfSchema scaladoc);
  *  - DETERMINISTIC surrogate keys (`xxhash64` of an item's file and
  *    raw bytes, of a rate's parent key and position) instead of
  *    `uuid()` (`01_payer_mrf_demo.py:165,180`) —
  *    nondeterministic keys break retries (a re-executed task mints new
  *    keys, corrupting downstream joins at scale), golden tests, and
  *    incremental rebuilds;
  *  - header attribution joins on `file_name` instead of a cross join,
  *    so the pipeline is correct over MANY files in one pass (the
  *    reference processes one file at a time; its `1=1` join at
  *    `:157-158` would cross-contaminate).
  *
  * Every transform reads bronze through one element path, [[items]],
  * so the source's three output shapes (chunk text, `payloadAsArray`,
  * `perElement`) give the same silver rows, surrogate keys included.
  */
object MrfPipeline {

  /** One row per element of the given top-level array: `file_name`,
    * the element's raw JSON text `el`, and `el` parsed into `item` using
    * `schema`. The payload's shape is read once, from the bronze schema:
    * an array payload (`payloadAsArray`) already holds the element
    * texts; a string payload (chunk text or `perElement`) is cut into
    * them by [[graft.sources.MrfElements]]. Each element is then parsed
    * on its own, once: the parse sits inside the generator, so the drop
    * filter below reads its result instead of being pushed under it as
    * one more parse per field.
    *
    * Drop rule: an element whose parse yields no field at all — the
    * all-null struct a PERMISSIVE parse returns for a syntax error, a
    * truncation or `{}` — is dropped, alone; its neighbours in the same
    * chunk stay. An element that parses with some fields null (a value
    * of the wrong type) is kept with those nulls.
    */
  def items(bronze: DataFrame, headerKey: String, schema: StructType): DataFrame = {
    val payload = col("json_payload")
    val elements =
      if (bronze.schema("json_payload").dataType.isInstanceOf[ArrayType]) payload
      else MrfElements(payload)
    bronze.filter(col("header_key") === headerKey)
      .select(col("file_name"), inline(transform(elements, el =>
        struct(el.as("el"), from_json(el, schema).as("item")))))
      .filter(schema.fieldNames.map(f => col("item")(f).isNotNull).reduce(_ || _))
  }

  /** Silver: one row per source file with the header scalars
    * (`:148-159`'s header side, keyed by file for multi-file safety).
    */
  def header(bronze: DataFrame): DataFrame =
    items(bronze, "", MrfSchema.header).select(col("file_name"), col("item.*"))

  /** Silver: provider_references_x_payer — one row per (group id, inline
    * group), header entity columns attached from `hdr`, a [[header]]
    * frame of the same bronze (`01_payer_mrf_demo.py:148-159`). Remote
    * `location` variants keep a row with null npi/tin.
    */
  def providerReferencesXPayer(bronze: DataFrame, hdr: DataFrame): DataFrame = {
    val refs = items(bronze, "provider_references", MrfSchema.providerReference)
      .select(
        col("file_name"),
        col("item.provider_group_id").as("provider_group_id"),
        col("item.location").as("location"),
        explode_outer(col("item.provider_groups")).as("g"))
      .select(
        col("file_name"), col("provider_group_id"), col("location"),
        col("g.npi").as("npi"), col("g.tin").as("tin"))
    val h = hdr
      .select(col("file_name"), col("reporting_entity_name"), col("reporting_entity_type"))
    // per-file attribution; broadcast — one small row per file
    refs.join(broadcast(h), Seq("file_name"), "left")
  }

  /** Deterministic surrogate key for one in_network item: a hash of its
    * file and its raw element bytes (`el` of [[items]]). Real MRFs
    * repeat a billing code (same arrangement/type/version/code/name,
    * different rates) — natural keys alone would give both items one key
    * and cross-link their rates/prices/providers downstream. Only
    * byte-identical duplicate items share a key; they are DEDUPLICATED
    * in [[inNetworkCodes]] (they carry zero additional information, and
    * left in, the rates × prices × providers join chain would multiply
    * their gold rows combinatorially — 8× per duplicated item, not 2×).
    * Items that differ in whitespace or in fields outside [[MrfSchema]]
    * keep their own keys.
    */
  private def skInNetwork: Column = xxhash64(col("file_name"), col("el"))

  /** Silver: in_network_codes — one row per distinct in_network
    * element (`01_payer_mrf_demo.py:161-174`), carrying the nested rates
    * for downstream normalizers. The element text `el` feeds the key
    * only and is not a column, so [[silver]]'s checkpoint never holds
    * raw element text.
    */
  def inNetworkCodes(bronze: DataFrame): DataFrame =
    items(bronze, "in_network", MrfSchema.inNetworkItem)
      .select(
        skInNetwork.as("sk_in_network_id"),
        col("file_name"),
        col("item.negotiation_arrangement").as("negotiation_arrangement"),
        col("item.name").as("name"),
        col("item.billing_code_type").as("billing_code_type"),
        col("item.billing_code_type_version").as("billing_code_type_version"),
        col("item.billing_code").as("billing_code"),
        col("item.description").as("description"),
        col("item.negotiated_rates").as("negotiated_rates"),
        col("item.bundled_codes").as("bundled_codes"))
      // byte-identical duplicate items collapse to ONE row (see
      // [[skInNetwork]]); on this lazy frame, joins among its derived
      // frames can reuse the dedup's hash partitioning on
      // sk_in_network_id. [[silver]]'s checkpoint of it does not keep
      // that partitioning (see its scaladoc)
      .dropDuplicates("sk_in_network_id")

  /** Silver: in_network_rates — one row per negotiated_rates element
    * (`:176-188`); sk_rate_id = hash(parent key, position).
    */
  def inNetworkRates(codes: DataFrame): DataFrame =
    codes.select(
      col("sk_in_network_id"), col("file_name"),
      posexplode(col("negotiated_rates")).as(Seq("rate_pos", "rate")))
      .select(
        xxhash64(col("sk_in_network_id"), col("rate_pos")).as("sk_rate_id"),
        col("sk_in_network_id"), col("file_name"), col("rate_pos"), col("rate"))

  /** Silver: in_network_rates_prices — one row per negotiated price with
    * `negotiated_type='negotiated'` (`:190-201`).
    */
  def inNetworkPrices(rates: DataFrame): DataFrame =
    rates.select(
      col("sk_rate_id"), col("sk_in_network_id"), col("file_name"),
      explode(col("rate.negotiated_prices")).as("price"))
      .filter(col("price.negotiated_type") === "negotiated")
      .select(
        col("sk_rate_id"), col("sk_in_network_id"), col("file_name"),
        col("price.negotiated_type").as("negotiated_type"),
        col("price.negotiated_rate").as("negotiated_rate"),
        col("price.expiration_date").as("expiration_date"),
        col("price.service_code").as("service_code"),
        col("price.billing_class").as("billing_class"),
        col("price.billing_code_modifier").as("billing_code_modifier"))

  /** Silver: bundled codes — one row per (bundle item, component code)
    * for `negotiation_arrangement='bundle'` items (the shape the demo
    * leaves nested; normalized here so bundle queries join like FFS).
    */
  def bundledCodes(codes: DataFrame): DataFrame =
    codes
      .filter(col("bundled_codes").isNotNull)
      .select(
        col("sk_in_network_id"), col("file_name"),
        explode(col("bundled_codes")).as("bc"))
      .select(
        col("sk_in_network_id"), col("file_name"),
        col("bc.billing_code_type").as("billing_code_type"),
        col("bc.billing_code_type_version").as("billing_code_type_version"),
        col("bc.billing_code").as("billing_code"),
        col("bc.description").as("description"))

  /** Silver: in_network_rates_par_providers — one row per (rate,
    * referenced provider group id) (`:203-213`).
    */
  def inNetworkParProviders(rates: DataFrame): DataFrame =
    rates.select(
      col("sk_rate_id"), col("sk_in_network_id"), col("file_name"),
      explode(col("rate.provider_references")).as("provider_reference_id"))

  /** Silver: INLINE `provider_groups` carried directly on a rate — the
    * CMS variant WITHOUT the `provider_references` indirection
    * (`MrfSchema.negotiatedRate` models both). One row per (rate,
    * inline group). The reference's silver never surfaces this branch;
    * without it every price on an inline-group rate silently vanishes
    * from gold.
    */
  def inNetworkRateProviderGroups(rates: DataFrame): DataFrame =
    rates.select(
      col("sk_rate_id"), col("sk_in_network_id"), col("file_name"),
      explode(col("rate.provider_groups")).as("g"))
      .select(
        col("sk_rate_id"), col("sk_in_network_id"), col("file_name"),
        col("g.npi").as("npi"), col("g.tin").as("tin"))

  /** Gold: the reference's "shoppable prices" lookup
    * (`01_payer_mrf_demo.py:223-238`): for a billing code and a provider
    * TIN, every negotiated FFS price with the provider group's NPIs.
    *
    * One plan covers both provider variants: the FFS price slice joins
    * on `sk_rate_id` to the union of group-id references resolved
    * through provider_references_x_payer (within the rate's own file)
    * and inline per-rate provider_groups (provider_group_id null). Both
    * sides are filtered to one TIN, so the union is broadcast.
    * `reporting_entity_name` comes from the header by file.
    */
  def shoppablePrices(s: Silver, billingCode: String, tinValue: String): DataFrame = {
    val atTin = col("tin.value") === tinValue
    val viaRefs = s.parProviders
      .join(
        s.providersXPayer.filter(atTin)
          .select(col("file_name").as("p_file_name"), col("provider_group_id"),
            col("npi"), col("tin")),
        col("provider_reference_id") === col("provider_group_id") &&
          col("file_name") === col("p_file_name"))
      .select("sk_rate_id", "provider_group_id", "npi", "tin")
    val inline = s.rateProviderGroups.filter(atTin)
      .select(col("sk_rate_id"), lit(null).cast("long").as("provider_group_id"),
        col("npi"), col("tin"))
    val h = s.header
      .select(col("file_name").as("h_file_name"), col("reporting_entity_name"))
    s.codes
      .filter(col("billing_code") === billingCode &&
        col("negotiation_arrangement") === "ffs")
      .join(s.prices.drop("file_name"), "sk_in_network_id")
      .join(broadcast(viaRefs.unionByName(inline)), "sk_rate_id")
      .join(broadcast(h), col("file_name") === col("h_file_name"), "left")
      .select(
        col("file_name"), col("reporting_entity_name"), col("billing_code"),
        col("billing_code_type"), col("name"), col("negotiated_rate"),
        col("billing_class"), col("service_code"), col("expiration_date"),
        col("provider_group_id"), col("npi"), col("tin"))
  }

  /** All eight silver tables of one bronze frame (see [[silver]]). */
  final case class Silver(
      header: DataFrame,
      providersXPayer: DataFrame,
      codes: DataFrame,
      rates: DataFrame,
      prices: DataFrame,
      parProviders: DataFrame,
      rateProviderGroups: DataFrame,
      bundledCodes: DataFrame)

  /** An eager local checkpoint with its partitions merged (narrowly,
    * no shuffle) down to the session's advisory partition size
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), measured on
    * the stored blocks. Adaptive execution sizes a shuffle's partitions
    * for parallelism, down to 1 MB each; kept as the silver checkpoint's
    * layout, every one of them becomes a file in each of six tables,
    * and every later read of a small table pays a task and a footer
    * per file.
    */
  private def advisorySized(ckpt: DataFrame): DataFrame =
    ckpt.queryExecution.optimizedPlan match {
      case lr: LogicalRDD =>
        val spark = ckpt.sparkSession
        val bytes = spark.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id).fold(0L)(i => i.memSize + i.diskSize)
        val target = JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
        val n = math.max(1L, (bytes + target - 1) / target)
        if (n < lr.rdd.getNumPartitions) ckpt.coalesce(n.toInt) else ckpt
      case _ => ckpt
    }

  /** All eight silver tables from one BATCH bronze frame.
    *
    * One parse per call: `in_network` is parsed, hashed and deduplicated
    * exactly once. [[inNetworkCodes]] (still carrying the nested
    * `negotiated_rates` and `bundled_codes`) is materialized as a local
    * checkpoint, and `codes`, `rates`, `prices`, `parProviders`,
    * `rateProviderGroups` and `bundledCodes` are narrow projections of
    * it — writing all six reads the checkpoint blocks six times instead
    * of re-reading bronze and re-running the element parse, the raw-byte
    * key and the dedup shuffle per table.
    * `header` and `providersXPayer` stay lazy over bronze, as do the
    * standalone per-table functions above.
    *
    * Layout: the checkpoint's partitions are merged to the session's
    * advisory partition size ([[advisorySized]]), and it keeps the
    * plan's size estimate, so joins against a small side still
    * broadcast. It does not declare the dedup's hash partitioning on
    * `sk_in_network_id` (see [[graft.operators.PartitionedCheckpoint]]),
    * so a shuffled join among these frames re-shuffles them: pinning
    * that layout takes a fixed partition count, which also fixes how
    * many files each table writes.
    *
    * Checkpoint lifetime: the blocks stay in the executors' block
    * managers until the returned frames become unreachable (the
    * `ContextCleaner` then drops them) or `graft.Bench
    * .freeLocalCheckpoints` frees them. The checkpoint truncates
    * lineage, so the blocks are the only copy: after an executor loss,
    * call `silver` again.
    *
    * Batch only: the materialization is an action, which a streaming
    * frame cannot run. For a streaming bronze, call `silver` on each
    * micro-batch inside `writeStream.foreachBatch`.
    */
  def silver(bronze: DataFrame): Silver = {
    require(!bronze.isStreaming,
      "MrfPipeline.silver needs a batch bronze frame (it materializes the parsed " +
        "in_network items once); for a streaming bronze, call it on each " +
        "micro-batch inside writeStream.foreachBatch")
    val c = advisorySized(inNetworkCodes(bronze).localCheckpoint(true))
    val r = inNetworkRates(c)
    val h = header(bronze)
    Silver(
      header = h,
      providersXPayer = providerReferencesXPayer(bronze, h),
      codes = c.drop("negotiated_rates"),
      rates = r.drop("rate"),
      prices = inNetworkPrices(r),
      parProviders = inNetworkParProviders(r),
      rateProviderGroups = inNetworkRateProviderGroups(r),
      bundledCodes = bundledCodes(c))
  }
}
