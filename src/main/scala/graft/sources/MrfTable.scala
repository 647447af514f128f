package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 table for `format("payer-mrf")` — batch AND micro-batch
  * over the same chunking scan (the reference is streaming-only and built
  * on internal V1 APIs: `Source`/`LogicalRDD`/`executePlan`,
  * `/root/reference/src/main/scala/com/databricks/JsonMRFSource.scala:
  * 6-7,214-221`; V2 lets the planner own the DataFrame).
  */
final class MrfTable(opts: MrfOptions, userOptions: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  // The session that created this table, captured NOW — not re-resolved
  // from SparkSession.active at scan-build time. On a multi-session
  // driver a table planned while a different session is active must
  // still read its OWN session's Hadoop conf and submit split jobs to
  // its own (cancellable) context; and scan construction must work on
  // threads with no active/default session at all.
  private val owner: SparkSession = SparkSession.active

  override def name(): String = s"payer-mrf(${opts.paths.mkString(",")})"

  override def schema(): StructType = opts.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MrfScanBuilder(opts, options, owner)
}

/** Scan builder with the two pushdowns that matter for this source:
  *
  *  - `header_key` equality/IN filters prune CHUNKS AT PLANNING TIME —
  *    the demux query `WHERE header_key='in_network'` never schedules
  *    (or reads a byte of) the provider_references chunks. Pushed
  *    filters are also left in the post-scan plan (conservative V2
  *    pattern: pruning is an optimization, Spark re-checks rows).
  *  - column pruning: a projection without `json_payload` (the demo's
  *    `groupBy(header_key).count()` shape) skips the byte-range read
  *    entirely — per-element row counts come from the chunk spec's
  *    element count, so counting a terabyte costs zero data I/O.
  */
final class MrfScanBuilder(
    opts: MrfOptions,
    userOptions: CaseInsensitiveStringMap,
    owner: SparkSession)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = opts.schema

  private def valueSets(attr: String): Option[Set[String]] = {
    val sets = pushed.collect {
      case EqualTo(a, v: String) if a == attr => Set(v)
      case In(a, vs) if a == attr => vs.collect { case s: String => s }.toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** header_key values that chunks must match, if such a filter exists. */
  private def headerKeyFilter: Option[Set[String]] = valueSets("header_key")

  /** file_name values that FILES must match — whole unmatched files are
    * skipped before splitting (query one file of thousands → split one).
    */
  private def fileNameFilter: Option[Set[String]] = valueSets("file_name")

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("header_key", _: String) | EqualTo("file_name", _: String) => true
      case In("header_key", _) | In("file_name", _) => true
      case IsNotNull("header_key") | IsNotNull("file_name") => true
      case _ => false
    }
    filters // conservative: Spark re-evaluates everything post-scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new MrfScan(opts, userOptions, required, headerKeyFilter, fileNameFilter, owner)
}

final class MrfScan(
    opts: MrfOptions,
    userOptions: CaseInsensitiveStringMap,
    required: StructType,
    headerKeys: Option[Set[String]],
    fileNames: Option[Set[String]],
    owner: SparkSession)
    extends Scan {

  /** OWNING session's Hadoop conf + per-source `hadoop.*` overrides,
    * captured on the driver and shipped to readers. Reading the conf
    * from `owner` (threaded from table creation) rather than
    * `SparkSession.active` means a scan planned under a different
    * active session still observes the right filesystem settings.
    */
  private[sources] def hadoopConf(): Configuration = {
    val conf = owner.sessionState.newHadoopConf()
    MrfOptions.hadoopOverrides(userOptions).foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  override def readSchema(): StructType = required

  override def description(): String =
    s"payer-mrf chunking scan of ${opts.paths.mkString(",")} " +
      s"(chunkBytes=${opts.chunkBytes}, maxElements=${opts.maxElements}" +
      headerKeys.map(k => s", headerKeys=${k.mkString("|")}").getOrElse("") +
      fileNames.map(k => s", fileNames=${k.mkString("|")}").getOrElse("") +
      s", columns=${required.fieldNames.mkString(",")})"

  override def toBatch: Batch =
    new MrfBatch(opts, hadoopConf(), required, headerKeys, fileNames, owner.sparkContext)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MrfMicroBatchStream(
      opts, hadoopConf(), required, headerKeys, fileNames, owner.sparkContext)
}

/** Batch scan: split every input file up front, one task per chunk.
  * Files are split in parallel (one splitter per file — the per-file scan
  * is inherently sequential, the fleet of files is not); chunks failing a
  * pushed header_key filter are dropped before scheduling.
  */
final class MrfBatch(
    opts: MrfOptions,
    conf: Configuration,
    required: StructType,
    headerKeys: Option[Set[String]],
    fileNames: Option[Set[String]],
    sc: org.apache.spark.SparkContext)
    extends Batch {

  override lazy val planInputPartitions: Array[InputPartition] = {
    // file-level pruning happens BEFORE any splitting work (compressed
    // files match by their decompressed sibling name too)
    val files = MrfFileSplitter.listFileStatuses(opts, conf).filter { st =>
      val n = st.getPath.getName
      fileNames.forall(names => names.contains(n) ||
        Gunzip.decompressedName(n).exists(names.contains))
    }
    // split on executors or the driver pool, chosen by the listing's
    // size (the executor pass returns ~100 B chunk specs, never file
    // bytes)
    MrfSplitCache.getOrSplitAll(files, opts, conf, sc)
      .filter(p => headerKeys.forall(_.contains(p.headerKey)))
      .zipWithIndex
      .map { case (p, i) => p.copy(ordinal = i.toLong): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MrfPartitionReaderFactory(
      new SerializableHadoopConf(conf), opts.payloadAsArray, opts.perElement, required)
}
