package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Parsed options of the `payer-mrf` source.
  *
  * Option surface mirrors the reference (`/root/reference/src/main/scala/
  * com/databricks/JsonMRFSource.scala:31-45`: `buffersize`,
  * `payloadAsArray`) plus scale-oriented additions:
  *   - `chunkBytes` / `maxElements`: deterministic chunk sizing. The
  *     reference emitted one chunk per 256 MB read buffer — rows so large
  *     they need `spark.rpc.message.maxSize=1024` (`README.md:119-123`).
  *     Default 8 MB keeps rows RPC-safe and gives a 1000-executor cluster
  *     ~125 tasks/GB of input instead of 4.
  *   - `perElement`: one row PER ARRAY ELEMENT instead of one mega-row
  *     per chunk — the 100 TB path: downstream `from_json` then sees
  *     KB-sized documents and never re-explodes giant strings.
  *   - `maxChunksPerBatch`: admission control — caps each micro-batch
  *     so a terabyte backlog streams as bounded batches instead of one
  *     giant first batch.
  *
  * Where the split pass runs is chosen from the listed input, not set by
  * the user. A small input streams its bytes through the driver (the
  * reference's architecture, `JsonMRFSource.scala:59-180`). Once the
  * input is big enough to amortize a job (≥ 4 files or ≥ 256 MB) the
  * split runs on executors, one Spark task per file, and ships back only
  * ~100-byte chunk SPECS, so split I/O scales with the cluster instead
  * of the driver NIC. A SINGLE-file stream always stays on the driver's
  * incremental scan, which emits chunk-by-chunk instead of at file
  * completion.
  */
final case class MrfOptions(
    paths: Seq[String],
    bufferSize: Int,
    chunkBytes: Long,
    maxElements: Int,
    payloadAsArray: Boolean,
    perElement: Boolean,
    maxChunksPerBatch: Option[Int],
    ignoreCorruptFiles: Boolean,
    maxResidueBytes: Long) {

  def splitterOptions: JsonSplitter.Options =
    JsonSplitter.Options(
      chunkTargetBytes = chunkBytes,
      maxElementsPerChunk = maxElements,
      bufferSize = bufferSize,
      maxResidueBytes = maxResidueBytes)

  def schema: StructType = StructType(Seq(
    StructField("file_name", StringType, nullable = false),
    StructField("header_key", StringType, nullable = true),
    StructField(
      "json_payload",
      if (payloadAsArray) ArrayType(StringType) else StringType,
      nullable = true)))
}

object MrfOptions {

  def apply(map: CaseInsensitiveStringMap): MrfOptions = {
    val paths: Seq[String] =
      if (map.containsKey("paths")) {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        m.readValue(map.get("paths"), classOf[Array[String]]).toSeq
      } else if (map.containsKey("path")) Seq(map.get("path"))
      else throw new IllegalArgumentException("payer-mrf: 'path' option is required")
    // mutually exclusive output shapes: perElement emits one STRING per
    // array element while payloadAsArray declares array<string> — the
    // combination would declare a schema the readers never produce
    // (ClassCastException or corrupt rows at runtime)
    if (map.getBoolean("payloadAsArray", false) && map.getBoolean("perElement", false))
      throw new IllegalArgumentException(
        "payer-mrf: payloadAsArray and perElement are mutually exclusive output " +
          "shapes (per-element rows are plain JSON strings)")
    MrfOptions(
      paths = paths,
      bufferSize = math.max(64 * 1024, map.getInt("buffersize", 4 << 20)),
      chunkBytes = math.max(4 * 1024, map.getLong("chunkBytes", 8L << 20)),
      maxElements = math.max(1, map.getInt("maxElements", 10000)),
      payloadAsArray = map.getBoolean("payloadAsArray", false),
      perElement = map.getBoolean("perElement", false),
      maxChunksPerBatch =
        Option(map.get("maxChunksPerBatch")).map(v => math.max(1, v.toInt)),
      ignoreCorruptFiles = map.getBoolean("ignoreCorruptFiles", false),
      // the header-residue safety cap was hard-coded before: a
      // legitimate MRF whose non-array top-level members exceed 64 MB
      // had NO way to raise it (and under ignoreCorruptFiles the
      // overflow silently dropped the file)
      maxResidueBytes =
        math.max(1024, map.getLong("maxResidueBytes", 64L << 20)))
  }

  def fromProperties(props: java.util.Map[String, String]): MrfOptions =
    apply(new CaseInsensitiveStringMap(props))

  /** Hadoop-conf overrides embedded in the options (reference S12:
    * `filesystem=s3a` credential passthrough, `JsonMRFSource.scala:37-45`
    * — generalized: any `hadoop.`-prefixed option is applied).
    */
  def hadoopOverrides(map: CaseInsensitiveStringMap): Map[String, String] =
    map.asCaseSensitiveMap().asScala.collect {
      case (k, v) if k.startsWith("hadoop.") => k.stripPrefix("hadoop.") -> v
    }.toMap
}
