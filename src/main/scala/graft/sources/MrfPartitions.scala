package graft.sources

import java.io.BufferedInputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.unsafe.types.UTF8String

/** One bronze chunk = one Spark input partition (reference
  * `JsonPartition`, `/root/reference/src/main/scala/com/databricks/
  * JsonChunks.scala:15-17`): a byte range into `path` plus the top-level
  * array key, or a driver-materialized header-residue JSON (tiny).
  * `ordinal` is the global chunk position used as the streaming offset.
  */
final case class MrfInputPartition(
    path: String,
    fileName: String,
    headerKey: String,
    start: Long,
    end: Long,
    elements: Int,
    headerJson: String, // non-null ⇔ header-residue chunk
    ordinal: Long)
    extends InputPartition

/** Executor-side materialization (reference `JsonMRFRDD.compute`,
  * `JsonChunks.scala:37-102`): seek + readFully the chunk's byte range
  * from shared storage, then emit rows in the configured shape. The
  * executor re-reads its own range, so chunk bytes never transit the
  * driver.
  */
final class MrfPartitionReaderFactory(
    conf: SerializableHadoopConf,
    payloadAsArray: Boolean,
    perElement: Boolean,
    required: org.apache.spark.sql.types.StructType)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new MrfPartitionReader(
      partition.asInstanceOf[MrfInputPartition], conf, payloadAsArray, perElement, required)
}

final class MrfPartitionReader(
    part: MrfInputPartition,
    conf: SerializableHadoopConf,
    payloadAsArray: Boolean,
    perElement: Boolean,
    required: org.apache.spark.sql.types.StructType)
    extends PartitionReader[InternalRow] {

  // column pruning: the byte-range read happens ONLY when json_payload
  // survives the projection — counting/demux queries cost zero data I/O
  private val needsPayload = required.fieldNames.contains("json_payload")

  // per-READER field layout (0 = file_name, 1 = header_key,
  // 2 = json_payload): row() runs once per emitted row — billions of
  // times in a perElement scan — and re-deriving fieldNames (a fresh
  // Array per call) plus per-field string matching there is pure
  // hot-loop garbage
  private val fieldCodes: Array[Int] = required.fieldNames.map {
    case "file_name" => 0
    case "header_key" => 1
    case "json_payload" => 2
  }

  /** Assemble one pruned row; `payload` is evaluated only if required. */
  private def row(key: UTF8String, fileName: UTF8String, payload: => Any): InternalRow = {
    val vals = new Array[Any](fieldCodes.length)
    var i = 0
    while (i < fieldCodes.length) {
      vals(i) = fieldCodes(i) match {
        case 0 => fileName
        case 1 => key
        case 2 => payload
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  private val rows: Iterator[InternalRow] = {
    val fileName = UTF8String.fromString(part.fileName)
    if (part.headerJson != null) {
      def payload: Any =
        if (payloadAsArray)
          new GenericArrayData(Array[Any](UTF8String.fromString(part.headerJson)))
        else UTF8String.fromString(part.headerJson)
      Iterator.single(row(UTF8String.fromString(""), fileName, payload))
    } else {
      val key = UTF8String.fromString(part.headerKey)
      if (!needsPayload) {
        // no byte read at all; per-element grain comes from the spec
        val n = if (perElement) part.elements else 1
        Iterator.fill(n)(row(key, fileName, null))
      } else {
        val bytes = readRange()
        if (perElement) {
          JsonSplitter.splitTopLevelElements(bytes, 0, bytes.length).iterator.map {
            case (s, e) => row(key, fileName, UTF8String.fromBytes(bytes, s, e - s))
          }
        } else if (payloadAsArray) {
          val els = JsonSplitter.splitTopLevelElements(bytes, 0, bytes.length)
            .map { case (s, e) => UTF8String.fromBytes(bytes, s, e - s) }
          Iterator.single(row(key, fileName, new GenericArrayData(els.toArray[Any])))
        } else {
          // wrap the element run in brackets → valid JSON array text,
          // without a charset decode/encode round trip
          val wrapped = new Array[Byte](bytes.length + 2)
          wrapped(0) = '['.toByte
          System.arraycopy(bytes, 0, wrapped, 1, bytes.length)
          wrapped(wrapped.length - 1) = ']'.toByte
          Iterator.single(row(key, fileName, UTF8String.fromBytes(wrapped)))
        }
      }
    }
  }

  private def readRange(): Array[Byte] = {
    val p = new Path(part.path)
    val fs = MrfFileSplitter.rawFs(p, conf.value)
    val length = part.end - part.start
    // one chunk = one JVM byte array = (at most) one row's payload —
    // a single element past 2 GB cannot be represented. Fail LOUDLY:
    // a bare .toInt would silently truncate the range and hand
    // from_json a cut-off document (or throw NegativeArraySize)
    if (length > Int.MaxValue - 16)
      throw new IllegalArgumentException(
        s"payer-mrf: chunk ${part.ordinal} of ${part.fileName} spans $length bytes — " +
          "a single JSON element larger than ~2 GB cannot form a Spark row; " +
          "this input needs upstream re-sharding")
    val len = length.toInt
    val out = new Array[Byte](len)
    val in = fs.open(p)
    try {
      in.seek(part.start)
      in.readFully(out, 0, len)
    } finally in.close()
    out
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow = current

  override def close(): Unit = ()
}

/** Driver-side LRU of per-file split results, keyed by (path, length,
  * mtime, chunk sizing). A query DAG that references the bronze frame
  * from several branches (the silver star build does it five times)
  * plans a scan per branch — without this cache each plan re-streams
  * the whole multi-GB file through the splitter. Entries are chunk
  * SPECS only (~100 B each), never payload bytes.
  */
object MrfSplitCache {

  // ignoreCorruptFiles is part of the key: a lenient read caches a
  // corrupt file's valid-prefix chunks, and a later STRICT read of the
  // same file must fail, not silently serve the partial result
  private final case class Key(
      path: String, len: Long, mtime: Long, chunkBytes: Long, maxElements: Int,
      ignoreCorrupt: Boolean)

  // (len, mtime) come from the statuses the LISTING already fetched —
  // no second sequential stat pass per file (an S3 HEAD storm at fleet
  // scale)
  private def keyOf(st: org.apache.hadoop.fs.FileStatus, opts: MrfOptions): Key =
    Key(st.getPath.toString, st.getLen, st.getModificationTime, opts.chunkBytes,
      opts.maxElements, opts.ignoreCorruptFiles)

  private val MaxFiles = 128
  private val cache =
    new java.util.LinkedHashMap[Key, Seq[MrfInputPartition]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, Seq[MrfInputPartition]]): Boolean =
        size() > MaxFiles
    }

  /** One file through the cache; on a miss the split runs as a one-task
    * Spark job in `jobGroup` — the streaming splitter uses this to
    * pipeline per-file executor jobs. Cache hits also make
    * checkpoint-restart re-derivation instant within a driver JVM.
    */
  def getOrSplitOne(
      status: org.apache.hadoop.fs.FileStatus,
      opts: MrfOptions,
      conf: org.apache.hadoop.conf.Configuration,
      sc: org.apache.spark.SparkContext,
      jobGroup: String): Seq[MrfInputPartition] = {
    val file = status.getPath
    val key = keyOf(status, opts)
    cache.synchronized(Option(cache.get(key))) match {
      case Some(hit) => hit
      case None =>
        val result = MrfFileSplitter.splitFilesDistributed(
          Seq(file), opts, conf, sc, jobGroup)(file.toString)
        cache.synchronized(cache.put(key, result))
        result
    }
  }

  /** Split a fleet of files, serving cache hits and routing the misses
    * to an executor split job when they pass
    * [[MrfFileSplitter.autoThreshold]] and to the driver thread pool
    * otherwise. Results come back in `files` order with per-file
    * ordinals — the caller assigns global ordinals.
    */
  def getOrSplitAll(
      statuses: Seq[org.apache.hadoop.fs.FileStatus],
      opts: MrfOptions,
      conf: org.apache.hadoop.conf.Configuration,
      sc: org.apache.spark.SparkContext): Seq[MrfInputPartition] = {
    val keyed = statuses.map(st => (st.getPath, st.getLen, keyOf(st, opts)))
    val hits: Map[String, Seq[MrfInputPartition]] = keyed.flatMap { case (f, _, k) =>
      cache.synchronized(Option(cache.get(k))).map(f.toString -> _)
    }.toMap
    val misses = keyed.filterNot { case (f, _, _) => hits.contains(f.toString) }
    val split: Map[String, Seq[MrfInputPartition]] =
      if (misses.isEmpty) Map.empty
      else {
        val out =
          if (MrfFileSplitter.autoThreshold(misses.size, misses.map(_._2).sum))
            MrfFileSplitter.splitFilesDistributed(misses.map(_._1), opts, conf, sc)
          else
            MrfFileSplitter.splitFilesDriverPool(misses.map(_._1), opts, conf)
        misses.foreach { case (f, _, k) =>
          cache.synchronized(cache.put(k, out(f.toString)))
        }
        out
      }
    // assemble from the local results, NOT the cache — a fleet larger
    // than the LRU capacity would otherwise evict entries between the
    // put and the read-back
    keyed.map { case (f, _, _) => hits.getOrElse(f.toString, split(f.toString)) }
      .flatten
  }
}

/** Driver-side per-file split: list files, gunzip when needed, run the
  * [[JsonSplitter]], and assign global ordinals. Shared by the batch scan
  * and the micro-batch stream.
  */
object MrfFileSplitter extends org.apache.spark.internal.Logging {

  /** Bypass ChecksumFileSystem for byte-range scanning: the local FS
    * wrapper CRCs every read (~10× slower than raw) and no .crc sidecars
    * exist for external input data anyway. Non-checksum filesystems
    * (HDFS, s3a) pass through unchanged.
    */
  def rawFs(p: Path, conf: org.apache.hadoop.conf.Configuration): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** Expand each configured path (file, directory, or glob) into concrete
    * data files, deterministically sorted. A compressed file whose
    * NEWER-OR-EQUAL decompressed sibling ALSO appears in the listing is
    * dropped — that sibling is the materialized output of a previous
    * read of the very same file, and keeping both would emit every
    * chunk twice on re-reads of a directory. A sibling OLDER than the
    * compressed file is stale (archive re-uploaded): the compressed
    * file stays listed and [[Gunzip.decompressIfNeeded]] re-materializes.
    *
    * The `FileStatus`es the listing already fetched are returned as is:
    * callers that need (len, mtime) for cache keys or split-path
    * selection reuse these instead of issuing a second sequential stat
    * per file (1000 files on object storage = 1000 extra HEAD
    * round-trips of pure startup latency).
    */
  def listFileStatuses(
      opts: MrfOptions,
      conf: org.apache.hadoop.conf.Configuration): Seq[org.apache.hadoop.fs.FileStatus] = {
    def visible(name: String): Boolean =
      !name.startsWith(".") && !name.startsWith("_")
    val all: Seq[org.apache.hadoop.fs.FileStatus] = opts.paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val isGlob = p.exists("{}[]*?".contains(_))
      val matches = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      if (matches.isEmpty)
        throw new java.io.FileNotFoundException(s"payer-mrf: no input matches $p")
      val files = matches.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(_.isFile)
            .filter(f => visible(f.getPath.getName))
        else if (isGlob)
          // a glob must not sweep up hidden/temp files (Hadoop's '*'
          // matches leading dots): an in-flight Gunzip temp
          // (.x.json.tmp.<uuid>) listed as data would either fail the
          // job or — worse, under ignoreCorruptFiles — enter the
          // streaming ledger and shift every later ordinal when it
          // vanishes. An EXPLICIT non-glob path to such a file is
          // honored as deliberate user intent.
          Seq(st).filter(s => s.isFile && visible(s.getPath.getName))
        else Seq(st)
      }
      // the fail-fast above ran BEFORE the visibility filter — a GLOB
      // whose every match is hidden must also fail loudly, not plan a
      // silent empty scan. A plain directory path with zero visible
      // files stays a valid empty scan (an upstream job may emit no
      // files), as it always was.
      if (isGlob && files.isEmpty)
        throw new java.io.FileNotFoundException(
          s"payer-mrf: every match of $p is a hidden/temp file (leading '.' or '_') — " +
            "name the file explicitly to read it")
      files
    }
    // overlapping configured paths (a directory AND a file inside it,
    // or two globs matching the same file) must not list a file twice:
    // batch would assemble every chunk twice, streaming would double
    // the ledger
    val distinct = all.groupBy(_.getPath.toString).map(_._2.head).toSeq
    val deduped = distinct.groupBy(_.getPath.getParent).flatMap { case (_, group) =>
      val mtimeByName = group.map(st => st.getPath.getName -> st.getModificationTime).toMap
      // newest mtime among compressed sources that decompress to `name`
      val compressedTo = group.flatMap(st =>
        Gunzip.decompressedName(st.getPath.getName).map(_ -> st.getModificationTime))
        .groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2).max }
      // among SEVERAL archives decompressing to the same sibling
      // (data.json.gz + data.json.zst), exactly ONE may survive —
      // newest mtime, ties to the lexicographically smallest name.
      // Listing both would emit every chunk twice on the first read
      // (both materialize/reuse the same sibling) and then HALVE the
      // listing once the sibling exists, shifting every checkpoint
      // ordinal behind it.
      val bestArchive = group.flatMap(st =>
        Gunzip.decompressedName(st.getPath.getName).map(_ -> st))
        .groupBy(_._1).map { case (dn, sts) =>
          dn -> sts.map(_._2)
            .minBy(s => (-s.getModificationTime, s.getPath.getName)).getPath.getName
        }
      group.filterNot { st =>
        val name = st.getPath.getName
        val asCompressed = // compressed file shadowed by its current sibling
          Gunzip.decompressedName(name).flatMap(mtimeByName.get)
            .exists(_ >= st.getModificationTime)
        val asStaleSibling = // plain file superseded by a newer archive
          compressedTo.get(name).exists(_ > st.getModificationTime)
        val asDuplicateArchive = // beaten by a better same-sibling archive
          Gunzip.decompressedName(name).exists(dn => bestArchive(dn) != name)
        asCompressed || asStaleSibling || asDuplicateArchive
      }
    }.toSeq
    // sort by the CANONICAL (decompressed) path so an archive and the
    // sibling it materializes occupy the same ordinal slot across
    // restarts: a first run lists x.json.gz and materializes x.json; a
    // restart lists x.json instead. Under raw-name ordering a neighbor
    // sorting between the two names (say x.json.abc) would flip order
    // and shift every later chunk's global ordinal — the checkpoint
    // ledger keys on those ordinals, so chunks would duplicate or skip.
    // Raw name is the tie-break: distinct archives targeting the same
    // sibling stay deterministically ordered.
    deduped.sortBy { st =>
      val p = st.getPath
      val canonical = Gunzip.decompressedName(p.getName).getOrElse(p.getName)
      (new Path(p.getParent, canonical).toString, p.getName)
    }
  }

  /** One file through the splitter with the source's corrupt-file
    * policy applied. Takes the path as a String and the conf in its
    * serializable wrapper so the SAME function is the body of both the
    * driver pool and the executor split task — determinism between the
    * two split paths is by construction, not by parallel maintenance.
    */
  def splitFileGuarded(
      file: String,
      opts: MrfOptions,
      conf: SerializableHadoopConf): Seq[MrfInputPartition] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[MrfInputPartition]
    // per-chunk kill check: an executor split task otherwise ignores
    // cancelJobGroup entirely (interruptOnCancel is false and a
    // one-element map never re-checks the kill flag), so a dead query
    // would keep splitting multi-GB files to completion
    val ctx = Option(org.apache.spark.TaskContext.get())
    val emit: MrfInputPartition => Unit = p => {
      // driver-pool callers have no TaskContext — there the kill
      // signal is the pool's shutdownNow() thread interrupt, checked
      // at the same per-chunk granularity
      if (ctx.exists(_.isInterrupted()) ||
          (ctx.isEmpty && Thread.currentThread().isInterrupted))
        throw new org.apache.spark.TaskKilledException("payer-mrf split cancelled")
      out += p
    }
    try splitFile(new Path(file), opts, conf.value, 0)(emit)
    catch {
      case e @ (_: InterruptedException | _: java.io.InterruptedIOException |
          _: java.nio.channels.ClosedByInterruptException |
          _: org.apache.spark.TaskKilledException |
          _: java.io.FileNotFoundException) =>
        // NOT corruption: cancellation/interruption must propagate (a
        // swallowed kill would record a truncated split as a SUCCESS
        // and shift every later streaming ordinal), and a missing file
        // is its own condition, not a corrupt one
        throw e
      case e: Exception if opts.ignoreCorruptFiles =>
        // one corrupt file must not kill a fleet-sized job. Chunks
        // split before the failure point are KEPT — the same
        // "contents already read are returned" contract as
        // spark.sql.files.ignoreCorruptFiles, and identical to the
        // incremental streaming splitter (which cannot retract
        // already-emitted chunks), so the driver and executor paths
        // derive the same ledger deterministically for genuinely corrupt
        // bytes (same failure byte). Like Spark's flag, a TRANSIENT
        // I/O error is indistinguishable from corruption here — users
        // who cannot tolerate that ambiguity leave the flag off.
        logWarning(
          s"payer-mrf: corrupt file $file — keeping ${out.size} complete chunks", e)
    }
    out.toSeq
  }

  /** Driver-side parallel split: one thread per file (each file's scan
    * is inherently sequential; the fleet is not). All file bytes flow
    * through the driver — fine up to a few GB, the driver NIC beyond.
    */
  def splitFilesDriverPool(
      files: Seq[Path],
      opts: MrfOptions,
      conf: org.apache.hadoop.conf.Configuration): Map[String, Seq[MrfInputPartition]] = {
    val sconf = new SerializableHadoopConf(conf)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(files.size, Runtime.getRuntime.availableProcessors() / 2)))
    var failed = false
    try {
      val futs = files.map { f =>
        f.toString -> pool.submit(new java.util.concurrent.Callable[Seq[MrfInputPartition]] {
          override def call(): Seq[MrfInputPartition] =
            splitFileGuarded(f.toString, opts, sconf)
        })
      }
      futs.map { case (p, fut) =>
        p -> (try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // surface the real failure (malformed JSON, missing file),
            // not the executor wrapper
            failed = true
            throw Option(e.getCause).getOrElse(e)
          case e: Throwable => failed = true; throw e
        })
      }.toMap
    } finally {
      // on failure, CANCEL the queue — plain shutdown() would let the
      // remaining files stream their full bytes through the driver for
      // a plan that is already dead (the executor-path counterpart
      // cancels via shutdownNow + cancelJobGroup); threads blocked in
      // reads see the interrupt at the next chunk callback
      if (failed) { pool.shutdownNow(); () } else pool.shutdown()
    }
  }

  /** Split-path selection rule, shared by the batch planner and the
    * streaming splitter so the choice cannot drift: an executor split
    * job pays off at ≥ 4 files or ≥ 256 MB of input; below that the
    * driver splits.
    */
  def autoThreshold(count: Int, totalBytes: Long): Boolean =
    count >= 4 || totalBytes >= (256L << 20)

  /** Executor-side split pass — the 100 TB path. One Spark task per
    * file runs the identical [[splitFileGuarded]] body next to the data
    * and ships back only chunk SPECS (~100 B each): split I/O scales
    * with the cluster instead of capping at the driver NIC (the
    * reference streams every byte through one driver thread,
    * `JsonMRFSource.scala:59-180`). Each invocation gets a UNIQUE
    * job-group id under the `payer-mrf-split` prefix — cancelling one
    * query's splits (stream stop) must not kill another's.
    */
  def splitFilesDistributed(
      files: Seq[Path],
      opts: MrfOptions,
      conf: org.apache.hadoop.conf.Configuration,
      sc: org.apache.spark.SparkContext,
      jobGroup: String = freshSplitJobGroup()): Map[String, Seq[MrfInputPartition]] = {
    // the context is a required parameter, never re-resolved from
    // SparkSession.active: the streaming splitter calls this from
    // daemon pool threads (where active can be absent or a DIFFERENT
    // session's on a multi-session driver) and cancels via the owning
    // context — jobs must be submitted to the context cancellation
    // reaches
    val sconf = new SerializableHadoopConf(conf)
    val paths = files.map(_.toString)
    // save/RESTORE the caller's job group: clearJobGroup() would wipe a
    // user's own setJobGroup (their cancelJobGroup then no longer
    // reaches the actual scan jobs submitted after this split)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prevInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    sc.setJobGroup(jobGroup,
      s"payer-mrf: split ${paths.size} file(s) on executors", interruptOnCancel = false)
    try {
      sc.parallelize(paths, paths.size)
        .map(p => p -> splitFileGuarded(p, opts, sconf))
        .collect()
        .toMap
    } finally {
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      sc.setLocalProperty("spark.job.description", prevDesc)
      sc.setLocalProperty("spark.job.interruptOnCancel", prevInterrupt)
    }
  }

  def freshSplitJobGroup(): String =
    "payer-mrf-split-" + java.util.UUID.randomUUID().toString.take(8)

  /** Split one file into partitions; `ordinalBase` gives the first chunk's
    * global ordinal. gz inputs are eagerly decompressed to a sibling file
    * first (gz cannot be seeked — reference behavior,
    * `JsonMRFSourceProvider.scala:38-46`).
    */
  def splitFile(
      file: Path,
      opts: MrfOptions,
      conf: org.apache.hadoop.conf.Configuration,
      ordinalBase: Long)(onPartition: MrfInputPartition => Unit): Long = {
    val dataPath = Gunzip.decompressIfNeeded(file, conf)
    val fs = rawFs(dataPath, conf)
    val name = dataPath.getName
    var ordinal = ordinalBase
    val in = new BufferedInputStream(fs.open(dataPath), opts.bufferSize)
    try {
      new JsonSplitter(in, opts.splitterOptions).run {
        case JsonSplitter.ArrayChunk(key, start, end, n) =>
          onPartition(MrfInputPartition(
            dataPath.toString, name, key, start, end, n, null, ordinal))
          ordinal += 1
        case JsonSplitter.HeaderChunk(json) =>
          onPartition(MrfInputPartition(
            dataPath.toString, name, "", 0, 0, 0, json, ordinal))
          ordinal += 1
      }
    } finally in.close()
    ordinal
  }
}
