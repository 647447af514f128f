package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}

/** Micro-batch stream over the chunking scan.
  *
  * Offset = number of chunks emitted so far ([[MrfOffset]], like
  * the reference's counter at `/root/reference/src/main/scala/com/
  * databricks/JsonMRFSource.scala:23,87-88` — but because the splitter's
  * chunk boundaries are deterministic, ordinal offsets REMAIN VALID
  * across restarts: the background split simply re-derives the identical
  * ledger, fixing the reference's best-effort recovery, SURVEY.md §2.8
  * T7).
  *
  * A background thread discovers chunks and appends their specs — byte
  * ranges only, never payload bytes — to a ledger in sorted file order
  * (global ordinals must be reproducible, so no cross-file
  * interleaving). It splits through the same code as the batch scan,
  * [[MrfFileSplitter.splitFiles]]: a single listed file streams through
  * the driver chunk by chunk (seconds to first batch on a multi-TB
  * file); two or more split in one executor job with one task per file
  * (split I/O scales with the cluster), each finished file appended once
  * every earlier file is. `latestOffset` reports the ledger frontier;
  * `commit` GCs entries at or below the committed ordinal. With
  * `Trigger.AvailableNow`, Spark calls
  * [[prepareForTriggerAvailableNow]] first: we block until the split
  * finishes so the terminal offset is known — the stream then ends
  * naturally (the reference had no end-of-stream story; demo notebooks
  * polled `lastProgress`, `README.md:49-58`).
  */
final class MrfMicroBatchStream(
    opts: MrfOptions,
    conf: Configuration,
    required: org.apache.spark.sql.types.StructType,
    headerKeys: Option[Set[String]],
    // pushed file_name values prune CHUNKS in planInputPartitions (like
    // headerKeys) — never the split itself: offsets are positions in
    // the ledger over the FULL listing, so a filter changed across a
    // checkpoint restart cannot silently shift ordinals
    fileNames: Option[Set[String]],
    // the OWNING session's context, threaded from table creation (via
    // MrfScan) — both split-job submission and cancellation use this
    // exact context, so they cannot diverge even when the stream is
    // driven from daemon pool threads with no (or a different) active
    // session, and must not touch other queries' split jobs (unique
    // group id)
    owningContext: org.apache.spark.SparkContext)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // ---- chunk ledger (driver memory: ~100 B per chunk spec) ----
  private val ledger = ArrayBuffer.empty[MrfInputPartition]
  private var ledgerBase = 0L // global ordinal of ledger(0)
  private var splitError: Throwable = _
  private var splitDone = false

  private val splitJobGroup = MrfFileSplitter.freshSplitJobGroup()

  /** Append one spec at the ledger frontier, renumbered to its global
    * ordinal (the frontier survives commit GC).
    */
  private def append(p: MrfInputPartition): Unit = synchronized {
    ledger += p.copy(ordinal = ledgerBase + ledger.size)
    notifyAll()
  }

  private val splitter = new Thread("payer-mrf-splitter") {
    override def run(): Unit =
      try {
        // one file: chunk-by-chunk into the ledger from the driver scan.
        // Several: one executor job; a finished file's specs wait in
        // `done` until every earlier file is appended, so ordinals
        // follow FILE order whatever order the tasks finish in
        val files = MrfFileSplitter.listFileStatuses(opts, conf).map(_.getPath)
        val done = new Array[Seq[MrfInputPartition]](files.size)
        var next = 0
        MrfFileSplitter.splitFiles(files, opts, conf, owningContext, splitJobGroup)(
          append, (i, parts) => MrfMicroBatchStream.this.synchronized {
            done(i) = parts
            while (next < done.length && done(next) != null) {
              done(next).foreach(append)
              done(next) = null
              next += 1
            }
          })
        MrfMicroBatchStream.this.synchronized {
          splitDone = true
          MrfMicroBatchStream.this.notifyAll()
        }
      } catch {
        case t: Throwable =>
          MrfMicroBatchStream.this.synchronized {
            splitError = t
            splitDone = true
            MrfMicroBatchStream.this.notifyAll()
          }
      }
  }

  splitter.setDaemon(true)
  splitter.start()

  private def frontier: Long = synchronized {
    if (splitError != null) throw splitError
    ledgerBase + ledger.size
  }

  /** Block until the ledger covers ordinal `until` (restart re-derivation
    * may still be running when Spark re-plans an uncommitted batch).
    */
  private def awaitFrontier(until: Long): Unit = synchronized {
    while (ledgerBase + ledger.size < until && !splitDone) wait(100)
    if (splitError != null) throw splitError
    require(
      ledgerBase + ledger.size >= until,
      s"payer-mrf: input exhausted at ${ledgerBase + ledger.size} chunks but offset $until " +
        "was checkpointed — the input files changed since the checkpoint was written")
  }

  override def initialOffset(): Offset = MrfOffset(0L)

  override def latestOffset(): Offset = MrfOffset(frontier)

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): cap each
  // micro-batch at maxChunksPerBatch when configured — a large backlog
  // then streams as bounded batches (AvailableNow loops batches until
  // the prepared terminal offset is reached).
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[MrfOffset].n
    val f = frontier
    MrfOffset(opts.maxChunksPerBatch.fold(f)(m => math.min(f, s + m)))
  }

  override def reportLatestOffset(): Offset = MrfOffset(frontier)

  override def deserializeOffset(json: String): Offset =
    MrfOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[MrfOffset].n
    val e = end.asInstanceOf[MrfOffset].n
    awaitFrontier(e)
    synchronized {
      require(s >= ledgerBase, s"offset $s already committed and GCed (base=$ledgerBase)")
      // pushed header_key / file_name filters prune chunks here —
      // offsets stay ledger positions, the batch just schedules fewer
      // tasks (and reads no payload bytes for pruned files)
      ledger.slice((s - ledgerBase).toInt, (e - ledgerBase).toInt)
        .filter(p => headerKeys.forall(_.contains(p.headerKey)) &&
          fileNames.forall(_.contains(p.fileName)))
        .toArray[InputPartition]
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MrfPartitionReaderFactory(
      new SerializableHadoopConf(conf), opts.payloadAsArray, opts.perElement, required)

  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[MrfOffset].n
    val drop = (e - ledgerBase).toInt
    if (drop > 0 && drop <= ledger.size) {
      ledger.remove(0, drop)
      ledgerBase = e
    }
  }

  /** Test-only snapshot of (first retained global ordinal, retained spec
    * count) — lets specs assert that `commit` actually GCs the ledger.
    */
  private[sources] def ledgerState: (Long, Int) =
    synchronized((ledgerBase, ledger.size))

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    while (!splitDone) wait(100)
    if (splitError != null) throw splitError
  }

  /** Interrupt the splitter and cancel THIS stream's split job group.
    * Once the split has finished (or failed, when the interrupted wait
    * already cancelled its job) no split job of this stream can be
    * running, and a cancel would only log "Cannot find active jobs" for
    * the group.
    */
  override def stop(): Unit = {
    splitter.interrupt()
    if (!synchronized(splitDone))
      try owningContext.cancelJobGroup(splitJobGroup)
      catch { case _: Throwable => () } // context may already be stopped
  }
}

/** Chunk-count offset with trivial JSON serde (checkpoint-stable). */
final case class MrfOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}
