package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.spark.internal.Logging
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
  * interleaving). The discovery work itself either streams
  * incrementally through the driver (a single file, or a small input:
  * chunk-level emission) or runs as a pipeline of per-file one-task
  * Spark jobs on executors (a fleet past
  * [[MrfFileSplitter.autoThreshold]]: split I/O scales with the cluster,
  * ledger appends happen per completed file). `latestOffset` reports
  * the ledger frontier; `commit` GCs entries at or below the committed
  * ordinal. With `Trigger.AvailableNow`, Spark calls
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
    extends MicroBatchStream with SupportsTriggerAvailableNow with Logging {

  // ---- chunk ledger (driver memory: ~100 B per chunk spec) ----
  private val ledger = ArrayBuffer.empty[MrfInputPartition]
  private var ledgerBase = 0L // global ordinal of ledger(0)
  private var splitError: Throwable = _
  private var splitDone = false

  private val splitJobGroup = MrfFileSplitter.freshSplitJobGroup()

  private val splitter = new Thread("payer-mrf-splitter") {
    override def run(): Unit =
      try {
        val files = MrfFileSplitter.listFileStatuses(opts, conf)
        // the executor path splits each file as a one-task Spark job, a
        // few files in flight at a time; specs append to the ledger in
        // FILE order so ordinals stay deterministic. A SINGLE-file
        // stream always keeps the driver-side incremental scan — it
        // emits chunk-by-chunk (seconds to first batch on a multi-TB
        // file) where a per-file job could only emit at file
        // completion; multi-file streams switch to executors at the
        // same ≥4-files-or-≥256MB threshold as the batch scan.
        // Sizes come from the listing's own FileStatuses — no second
        // stat round-trip per file.
        val useExecutors = files.size >= 2 &&
          MrfFileSplitter.autoThreshold(files.size, files.map(_.getLen).sum)
        if (useExecutors) runDistributed(files) else runDriverSide(files)
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

    /** Chunks are emitted INCREMENTALLY — micro-batches start flowing
      * while a multi-TB file is still being scanned. The per-chunk
      * callback checks the interrupt flag so `stop()` actually stops
      * the scan at chunk granularity — blocking filesystem reads ignore
      * interrupts, and without the check a dead query's splitter would
      * keep streaming terabytes through the driver (and growing the
      * ledger) for hours.
      */
    private def runDriverSide(files: Seq[org.apache.hadoop.fs.FileStatus]): Unit = {
      var ordinal = 0L
      var stopped = false
      val it = files.iterator
      while (!stopped && it.hasNext) {
        val f = it.next().getPath
        try MrfFileSplitter.splitFile(f, opts, conf, ordinal) { p =>
          if (Thread.currentThread().isInterrupted)
            throw new InterruptedException("payer-mrf: split stopped with the query")
          ordinal = p.ordinal + 1
          MrfMicroBatchStream.this.synchronized {
            ledger += p
            MrfMicroBatchStream.this.notifyAll()
          }
        } catch {
          // the interrupt family stops the scan — the SAME classes
          // splitFileGuarded rethrows: classifying a blocking read's
          // InterruptedIOException/ClosedByInterruptException as
          // "corrupt" would make stop() fall through to the NEXT file
          // (potentially a full multi-GB decompress before the next
          // interrupt-flag check)
          case _: InterruptedException | _: java.io.InterruptedIOException |
              _: java.nio.channels.ClosedByInterruptException => stopped = true
          // a missing file is its own condition, not a corrupt one —
          // the executor path (splitFileGuarded) rethrows it even under
          // ignoreCorruptFiles, and the two paths must classify
          // identically or the file count would change semantics
          case e: java.io.FileNotFoundException => throw e
          case e: Exception if opts.ignoreCorruptFiles =>
            // deterministic even on restart: the splitter fails at the
            // same byte, so any partial chunks re-derive identically
            logWarning(s"payer-mrf: skipping corrupt file $f", e)
        }
      }
      if (stopped) throw new InterruptedException("payer-mrf: split stopped with the query")
    }

    /** Pipeline of per-file executor split jobs (bounded concurrency,
      * daemon threads); results land in the ledger in file order as
      * each job finishes. On interruption (query stop) the queue is
      * drained with shutdownNow and the split job group is cancelled —
      * a dead query must not keep a cluster splitting files.
      */
    private def runDistributed(files: Seq[org.apache.hadoop.fs.FileStatus]): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(files.size, 8)),
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger()
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"payer-mrf-split-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        })
      try {
        val futures = files.map { st =>
          pool.submit(new java.util.concurrent.Callable[Seq[MrfInputPartition]] {
            override def call(): Seq[MrfInputPartition] =
              MrfSplitCache.getOrSplitOne(st, opts, conf, owningContext, splitJobGroup)
          })
        }
        var ordinal = 0L
        futures.foreach { fut =>
          val parts = fut.get()
          MrfMicroBatchStream.this.synchronized {
            parts.foreach { p =>
              ledger += p.copy(ordinal = ordinal)
              ordinal += 1
            }
            MrfMicroBatchStream.this.notifyAll()
          }
        }
        pool.shutdown()
      } catch {
        case t: Throwable =>
          pool.shutdownNow()
          cancelSplitJobs()
          throw t
      }
    }
  }

  /** Cancel THIS stream's in-flight executor split jobs. */
  private def cancelSplitJobs(): Unit =
    try owningContext.cancelJobGroup(splitJobGroup)
    catch { case _: Throwable => () } // context may already be stopped
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

  override def stop(): Unit = {
    splitter.interrupt()
    cancelSplitJobs()
  }
}

/** Chunk-count offset with trivial JSON serde (checkpoint-stable). */
final case class MrfOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}
