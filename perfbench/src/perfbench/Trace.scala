package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark counters attributed to one span. */
final class Counters {
  var jobs, stages, tasks, runMs, inBytes, inRecords, shuffleRead, shuffleWrite, spill,
      outBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    inBytes += o.inBytes; inRecords += o.inRecords; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; outBytes += o.outBytes
  }
}

/** One timed call into a layer. Times are wall clock; `gcMs` is the
  * driver JVM's collection time inside the span (in `local[*]` the
  * executors share that JVM).
  */
final class Span(val id: String, val name: String, val parent: Span) {
  val children = ArrayBuffer.empty[Span]
  var startMs, endMs, startNs, endNs, gcMs = 0L
  /** Rows the call returned, where the benchmark records them. */
  var rows = 0L
  val own = new Counters

  def seconds: Double = (endNs - startNs) / 1e9

  /** Span time not covered by a child span (children never overlap:
    * the benchmark calls the layers one at a time).
    */
  def selfSeconds: Double = seconds - children.map(_.seconds).sum

  /** Own counters plus every descendant's. */
  def total: Counters = {
    val c = new Counters
    c.add(own)
    children.foreach(ch => c.add(ch.total))
    c
  }

  def walk: Iterator[Span] = Iterator.single(this) ++ children.iterator.flatMap(_.walk)
}

/** Records spans around the benchmark's calls into the program, with a
  * [[SparkListener]] and a [[StreamingQueryListener]] that attach
  * counters to them. Disabled, [[span]] only runs its body.
  *
  * Each span sets the Spark job group to its id, so jobs submitted from
  * the calling thread are attributed exactly. Jobs from threads that set
  * their own group (the streaming query's runId, the source's
  * `payer-mrf-split-*` split jobs) fall to the innermost span that was
  * open when they were submitted. Events are delivered asynchronously,
  * so [[finish]] drains the listener bus before attributing them.
  */
final class Tracer(spark: org.apache.spark.sql.SparkSession) {
  private val JobGroup = "spark.jobGroup.id"
  private val JobDescription = "spark.job.description"
  private val sc = spark.sparkContext
  var enabled = false
  private var open: List[Span] = Nil
  private var nextId = 0
  val roots = ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[String, Span]

  // raw events, attributed in finish(): (job group, submission time)
  // per job and per stage, and summed task metrics per stage
  private val jobs = ArrayBuffer.empty[(String, Long)]
  private val stageGroup = mutable.Map.empty[Int, (String, Long)]
  private val stageCounters = mutable.Map.empty[Int, Counters]
  val progress = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += ((groupOf(e.properties), e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageGroup(e.stageInfo.stageId) =
        (groupOf(e.properties), e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = stageCounters.getOrElseUpdate(e.stageId, new Counters)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.inBytes += m.inputMetrics.bytesRead
        c.inRecords += m.inputMetrics.recordsRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def groupOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(JobGroup)

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  def span[T](name: String)(body: => T): T = spanned(name)(_ => body)

  /** [[span]] handing the body its span (null when disabled). */
  def spanned[T](name: String)(body: Span => T): T =
    if (!enabled) body(null)
    else {
      val s = new Span(s"perfbench-span-$nextId", name, open.headOption.orNull)
      nextId += 1
      byId(s.id) = s
      if (s.parent == null) roots += s else s.parent.children += s
      val prevGroup = sc.getLocalProperty(JobGroup)
      val prevDesc = sc.getLocalProperty(JobDescription)
      sc.setJobGroup(s.id, name)
      open = s :: open
      val gc0 = gcMs
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try body(s)
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcMs = gcMs - gc0
        open = open.tail
        sc.setLocalProperty(JobGroup, prevGroup)
        sc.setLocalProperty(JobDescription, prevDesc)
      }
    }

  /** Appends every span as one JSON line: name, id, parent, wall-clock
    * start and end, self time, driver GC time and Spark counters.
    */
  def writeTo(out: java.io.Writer): Unit =
    roots.foreach(_.walk.foreach { s =>
      val c = s.total
      out.write(Json.obj(Seq(
        "name" -> Json.str(s.name), "id" -> Json.str(s.id),
        "parent" -> Option(s.parent).map(p => Json.str(p.id)).getOrElse("null"),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "seconds" -> Json.num(s.seconds), "self_seconds" -> Json.num(s.selfSeconds),
        "gc_ms" -> s.gcMs.toString, "rows" -> s.rows.toString,
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "executor_run_ms" -> c.runMs.toString, "input_bytes" -> c.inBytes.toString,
        "input_records" -> c.inRecords.toString, "shuffle_read_bytes" -> c.shuffleRead.toString,
        "shuffle_write_bytes" -> c.shuffleWrite.toString, "spill_bytes" -> c.spill.toString,
        "output_bytes" -> c.outBytes.toString)) + "\n")
    })

  /** Innermost span open at `timeMs`. */
  private def spanAt(timeMs: Long): Option[Span] = {
    def inside(s: Span): Option[Span] =
      if (timeMs >= s.startMs && timeMs <= s.endMs)
        s.children.iterator.flatMap(inside).nextOption().orElse(Some(s))
      else None
    roots.iterator.flatMap(inside).nextOption()
  }

  private def attribute(group: String, timeMs: Long): Option[Span] =
    Option(group).flatMap(byId.get).orElse(spanAt(timeMs))

  /** Drains the listener bus, attributes every job and stage to a span,
    * and stops listening.
    */
  def finish(): Unit = {
    enabled = false
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    synchronized {
      jobs.foreach { case (g, t) => attribute(g, t).foreach(_.own.jobs += 1) }
      stageCounters.foreach { case (stage, c) =>
        stageGroup.get(stage).flatMap { case (g, t) => attribute(g, t) }.foreach { s =>
          s.own.stages += 1
          s.own.add(c)
        }
      }
    }
  }
}

object Tracer {
  def off(spark: org.apache.spark.sql.SparkSession): Tracer = new Tracer(spark)
  def on(spark: org.apache.spark.sql.SparkSession): Tracer = { val t = new Tracer(spark); t.start(); t }
}
