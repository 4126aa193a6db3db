package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of a traced run. Times are epoch nanoseconds.
  * Levels: 1 run, 2 query rep or stream pipeline, 3 build/plan/action or
  * micro-batch, 4 Spark job.
  */
final case class Span(
    id: Int,
    parent: Int,
    level: Int,
    kind: String,
    name: String,
    start: Long,
    end: Long,
    attrs: Map[String, Double] = Map.empty,
) {
  def dur: Long = end - start
}

object Spans {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it covered by
    * its children. Overlapping children are counted once.
    */
  def selfTime(s: Span, children: Seq[Span]): Long =
    s.dur - covered(s.start, s.end, children.map(c => (c.start, c.end)))

  def toJson(s: Span): String = {
    val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
    s"""{"id":${s.id},"parent":${s.parent},"level":${s.level},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"attrs":{${attrs.mkString(",")}}}"""
  }
}

/** What the listener learned about one Spark job. */
final case class JobRec(
    jobId: Int,
    group: Option[String],
    queryId: Option[String],
    batchId: Option[Long],
    startMs: Long,
    var endMs: Long = -1,
    var tasks: Long = 0,
    var taskRunMs: Long = 0,
    var shuffleWriteBytes: Long = 0,
    var spillBytes: Long = 0,
    var inputBytes: Long = 0,
    var inputRecords: Long = 0,
)

/** Progress of one micro-batch, as the StreamingQueryListener saw it. */
final case class BatchRec(
    queryId: String,
    batchId: Long,
    startMs: Long,
    durations: Map[String, Long],
    inputRows: Long,
    outputRows: Long,
    stateCommitMs: Long,
    stateRows: Long,
    stateMemoryBytes: Long,
    statePartitions: Long,
)

/** SparkListener + StreamingQueryListener attached from outside the
  * engine. Everything is kept in memory; attribution happens after the
  * run.
  */
final class Collector extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val batches = mutable.ArrayBuffer[BatchRec]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = JobRec(
      e.jobId,
      prop("spark.jobGroup.id"),
      prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId").map(_.toLong),
      e.time,
    )
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); if m != null) {
      j.tasks += 1
      j.taskRunMs += m.executorRunTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Collector.this.synchronized {
      if (Progress.ran(e.progress)) batches += Progress.record(e.progress)
    }
  }
}

object Progress {
  import scala.jdk.CollectionConverters._

  /** Whether a progress report is of a micro-batch that ran (with or
    * without data), rather than of an idle query.
    */
  def ran(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Boolean =
    p.durationMs.containsKey("addBatch")

  def record(p: org.apache.spark.sql.streaming.StreamingQueryProgress): BatchRec = {
    val ops = Option(p.stateOperators).getOrElse(Array.empty)
    BatchRec(
      p.id.toString,
      p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      Option(p.sink).map(_.numOutputRows).getOrElse(0L),
      ops.map(_.commitTimeMs).sum,
      ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numStateStoreInstances.toLong).sum,
    )
  }
}

/** Records spans in the benchmark's own code. When disabled every call
  * just runs its body, so traced and untraced runs execute the same
  * operations.
  */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epochNs0 + (System.nanoTime() - nano0)

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1

  def current: Int = stack.headOption.getOrElse(0)
  def group(id: Int): String = s"perfbench-$id"

  /** Runs `body` inside a span; its jobs are tagged with the span's job
    * group so the listener can attribute them.
    */
  def span[A](level: Int, kind: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      stack = id :: stack
      sc.setJobGroup(group(id), s"$kind $name", interruptOnCancel = false)
      val t0 = now()
      try body
      finally {
        spans += Span(id, parent, level, kind, name, t0, now())
        stack = stack.tail
        if (stack.isEmpty) sc.clearJobGroup() else sc.setJobGroup(group(current), "", false)
      }
    }

  /** Adds a span built after the fact (micro-batches, Spark jobs). */
  def add(parent: Int, level: Int, kind: String, name: String, start: Long, end: Long,
      attrs: Map[String, Double] = Map.empty): Span = {
    val s = Span(nextId, parent, level, kind, name, start, end, attrs)
    nextId += 1
    spans += s
    s
  }
}
