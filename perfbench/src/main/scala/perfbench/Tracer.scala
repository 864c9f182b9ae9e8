package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** A timed region of the benchmark's own calls. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, batch: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One Spark job, attributed by its job group, batch-id property and SQL
  * execution. */
final class JobRec(val jobId: Int, val group: String, val batch: Long, val execution: Long,
                   val startMs: Long) {
  @volatile var endMs: Long = -1L
  var shuffleWrite = 0L
  var inputBytes = 0L
}

/** One micro-batch as reported by the engine's progress event. */
final case class Progress(runId: String, batchId: Long, startMs: Long, durations: Map[String, Long],
                          inputRows: Long, state: Seq[StateOp], endOffset: String) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  def d(k: String): Long = durations.getOrElse(k, 0L)
}

final case class StateOp(rowsTotal: Long, rowsUpdated: Long, updateMs: Long, commitMs: Long,
                         memoryBytes: Long)

/** Spans around the benchmark's calls (always on: several end-to-end
  * metrics are span times), streaming progress (always on: lag needs each
  * batch's commit time) and, when tracing, a SparkListener that attributes
  * every job to a micro-batch phase or a library query. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String, batch: Long = -1L)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val s = Span(id, name, t0, System.nanoTime(), parent, batch)
      spans.add(s)
      stack.set(stack.get.tail)
      if (parent == 0) System.err.println(f"[perfbench] ${s.name} ${s.seconds}%.2f s")
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Span time minus the time of its direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = allSpans.filter(_.parent == s.id)
    s.seconds - kids.map(_.seconds).sum
  }

  // epoch-ms of nanoTime 0, so spans line up with engine timestamps
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000

  /** Writes every span as one JSON line, epoch ms: the benchmark's own
    * spans, one `microbatch` span per progress event and one `job` span
    * per Spark job, each job under its micro-batch by batch id. */
  def writeSpans(path: String): Unit = if (enabled) {
    def line(id: Int, name: String, start: Double, end: Double, parent: Int, batch: Long, self: Double) =
      f"""{"id":$id,"name":"$name","start_ms":$start%.3f,"end_ms":$end%.3f,""" +
        f""""parent":$parent,"batch":$batch,"self_ms":$self%.3f}"""
    val own = allSpans.map { s =>
      line(s.id, s.name, s.startNs / 1e6 + epochOffsetMs, s.endNs / 1e6 + epochOffsetMs, s.parent,
        s.batch, selfSeconds(s) * 1e3)
    }
    var id = nextId.get()
    val batchIds = scala.collection.mutable.HashMap.empty[(String, Long), Int]
    val batches = progresses.map { p =>
      id += 1
      batchIds((p.runId, p.batchId)) = id
      val jobsMs = allJobs.filter(j => j.group == p.runId && j.batch == p.batchId)
        .map(j => (j.startMs, j.endMs))
      line(id, "microbatch", p.startMs, p.endMs, 0, p.batchId, p.endMs - p.startMs - unionMs(jobsMs))
    }
    val jobs = allJobs.filter(_.endMs >= 0).map { j =>
      id += 1
      val name = if (j.batch >= 0) StreamLayers.phase(this, j) else j.group
      line(id, s"job.$name", j.startMs, j.endMs, batchIds.getOrElse((j.group, j.batch), 0), j.batch,
        (j.endMs - j.startMs).toDouble)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), (own ++ batches ++ jobs).asJava)
  }

  // ---- streaming progress -------------------------------------------------

  private val progress = new ConcurrentLinkedQueue[Progress]()
  def progresses: Seq[Progress] = progress.asScala.toSeq

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.toSeq.map { o =>
        StateOp(o.numRowsTotal, o.numRowsUpdated, o.allUpdatesTimeMs, o.commitTimeMs, o.memoryUsedBytes)
      }
      progress.add(Progress(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
        p.numInputRows, st, p.sources.headOption.map(_.endOffset).getOrElse("")))
    }
  }

  // ---- jobs ---------------------------------------------------------------

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new ConcurrentHashMap[Long, String]()
  /** Physical plan text of the SQL execution a job belongs to. */
  def planOf(j: JobRec): String = Option(plans.get(j.execution)).getOrElse("")
  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.jobId)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val rec = new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        plans.put(x.executionId, x.physicalPlanDescription)
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
        r.synchronized {
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.streams.addListener(queryListener)
    if (enabled) spark.sparkContext.addSparkListener(sparkListener)
  }

  /** Length of the union of [start, end) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
