package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One timed operation of the workload (an epoch is recorded from the
  * stream's own progress, everything else around a public call).
  */
final case class Op(id: Long, kind: String, startMs: Long, endMs: Long, ok: Boolean,
    error: String = "", attrs: Map[String, Double] = Map.empty) {
  def ms: Double = (endMs - startMs).toDouble
}

/** Spark work of one job, summed over its tasks. `group` is the job group
  * (an operation's, or a streaming query's run id); `batchId` the epoch of
  * a streaming job, else -1.
  */
final case class JobRec(jobId: Int, group: String, batchId: Long, startMs: Long, endMs: Long,
    taskMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    rowsRead: Long, bytesRead: Long)

/** A span of the dump: name, interval, the span that caused it. */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long,
    attrs: Map[String, Double] = Map.empty)

/** Records the benchmark's operations; with tracing on it also collects
  * per-job task metrics through a public [[SparkListener]] and tags each
  * operation's jobs with a job group, so every job can be attributed to
  * the operation (or streaming epoch) that ran it.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val nextId = new AtomicLong(1)
  val ops = mutable.ArrayBuffer.empty[Op]
  private val listener = if (traced) Some(new JobListener) else None
  listener.foreach(l => spark.sparkContext.addSparkListener(l))

  /** Time `body`; a throw is recorded as a failed operation and returned. */
  def run[A](kind: String)(body: => A): (Op, Option[A]) = {
    val id = nextId.getAndIncrement()
    if (traced) spark.sparkContext.setJobGroup(Recorder.groupOf(id), kind, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val end = t0 + (System.nanoTime() - n0) / 1000000L
    if (traced) spark.sparkContext.clearJobGroup()
    val op = res match {
      case Right(_) => Op(id, kind, t0, end, ok = true)
      case Left(e) => Op(id, kind, t0, end, ok = false,
        error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
    }
    synchronized { ops += op }
    (op, res.toOption)
  }

  /** Mark a recorded operation failed (its output did not match). */
  def fail(op: Op, why: String): Unit = synchronized {
    val i = ops.indexWhere(_.id == op.id)
    if (i >= 0) ops(i) = ops(i).copy(ok = false, error = why)
  }

  def annotate(op: Op, attrs: Map[String, Double]): Unit = synchronized {
    val i = ops.indexWhere(_.id == op.id)
    if (i >= 0) ops(i) = ops(i).copy(attrs = ops(i).attrs ++ attrs)
  }

  /** Every job of the run; read once, after the workload has finished. */
  lazy val jobs: Seq[JobRec] = listener.map(_.settle()).getOrElse(Seq.empty)

  def jobsOf(op: Op): Seq[JobRec] = jobs.filter(_.group == Recorder.groupOf(op.id))

  def close(): Unit = listener.foreach(l => spark.sparkContext.removeSparkListener(l))

  /** The span dump: one root per operation and per epoch, children for
    * each Spark job and, under an epoch, its `durationMs` phases (laid out
    * back to back in execution order from the epoch's start — progress
    * reports durations, not offsets).
    */
  def spans(progress: Seq[StreamingQueryProgress]): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    val js = jobs
    val ids = new AtomicLong(1000000L)
    ops.foreach { o =>
      out += Span(o.id, 0, o.kind, o.startMs, o.endMs, o.attrs + ("ok" -> (if (o.ok) 1.0 else 0.0)))
      js.filter(_.group == Recorder.groupOf(o.id)).foreach { j =>
        out += Span(ids.getAndIncrement(), o.id, s"job-${j.jobId}", j.startMs, j.endMs, jobAttrs(j))
      }
    }
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val root = ids.getAndIncrement()
      out += Span(root, 0, s"epoch-${p.batchId}", start, start + d.getOrElse("triggerExecution", 0L),
        Map("rows" -> p.numInputRows.toDouble))
      var t = start
      Recorder.PhaseOrder.filter(d.contains).foreach { ph =>
        out += Span(ids.getAndIncrement(), root, ph, t, t + d(ph)); t += d(ph)
      }
      js.filter(j => j.batchId == p.batchId && j.group == p.runId.toString).foreach { j =>
        out += Span(ids.getAndIncrement(), root, s"job-${j.jobId}", j.startMs, j.endMs, jobAttrs(j))
      }
    }
    out.toSeq
  }

  private def jobAttrs(j: JobRec): Map[String, Double] = Map(
    "task_ms" -> j.taskMs.toDouble, "gc_ms" -> j.gcMs.toDouble,
    "shuffle_write_bytes" -> j.shuffleWrite.toDouble, "shuffle_read_bytes" -> j.shuffleRead.toDouble,
    "spill_bytes" -> j.spill.toDouble, "rows_read" -> j.rowsRead.toDouble,
    "bytes_read" -> j.bytesRead.toDouble)
}

object Recorder {
  def groupOf(id: Long): String = s"perfbench-op-$id"

  /** MicroBatchExecution's phase order within one trigger. */
  val PhaseOrder: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
}

/** Collects job intervals and task metrics from the listener bus. */
private final class JobListener extends SparkListener {
  private final class Acc(val jobId: Int, val group: String, val batchId: Long, val start: Long) {
    @volatile var end: Long = -1L
    val taskMs, gcMs, shW, shR, spill, rows, bytes = new AtomicLong(0)
  }
  private val jobs = new ConcurrentHashMap[Int, Acc]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new Acc(e.jobId, group, batch, e.time))
    e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
    lastEvent.set(System.currentTimeMillis())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    lastEvent.set(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { a =>
      a.taskMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.rows.addAndGet(m.inputMetrics.recordsRead)
      a.bytes.addAndGet(m.inputMetrics.bytesRead)
    }
    lastEvent.set(System.currentTimeMillis())
  }

  /** Wait (bounded) until every started job has ended and the bus has
    * been quiet briefly, then snapshot.
    */
  def settle(): Seq[JobRec] = {
    val deadline = System.currentTimeMillis() + 10000L
    while (System.currentTimeMillis() < deadline &&
      (jobs.values.asScala.exists(_.end < 0) || System.currentTimeMillis() - lastEvent.get < 300L))
      Thread.sleep(50)
    jobs.values.asScala.toSeq.sortBy(_.jobId).map { a =>
      JobRec(a.jobId, a.group, a.batchId, a.start, if (a.end < 0) a.start else a.end,
        a.taskMs.get, a.gcMs.get, a.shW.get, a.shR.get, a.spill.get, a.rows.get, a.bytes.get)
    }
  }
}
