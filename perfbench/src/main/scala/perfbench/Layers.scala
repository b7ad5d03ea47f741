package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.cdc.{Manifest, SnapshotTable}

/** Per-layer figures of a traced run, named after the engine's modules.
  * Epoch figures come from the stream's progress (`durationMs`), Spark work
  * from the job listener, commits from the table's manifests afterwards.
  * Medians are per epoch or per operation unless a name says otherwise.
  */
object Layers {

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** IngestJob, MergeEngine.merge and MergeEngine.compact figures of one
    * replay and the compactions after it.
    */
  def ingest(rec: Recorder, r: IngestWorkload.Replay): Seq[Metric] = {
    val table = r.table
    val cur = table.currentVersion.get
    val ms: Map[Long, Manifest] = (0L to cur).map(v => v -> table.manifestAt(v)).toMap
    def epochOf(v: Long): Long = ms(v).fences.getOrElse(IngestWorkload.QueryId, -1L)
    def committedAt(v: Long): Long =
      Files.getLastModifiedTime(Paths.get(table.root, "manifests", s"v$v.json")).toMillis
    val steps = table.changesBetween(0, cur).map { case (v, added, removed) => v -> (added, removed) }.toMap
    val compactions = (1L to cur).filter(v => steps(v)._2.nonEmpty)
    val streamCompactions = compactions.filterNot(r.finalCompactVersion.contains)
    val compactingEpochs = streamCompactions.map(epochOf).toSet

    val runId = r.progress.headOption.map(_.runId.toString).getOrElse("")
    val jobs = rec.jobs.filter(_.group == runId)
    def phase(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val merging = r.progress.filterNot(p => compactingEpochs.contains(p.batchId))
    val mergeJobs = merging.map(p => jobs.filter(_.batchId == p.batchId))
    val inJobs = mergeJobs.map(js => Stats.covered(js.map(j => (j.startMs, j.endMs))).toDouble)

    // in a compacting epoch, jobs that start after the merge's commit
    // belong to the compaction
    val compactJobs = streamCompactions.flatMap { v =>
      jobs.filter(j => j.batchId == epochOf(v) && j.startMs >= committedAt(v - 1))
    } ++ r.finalCompact.toSeq.flatMap(rec.jobsOf)
    // one compaction's time: from the merge's commit to its own, or the
    // final compaction's call
    val compactionMs = streamCompactions.map(v => (committedAt(v) - committedAt(v - 1)).toDouble) ++
      r.finalCompact.map(_.ms)

    val epochMetrics = ms(cur).metrics.filter(_.queryId == IngestWorkload.QueryId)
    val eventsIn = epochMetrics.map(_.eventsIn).sum.toDouble

    Seq(
      Metric("IngestJob.epochs", r.progress.size, "count"),
      Metric("IngestJob.addBatch_p50_ms", med(r.progress.map(phase(_, "addBatch"))), "ms"),
      Metric("IngestJob.stream_overhead_p50_ms",
        med(r.progress.map(p => phase(p, "triggerExecution") - phase(p, "addBatch"))), "ms"),
      Metric("IngestJob.walCommit_p50_ms", med(r.progress.map(phase(_, "walCommit"))), "ms"),
      Metric("IngestJob.latestOffset_p50_ms", med(r.progress.map(phase(_, "latestOffset"))), "ms"),
      Metric("IngestJob.queryPlanning_p50_ms", med(r.progress.map(phase(_, "queryPlanning"))), "ms"),
      Metric("merge.jobs_per_epoch", med(mergeJobs.map(_.size.toDouble)), "count"),
      Metric("merge.in_jobs_p50_ms", med(inJobs), "ms"),
      Metric("merge.driver_only_p50_ms",
        med(merging.zip(inJobs).map { case (p, j) => phase(p, "addBatch") - j }), "ms"),
      Metric("merge.task_ms", med(mergeJobs.map(_.map(_.taskMs).sum.toDouble)), "ms"),
      Metric("merge.shuffle_write_bytes", med(mergeJobs.map(_.map(_.shuffleWrite).sum.toDouble)), "bytes"),
      Metric("merge.gc_ms", r.streamGcMs.toDouble / math.max(1, r.progress.size), "ms"),
      Metric("merge.below_wm_ratio", ratio(epochMetrics.map(_.belowWatermark).sum, eventsIn), "ratio"),
      Metric("merge.collapsed_ratio", ratio(epochMetrics.map(_.collapsedInBatch).sum, eventsIn), "ratio"),
      Metric("merge.rows_written_per_event", ratio(epochMetrics.map(_.rowsWritten).sum, eventsIn), "ratio"),
      Metric("compact.count", compactions.size, "count"),
      Metric("compact.commit_p50_ms", med(compactionMs), "ms"),
      Metric("compact.jobs", compactJobs.size, "count"),
      Metric("compact.shuffle_bytes", compactJobs.map(_.shuffleWrite).sum.toDouble, "bytes"),
      Metric("compact.ms", compactionMs.sum, "ms"),
      Metric("compact.bytes_rewritten", compactions.flatMap(v => steps(v)._1).map(_.bytes).sum.toDouble,
        "bytes"))
  }

  /** Highest number of delta files covering any one bucket. */
  def maxDeltasPerBucket(m: Manifest): Int =
    (0 until m.numBuckets).map(b => m.files.count(f => f.isDelta && f.covers(b))).maxOption.getOrElse(0)

  /** SnapshotTable figures of the table as of version `v`. */
  def table(table: SnapshotTable, v: Long): Seq[Metric] = {
    val last = table.manifestAt(v)
    val manifestBytes = Files.walk(Paths.get(table.root, "manifests")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    val writtenBytes = table.changesBetween(0, v).flatMap(_._2).map(_.bytes).sum.toDouble
    val liveBytes = last.files.map(_.bytes).sum.toDouble
    Seq(
      Metric("table.versions", v + 1, "count"),
      Metric("table.live_files", last.files.size, "count"),
      Metric("table.max_deltas_per_bucket", maxDeltasPerBucket(last), "count"),
      Metric("table.manifest_bytes", manifestBytes.toDouble, "bytes"),
      Metric("table.write_amp", ratio(writtenBytes, liveBytes), "ratio"))
  }

  /** SnapshotTable reads with their Reconcile work, and ChangeFeed. */
  def reads(rec: Recorder): Seq[Metric] = {
    val ok = rec.ops.filter(_.ok).toList
    def per(op: Op, f: Seq[JobRec] => Double): Double = f(rec.jobsOf(op))
    def readOp(kind: String): Seq[Metric] = {
      val os = ok.filter(_.kind == kind)
      def m(n: String, unit: String)(f: Op => Double) = Metric(s"serve.$kind.$n", med(os.map(f)), unit)
      def inJobs(o: Op) = per(o, js => Stats.covered(js.map(j => (j.startMs, j.endMs))).toDouble)
      def rowsRead(o: Op) = per(o, _.map(_.rowsRead).sum.toDouble)
      Seq(
        m("jobs", "count")(o => rec.jobsOf(o).size.toDouble),
        m("in_jobs_ms", "ms")(inJobs),
        m("driver_only_ms", "ms")(o => o.ms - inJobs(o)),
        m("plan_ms", "ms")(_.attrs.getOrElse("plan_ms", 0.0)),
        m("rows_read", "rows")(rowsRead),
        m("bytes_read", "bytes")(o => per(o, _.map(_.bytesRead).sum.toDouble)),
        m("shuffle_bytes", "bytes")(o => per(o, _.map(_.shuffleWrite).sum.toDouble)),
        m("rows_read_per_row_out", "ratio")(o => rowsRead(o) / math.max(1.0, o.attrs.getOrElse("rows_out", 0.0))))
    }
    val feeds = ok.filter(_.kind == "feed")
    readOp("lookup") ++ readOp("scan") ++ readOp("travel") ++ Seq(
      Metric("serve.travel.manifestAt_ms",
        med(ok.filter(_.kind == "travel").map(_.attrs.getOrElse("manifestAt_ms", 0.0))), "ms"),
      Metric("feed.changesBetween_ms", med(feeds.map(_.attrs.getOrElse("changesBetween_ms", 0.0))), "ms"),
      Metric("feed.versions_walked", med(feeds.map(_.attrs.getOrElse("versions_walked", 0.0))), "count"),
      Metric("feed.jobs", med(feeds.map(o => rec.jobsOf(o).size.toDouble)), "count"),
      Metric("feed.rows_read", med(feeds.map(o => per(o, _.map(_.rowsRead).sum.toDouble))), "rows"))
  }
}
