package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.cdc.{CompactionPolicy, FoldOracle, IngestJob, MergeEngine, SnapshotTable}

/** Catch-up replay of a seeded change log: `IngestJob.start` (AvailableNow,
  * merge-on-read, the default size-based [[CompactionPolicy]], one file per
  * trigger), then one `MergeEngine.compact`. Every epoch pays the fixed
  * per-epoch cost; some also pay a size-triggered compaction.
  */
object IngestWorkload {

  /** The replayed log: `seconds + 3` fresh files (one epoch each, ~0.7 s
    * apiece on a 4-core host) plus two that carry only late re-deliveries.
    */
  def shape(seconds: Int): LogCache.Shape = {
    val files = seconds + 3
    LogCache.Shape(events = files * 2500L, docs = files * 625L, files = files)
  }
  /** Same for every seed (generated once per checkout); files as large as
    * the measured log's, so the per-epoch loops run on as many rows.
    */
  val Warmup = LogCache.Shape(events = 7500, docs = 1875, files = 3)
  val QueryId = "cdc-ingest"

  def config(log: LogCache.Log, dir: Path): IngestJob.Config =
    IngestJob.Config(logDir = log.dir.toString, tableDir = dir.resolve("table").toString,
      checkpointDir = dir.resolve("checkpoint").toString, queryId = QueryId,
      maxFilesPerTrigger = Some(1), compaction = CompactionPolicy())

  final case class Replay(table: SnapshotTable, progress: Seq[StreamingQueryProgress],
      wallMs: Double, finalCompact: Option[Op], finalCompactVersion: Option[Long], streamGcMs: Long)

  /** Replay `log` into a fresh table under `dir`, one file per trigger;
    * with `compactWith`, compact once at the end as a recorded operation.
    */
  def replay(spark: SparkSession, log: LogCache.Log, dir: Path,
      compactWith: Option[Recorder]): Replay = {
    val cfg = config(log, dir)
    val t0 = System.nanoTime()
    val gc0 = Heap.gcMs
    val q = IngestJob.start(spark, cfg)
    q.awaitTermination()
    val streamGcMs = Heap.gcMs - gc0
    val table = new SnapshotTable(cfg.tableDir, cfg.numBuckets)
    val compact = compactWith.map(_.run("compact")(
      MergeEngine.compact(spark, table, cfg.writeSplits, cfg.compaction.targetFileBytes))._1)
    val wallMs = (System.nanoTime() - t0) / 1e6
    Replay(table, q.recentProgress.toSeq.filter(_.numInputRows > 0), wallMs, compact,
      compact.flatMap(_ => table.currentVersion), streamGcMs)
  }

  /** Set-up work, repeated three times for a median: the warmup log one
    * file per epoch (five epochs) and one compaction, so the
    * per-epoch path and the compaction are loaded and compiled on
    * full-size files before anything is measured. A lighter warm-up (one
    * small epoch per repetition) leaves the measured epochs getting faster
    * through the first half of the run (≈1,000 ms down to ≈600 ms), so the
    * median moves with JIT timing; after this one only the first two
    * epochs of the new query stand out.
    */
  def warmup(spark: SparkSession, a: Args, runDir: Path): Double = {
    val log = LogCache.get(spark, a.work, Warmup, seed = 0L)
    val times = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val r = replay(spark, log, runDir.resolve(s"warmup-$i"), compactWith = None)
      MergeEngine.compact(spark, r.table)
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(times)
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Outcome = {
    val runDir = Files.createTempDirectory(Files.createDirectories(a.work.resolve("runs")), "ingest-")
    try {
      val log = LogCache.get(spark, a.work, shape(a.seconds), a.seed)
      Stats.note("log ready")
      val setupS = sessionS + warmup(spark, a, runDir)
      Stats.note("warmup done")
      val rec = new Recorder(spark, a.trace)

      Heap.reset()
      val r = replay(spark, log, runDir.resolve("main"), compactWith = Some(rec))
      val heapMb = Heap.peakMb
      Stats.note("replay done")

      val epochs = r.progress.map(_.durationMs.get("triggerExecution").doubleValue)
      var failures = Vector.empty[String]
      if (epochs.size != log.numFiles)
        failures :+= s"stream ran ${epochs.size} epochs for ${log.numFiles} files"
      val (onlyTable, onlyOracle) = FoldOracle.diff(r.table.read(spark),
        FoldOracle.finalState(spark, spark.read.parquet(log.dir.toString)))
      if ((onlyTable, onlyOracle) != (0L, 0L))
        failures :+= s"final state differs from the fold oracle: ($onlyTable, $onlyOracle)"

      Stats.note("final state checked")
      // traced: read the ingested table back once per kind, each read
      // checked, for the read-side layer figures of a compacted table
      if (a.trace) {
        val oracle = new Oracle(spark, log, QueryId)
        val reads = new Reads(spark, r.table, rec, oracle)
        val rng = new scala.util.Random(a.seed)
        (1 to 3).foreach(_ => reads.lookup(Reads.drawKey(rng, log.shape.docs, 3.0)))
        reads.scan()
        val cur = r.table.currentVersion.get
        reads.travel(1 + rng.nextInt((cur - 1).toInt))
        val windows = reads.feedWindows(3)
        val (fa, fb) = windows(rng.nextInt(windows.size))
        reads.feed(fa, fb, reads.expectedFeed(fa, fb))
        reads.settle()
      }
      Stats.note("reads checked")
      failures ++= rec.ops.filterNot(_.ok).map(o => s"${o.kind}: ${o.error}")
      val attempted = epochs.size.toLong + rec.ops.size
      val failed = failures.size.toLong

      val tail = Stats.tailPercentile(epochs.size)
      val endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_p50_ms", Stats.median(epochs), "ms"),
        Metric("rate_per_s", log.delivered / (r.wallMs / 1000.0), "1/s"))
      val detail = (if (tail > 50) Seq(Metric(s"epoch_p${tail}_ms", Stats.percentile(epochs, tail), "ms"))
        else Nil) ++ Seq(
        Metric("ingest_eps", log.delivered / (r.wallMs / 1000.0), "events/s"),
        Metric("epoch_p50_ms", Stats.median(epochs), "ms"),
        Metric("epochs", epochs.size, "count"),
        Metric("events_delivered", log.delivered, "count"),
        Metric("replay_wall_ms", r.wallMs, "ms"),
        Metric("final_compact_ms", r.finalCompact.map(_.ms).getOrElse(0.0), "ms"),
        Metric("heap_peak_mb", heapMb, "MB"))
      val layers = if (a.trace) Layers.ingest(rec, r) ++
        Layers.table(r.table, r.table.currentVersion.get) ++ Layers.reads(rec) ++ Seq(
        Metric("jvm.heap_peak_mb", heapMb, "MB"),
        Metric("jvm.gc_ms_per_s", r.streamGcMs / (r.wallMs / 1000.0), "ms/s")) else Nil
      val spans = if (a.trace) rec.spans(r.progress) else Nil
      rec.close()
      val epochOps = r.progress.zip(epochs).map { case (p, ms) =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        Op(-p.batchId, "epoch", start, start + ms.toLong, ok = true)
      }
      Outcome(attempted, failed, failures, endToEnd, detail, layers, spans, epochOps ++ rec.ops)
    } finally Files.walk(runDir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }
}

/** Driver-JVM heap: the sum of the heap pools' peak usage
  * (`MemoryPoolMXBean.getPeakUsage`) since the last reset. In local mode
  * the engine's tasks run in this JVM, so the figure covers them too.
  */
object Heap {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def reset(): Unit = heapPools.foreach(_.resetPeakUsage())

  def peakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Collection time of the JVM so far, all collectors. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
