package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.cdc.{CompactionPolicy, MergeEngine, SnapshotTable}

/** One client issuing a seeded read mix, closed loop, against a table
  * built in set-up through the ingest path with the default compaction
  * policy and no final compaction — so it holds base files plus the delta
  * tail the policy allows, and each read pays the merge-on-read reconcile.
  *
  * The mix repeats a fixed ten-slot pattern (7 lookups, 1 scan, 1 time
  * travel, 1 change feed). Lookup keys are seeded draws; the feed window
  * and the time-travel version sit at a fixed place in the table's history.
  * The proportions are an assumption, not measured traffic: they give a
  * run 21 lookups and three reads of each other kind. The median over the
  * mix is therefore in effect the lookup median; scans, time travel and
  * feeds weigh on the read rate.
  * Feed windows span merge-on-read commits only: `ChangeFeed.between`
  * refuses a window that crosses a compaction.
  */
object ServeWorkload {

  /** 15 fresh files of 3,000 events, one delta file each: the 8th delta
    * over a bucket trips the default policy's trigger and the stream
    * compacts into base files; the 7 files after it leave every bucket
    * covered by its base file plus 7 deltas, one short of the trigger —
    * the longest tail the policy allows.
    */
  val Table = LogCache.Shape(events = 45000, docs = 11800, files = 15)
  /** Cycles measured for `seconds`: one per four seconds (a cycle takes
    * ≈4.3 s on a 4-core host), at least one.
    */
  def cycles(seconds: Int): Int = math.max(1, seconds / 4)

  val Pattern: Seq[String] =
    Seq("lookup", "lookup", "lookup", "scan", "lookup", "lookup", "travel", "lookup", "lookup", "feed")

  /** A median of no successful reads is not a number (the run is then
    * reported incorrect anyway).
    */
  private def medianOrNaN(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  def run(spark: SparkSession, a: Args, sessionS: Double): Outcome = {
    val runDir = Files.createTempDirectory(Files.createDirectories(a.work.resolve("runs")), "serve-")
    try {
      val log = LogCache.get(spark, a.work, Table, a.seed)
      Stats.note("log ready")
      val rec = new Recorder(spark, a.trace)
      val b0 = System.nanoTime()
      val built = IngestWorkload.replay(spark, log, runDir.resolve("main"), compactWith = None)
      val buildS = (System.nanoTime() - b0) / 1e9
      val table = built.table
      val served = table.manifestAt(table.currentVersion.get)
      val tail = CompactionPolicy().maxDeltaFilesPerBucket - 1
      require(served.files.exists(!_.isDelta) && Layers.maxDeltasPerBucket(served) == tail,
        s"served table: ${served.files.count(!_.isDelta)} base files and " +
          s"${Layers.maxDeltasPerBucket(served)} deltas per bucket, expected base files and $tail")
      Stats.note("table built")

      // expected answers, outside every clock
      val oracle = new Oracle(spark, log, IngestWorkload.QueryId)
      val reads = new Reads(spark, table, rec, oracle)
      val rng = new scala.util.Random(a.seed)
      // the feed window: the latest run of three merge-on-read commits
      // before the current version, so every seed reads a window of the
      // same shape; time travel reads the window's start, an older version
      // with a shorter delta tail
      val cur = table.currentVersion.get
      val (fa, fb) = reads.feedWindows(3).filter { case (x, y) => y - x == 3 && y < cur }.maxBy(_._2)
      val feedWant = reads.expectedFeed(fa, fb)
      Seq(fa, cur).foreach(reads.expectedDigest)
      Stats.note("expected answers ready")

      def read(i: Int): Unit =
        if (a.plantFailure > 0 && i == a.plantFailure) Planted.failingFeed(reads, table)
        else Pattern(i % Pattern.size) match {
          case "lookup" => reads.lookup(Reads.drawKey(rng, Table.docs, 3.0))
          case "scan" => reads.scan()
          case "travel" => reads.travel(fa)
          case "feed" => reads.feed(fa, fb, feedWant)
        }

      // set-up ends by warming the read path: three rounds of one read of
      // each kind, timed for a median, checked, then dropped (a failure is
      // kept)
      val warmS = Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Seq(0, 3, 6, 9).foreach(k => read(k + Pattern.size))
        (System.nanoTime() - t0) / 1e9
      })
      reads.settle()
      rec.ops --= rec.ops.filter(_.ok)
      val setupS = sessionS + buildS + warmS
      Stats.note("read path warmed")

      Heap.reset()
      val gc0 = Heap.gcMs
      val t0 = System.nanoTime()
      // a fixed number of whole cycles, so every run measures the same
      // reads (a time-bounded loop lets a fast run do a cycle more, of
      // faster reads, which widens the spread); ≈`seconds` on a 4-core host
      (0 until cycles(a.seconds) * Pattern.size).foreach(read)
      val wallS = (System.nanoTime() - t0) / 1e9
      val readGcMs = Heap.gcMs - gc0
      val heapMb = Heap.peakMb
      reads.settle()
      Stats.note(s"read loop done: ${rec.ops.size} reads")

      // traced only, after the measured loop: compact the served tail once,
      // so the compaction layer has figures on this workload too (the table
      // figures stay those of the served version)
      val layers = if (!a.trace) Nil else {
        val compact = rec.run("compact")(MergeEngine.compact(spark, table))._1
        Layers.ingest(rec, built.copy(finalCompact = Some(compact),
          finalCompactVersion = table.currentVersion)) ++ Layers.table(table, cur) ++
          Layers.reads(rec) ++ Seq(
            Metric("jvm.heap_peak_mb", heapMb, "MB"),
            Metric("jvm.gc_ms_per_s", readGcMs / wallS, "ms/s"))
      }

      val ok = rec.ops.filter(o => o.ok && o.kind != "compact").toList
      val all_ms = ok.map(_.ms)
      def of(kind: String) = ok.filter(_.kind == kind).map(_.ms)
      val failures = rec.ops.filterNot(_.ok).map(o => s"${o.kind}: ${o.error}").toSeq
      val lookups = of("lookup")
      val endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_p50_ms", medianOrNaN(all_ms), "ms"),
        Metric("rate_per_s", ok.size / wallS, "1/s"))
      def tailOf(name: String, xs: Seq[Double]): Seq[Metric] = {
        val p = Stats.tailPercentile(xs.size)
        if (p > 50) Seq(Metric(s"${name}_p${p}_ms", Stats.percentile(xs, p), "ms")) else Nil
      }
      val detail = Seq(Metric("reads", all_ms.size, "count")) ++ tailOf("read", all_ms) ++ Seq(
        Metric("lookup_p50_ms", medianOrNaN(lookups), "ms")) ++ tailOf("lookup", lookups) ++ Seq(
        Metric("lookups", lookups.size, "count"),
        Metric("scan_p50_ms", medianOrNaN(of("scan")), "ms"),
        Metric("travel_p50_ms", medianOrNaN(of("travel")), "ms"),
        Metric("feed_p50_ms", medianOrNaN(of("feed")), "ms"),
        Metric("table_build_s", buildS, "s"),
        Metric("table_versions", cur + 1, "count"),
        Metric("heap_peak_mb", heapMb, "MB"))
      val spans = if (a.trace) rec.spans(built.progress) else Nil
      rec.close()
      Outcome(rec.ops.size.toLong, failures.size.toLong, failures, endToEnd, detail, layers, spans, rec.ops.toList)
    } finally Files.walk(runDir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }
}

/** The self-test's planted failure: a change feed up to a version that
  * was never committed, which `ChangeFeed.between` refuses. It must show
  * up as one failed operation, not as a time.
  */
object Planted {
  def failingFeed(reads: Reads, table: SnapshotTable): Op = {
    val cur = table.currentVersion.get
    reads.feed(cur, cur + 1, expected = Map.empty)
  }
}
