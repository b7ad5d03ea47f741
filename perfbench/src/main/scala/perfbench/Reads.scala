package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}

import graft.cdc.{ChangeFeed, SnapshotTable}

/** The serving reads, each issued through a public table call, timed as
  * one operation and checked against the fold oracle. A throw or a wrong
  * answer marks the operation failed; its time is then left out of every
  * latency figure.
  *
  *  - `lookup`: `lookupKeys(key).collect()` of one key;
  *  - `scan`:   an aggregate (rows, token total, row-hash sum) over `read`;
  *  - `travel`: the same aggregate over `readVersion(v)` of an older v;
  *  - `feed`:   `ChangeFeed.between(a, b).count()` over a window of
  *              merge-on-read commits only, its rows checked afterwards.
  */
final class Reads(spark: SparkSession, table: SnapshotTable, rec: Recorder, oracle: Oracle) {

  private val current = table.currentVersion.get
  private val currentEpoch = oracle.epochOf(table, current)

  /** Current rows by key, for lookups. */
  val expectedRows: Map[String, Seq[Any]] =
    oracle.stateAfter(currentEpoch).collect().map(r => r.getString(0) -> Oracle.plain(r)).toMap

  private val digests = scala.collection.mutable.Map.empty[Long, Seq[Long]]

  /** Expected scan digest at version `v` (cached per version). */
  def expectedDigest(v: Long): Seq[Long] =
    digests.getOrElseUpdate(v, Oracle.digest(oracle.stateAfter(oracle.epochOf(table, v))))

  /** Expected feed over (a, b]: every key with a fresh event in the
    * window is I if it exists only after the window, D if only before, U
    * if in both (a key in neither nets to nothing), with its pre image from
    * before and its post image from after.
    */
  def expectedFeed(a: Long, b: Long): Map[String, Reads.Change] = {
    val ea = oracle.epochOf(table, a)
    val eb = oracle.epochOf(table, b)
    def images(e: Int): Map[String, Seq[Any]] = oracle.stateAfter(e).collect().map { r =>
      val k = r.fieldIndex("doc_id")
      r.getString(k) -> Oracle.plain(r).patch(k, Nil, 1)
    }.toMap
    val (before, after) = (images(ea), images(eb))
    oracle.freshKeys(ea, eb).toSeq.flatMap { k =>
      val op = (before.contains(k), after.contains(k)) match {
        case (false, true) => Some("I")
        case (true, true) => Some("U")
        case (true, false) => Some("D")
        case (false, false) => None
      }
      op.map(o => k -> Reads.Change(o, before.get(k), after.get(k)))
    }.toMap
  }

  private val pending = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Run the checks that need Spark jobs of their own (the feeds' rows),
    * deferred so that no clock, not even the read loop's wall time, holds
    * them. Call before the table changes again.
    */
  def settle(): Unit = { pending.foreach(_()); pending.clear() }

  /** Versions whose commit only added merge-on-read delta files. */
  lazy val morVersions: Set[Long] = (1L to current).filter { v =>
    table.changesBetween(v - 1, v).forall { case (_, added, removed) =>
      removed.isEmpty && added.nonEmpty && added.forall(_.isDelta)
    }
  }.toSet

  /** Windows (a, b] of up to `maxLen` commits, all merge-on-read. */
  def feedWindows(maxLen: Int): Seq[(Long, Long)] =
    for {
      a <- 0L until current
      b <- (a + 1) to math.min(current, a + maxLen)
      if ((a + 1) to b).forall(morVersions.contains)
    } yield (a, b)

  private def plan(df: org.apache.spark.sql.DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble

  def lookup(key: String): Op = {
    val (op, got) = rec.run("lookup") {
      val df = table.lookupKeys(spark, Seq(key))
      (df, df.collect())
    }
    got.foreach { case (df, rows) =>
      val want = expectedRows.get(key).toSeq
      if (rows.map(Oracle.plain).toSeq != want)
        rec.fail(op, s"lookup $key: ${rows.length} rows, expected ${want.size}")
      if (rec.traced) rec.annotate(op, Map("plan_ms" -> plan(df), "rows_out" -> rows.length.toDouble))
    }
    op
  }

  def scan(): Op = digestOp("scan", current, table.read(spark))

  def travel(v: Long): Op = {
    if (rec.traced) {
      // resolution cost on a cold handle, outside the operation's span
      val t0 = System.nanoTime()
      new SnapshotTable(table.root, table.defaultNumBuckets).manifestAt(v)
      val ms = (System.nanoTime() - t0) / 1e6
      val op = digestOp("travel", v, table.readVersion(spark, v))
      rec.annotate(op, Map("manifestAt_ms" -> ms))
      op
    } else digestOp("travel", v, table.readVersion(spark, v))
  }

  private def digestOp(kind: String, v: Long, df: => org.apache.spark.sql.DataFrame): Op = {
    val want = expectedDigest(v)
    val (op, got) = rec.run(kind) {
      val d = df
      val r = Oracle.digestFrame(d)
      (r, r.head())
    }
    got.foreach { case (agg, row) =>
      val digest = Seq(row.getLong(0), row.getLong(1), row.getLong(2))
      if (digest != want) rec.fail(op, s"$kind v$v: digest $digest, expected $want")
      if (rec.traced) rec.annotate(op, Map("plan_ms" -> plan(agg), "rows_out" -> digest.head.toDouble))
    }
    op
  }

  /** Timed: the feed's `count()`. Checked: the count, then (deferred to
    * [[settle]]) every row's key, change op and pre and post images.
    */
  def feed(a: Long, b: Long, expected: Map[String, Reads.Change]): Op = {
    val walk = if (rec.traced) {
      val t0 = System.nanoTime()
      table.changesBetween(a, b)
      Map("changesBetween_ms" -> (System.nanoTime() - t0) / 1e6, "versions_walked" -> (b - a).toDouble)
    } else Map.empty[String, Double]
    val (op, got) = rec.run("feed") {
      val df = ChangeFeed.between(spark, table, a, b)
      (df, df.count())
    }
    got.foreach { case (df, n) =>
      if (n != expected.size) rec.fail(op, s"feed v$a..v$b: $n changes, expected ${expected.size}")
      else pending += { () =>
        def image(r: Row, i: Int) = Option(r.getStruct(i)).map(Oracle.plain)
        val rows = df.select("doc_id", "change_op", "pre_image", "post_image").collect()
        val actual = rows.map(r => r.getString(0) -> Reads.Change(r.getString(1), image(r, 2), image(r, 3))).toMap
        val wrong = expected.count { case (k, c) => !actual.get(k).contains(c) }
        if (rows.length != expected.size || wrong > 0)
          rec.fail(op, s"feed v$a..v$b: $wrong of ${expected.size} changes differ from the oracle")
      }
      if (rec.traced) rec.annotate(op, walk + ("rows_out" -> n.toDouble))
    }
    op
  }
}

object Reads {

  /** One change of a feed: its op and the payload images, `doc_id` left out. */
  final case class Change(op: String, pre: Option[Seq[Any]], post: Option[Seq[Any]])

  /** The key the generator gives document `idx` (Spark's `md5`, hex). */
  def keyOf(idx: Long): String = {
    val d = MessageDigest.getInstance("MD5").digest(s"doc-$idx".getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** A lookup key: 60% hot (the generator's zipf skew), 25% uniform over
    * the key space (mostly cold), 15% keys no event ever carried. The split
    * is an assumption, not measured traffic.
    */
  def drawKey(rng: scala.util.Random, docs: Long, zipfExp: Double): String = {
    val r = rng.nextDouble()
    val idx =
      if (r < 0.60) math.floor(docs * math.pow(rng.nextDouble(), zipfExp)).toLong
      else if (r < 0.85) (rng.nextDouble() * docs).toLong
      else docs + (rng.nextDouble() * docs).toLong
    keyOf(idx)
  }
}
