package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run reports. `endToEnd` and `layers` are the
  * contract metrics; `detail` holds the named per-operation figures that
  * are printed (and saved) alongside them.
  */
final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
    endToEnd: Seq[Metric], detail: Seq[Metric], layers: Seq[Metric], spans: Seq[Span] = Nil,
    ops: Seq[Op] = Nil) {
  def correct: Boolean = failed == 0
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    width: Int, work: Path, plantFailure: Int)

/** Benchmark driver: `--workload ingest|serve --seed N --seconds S
  * --trace 0|1 [--width N] [--work DIR] [--plant-failure K]`. Prints one
  * `metric` line per figure and, last, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics` (end-to-end metrics with tracing
  * off, per-layer metrics with it on).
  */
object Main {

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.get("width").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      Paths.get(m.getOrElse("work", ".bench_work")).toAbsolutePath,
      m.get("plant-failure").map(_.toInt).getOrElse(0))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Set("ingest", "serve").contains(a.workload), s"unknown workload ${a.workload}")
    require(a.plantFailure == 0 || a.workload == "serve", "--plant-failure applies to serve only")
    val host = Host.facts(a.width, a.work)
    val width = host.width
    Files.createDirectories(a.work.resolve("spark-local"))
    val spark = SparkSession.builder()
      .master(s"local[$width]")
      .appName(s"perfbench-${a.workload}")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(200000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    Stats.note(f"session up after $sessionS%.1f s")
    val cpu0 = Host.cpuTicks

    val out =
      try {
        if (a.workload == "ingest") IngestWorkload.run(spark, a, sessionS)
        else ServeWorkload.run(spark, a, sessionS)
      } finally spark.stop()

    report(a, host.withSteal(cpu0, Host.cpuTicks), out)
    System.exit(0)
  }

  private def report(a: Args, host: Host, o: Outcome): Unit = {
    host.lines.foreach(l => println(s"host $l"))
    o.failures.foreach(f => println(s"failed $f"))
    val errorRate = if (o.attempted > 0) o.failed.toDouble / o.attempted else 1.0
    (o.endToEnd ++ o.detail :+ Metric("error_rate", errorRate, "ratio")).foreach(m =>
      println(f"metric ${m.name}%-34s ${m.value}%14.4f ${m.unit}"))
    o.layers.foreach(m => println(f"layer  ${m.name}%-34s ${m.value}%14.4f ${m.unit}"))

    val line = s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": ${Json.metrics(if (a.trace) o.layers else o.endToEnd)}}"""

    val dir = a.work.resolve("results")
    Files.createDirectories(dir)
    val tag = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}"
    val full = Seq(
      s""""workload": ${Json.str(a.workload)}, "seed": ${a.seed}, "seconds": ${a.seconds}""",
      s""""host": ${host.json}""",
      s""""error_rate": ${Json.num(errorRate)}""",
      s""""failures": ${o.failures.map(Json.str).mkString("[", ", ", "]")}""",
      s""""end_to_end": ${Json.metrics(o.endToEnd)}""",
      s""""detail": ${Json.metrics(o.detail)}""",
      s""""per_layer": ${Json.metrics(o.layers)}""",
      s""""ops": ${o.ops.map(op => s"[${Json.str(op.kind)}, ${op.endMs - op.startMs}, ${op.ok}]").mkString("[", ", ", "]")}""")
      .mkString("{", ", ", "}")
    Files.write(dir.resolve(s"$tag.json"), full.getBytes(StandardCharsets.UTF_8))
    if (o.spans.nonEmpty) {
      val spans = o.spans.map { s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
          s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "attrs": """ +
          s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
            .mkString("{", ", ", "}") + "}"
      }
      Files.write(dir.resolve(s"$tag.spans.jsonl"), spans.asJava, StandardCharsets.UTF_8)
    }
    println(line)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def metrics(ms: Seq[Metric]): String =
    ms.map(m => s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
      .mkString("{", ", ", "}")
}

/** Facts about the machine a result was measured on. `stealShare` is the
  * share of all CPU time that the hypervisor gave to other guests while
  * the workload ran (`steal` in /proc/stat; NaN where unknown): on a shared
  * host every timing of a run rises with it.
  */
final case class Host(nproc: Int, memTotalKb: Long, jdk: String, spark: String,
    requestedWidth: Int, width: Int, workDir: String, workFs: String,
    stealShare: Double = Double.NaN) {
  def clamped: Boolean = width != requestedWidth
  def lines: Seq[String] = Seq(
    s"nproc=$nproc mem_total_kb=$memTotalKb jdk=$jdk spark=$spark",
    s"width=local[$width] requested=$requestedWidth" + (if (clamped) " (clamped to nproc)" else ""),
    s"work_dir=$workDir fs=$workFs",
    f"cpu_steal_share=$stealShare%.4f")
  def json: String =
    s"""{"nproc": $nproc, "mem_total_kb": $memTotalKb, "jdk": ${Json.str(jdk)}, """ +
      s""""spark": ${Json.str(spark)}, "requested_width": $requestedWidth, "width": $width, """ +
      s""""width_clamped": $clamped, "work_dir": ${Json.str(workDir)}, "work_fs": ${Json.str(workFs)}, """ +
      s""""cpu_steal_share": ${Json.num(stealShare)}}"""

  def withSteal(from: Option[(Long, Long)], to: Option[(Long, Long)]): Host =
    (from, to) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => copy(stealShare = (s1 - s0).toDouble / (t1 - t0))
      case _ => this
    }
}

object Host {
  /** (all CPU ticks, steal ticks) from the first line of /proc/stat. */
  def cpuTicks: Option[(Long, Long)] = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f.take(8).sum, f(7))
  }.toOption

  def facts(requested: Int, work: Path): Host = {
    val nproc = Runtime.getRuntime.availableProcessors
    val mem = scala.util.Try(
      Files.readAllLines(Paths.get("/proc/meminfo")).asScala
        .find(_.startsWith("MemTotal:")).get.split("\\s+")(1).toLong).getOrElse(-1L)
    Files.createDirectories(work)
    val real = work.toRealPath().toString
    val fs = scala.util.Try {
      Files.readAllLines(Paths.get("/proc/mounts")).asScala.map(_.split(" "))
        .filter(f => real == f(1) || real.startsWith(f(1).stripSuffix("/") + "/"))
        .maxBy(_(1).length).apply(2)
    }.getOrElse("unknown")
    Host(nproc, mem, System.getProperty("java.version"), org.apache.spark.SPARK_VERSION,
      requested, math.max(1, math.min(requested, nproc)), real, fs)
  }
}
