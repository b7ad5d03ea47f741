package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cdc.ChangelogGen

/** Seeded change logs, generated once per (seed, shape) and cached under
  * the work directory so a rerun with the same seed skips generation.
  *
  * A log is written by ONE Spark job: the base events are tagged with
  * their chunk (`lsn / chunkSize`) and the duplicates with the chunk two
  * files later, then [[ChangelogGen.writeChunkedLog]] lands one file per
  * chunk with strictly increasing mtimes. The files hold what
  * [[ChangelogGen.writeLog]] writes (same rows, lsn-ascending, same
  * names and arrival order), without its one job per file.
  */
object LogCache {

  final case class Shape(events: Long, docs: Long, files: Int, partitions: Int = 8) {
    def tag: String = s"e$events-d$docs-f$files-p$partitions"
    /** Fresh events per file; file k holds lsn in [k, k + 1) * chunkSize. */
    def chunkSize: Long = math.max(1L, math.ceil(events.toDouble / files).toLong)
  }

  final case class Log(dir: Path, shape: Shape, seed: Long, delivered: Long) {
    /** Files the stream reads: `files` fresh chunks plus two chunks that
      * carry only the last re-deliveries.
      */
    def numFiles: Int = shape.files + 2
  }

  def get(spark: SparkSession, work: Path, shape: Shape, seed: Long): Log = {
    val home = work.resolve("logs").resolve(s"s$seed-${shape.tag}")
    val meta = home.resolve("meta.txt")
    val logDir = home.resolve("log")
    if (!Files.exists(meta)) {
      val tmp = work.resolve("logs").resolve(s".tmp-s$seed-${shape.tag}-${System.nanoTime}")
      Files.createDirectories(tmp.resolve("log"))
      val cfg = ChangelogGen.Config(numEvents = shape.events, numDocs = shape.docs,
        numPartitions = shape.partitions, seed = seed, numFiles = shape.files)
      val chunk = shape.chunkSize
      val tagged = ChangelogGen.events(spark, cfg)
        .withColumn("_chunk", floor(col("lsn") / chunk))
        .unionByName(ChangelogGen.duplicates(spark, cfg)
          .withColumn("_chunk", floor(col("lsn") / chunk) + 2))
      ChangelogGen.writeChunkedLog(tagged, tmp.resolve("log"),
        k => f"chunk-$k%05d.parquet", System.currentTimeMillis(),
        expected = (0L until (shape.files + 2).toLong))
      val delivered = spark.read.parquet(tmp.resolve("log").toString).count()
      Files.write(tmp.resolve("meta.txt"), delivered.toString.getBytes(StandardCharsets.UTF_8))
      Files.createDirectories(home.getParent)
      if (Files.exists(home)) Files.walk(home).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      Files.move(tmp, home, StandardCopyOption.ATOMIC_MOVE)
    }
    val delivered = new String(Files.readAllBytes(meta), StandardCharsets.UTF_8).trim.toLong
    Log(logDir, shape, seed, delivered)
  }
}
