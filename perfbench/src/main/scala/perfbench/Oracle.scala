package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{FoldOracle, SnapshotTable}

/** Expected answers for reads of a table built from one cached log, from
  * [[FoldOracle]] (a sequential fold that shares no code with the engine).
  *
  * The stream reads one log file per epoch in arrival order, so the table
  * at a version whose fence is epoch `e` holds the fold of files 0..e.
  */
final class Oracle(spark: SparkSession, log: LogCache.Log, queryId: String) {

  /** Delivered rows, each with the index of the file that carried it. */
  private lazy val delivered: Array[(Int, Row)] = {
    val df = spark.read.parquet(log.dir.toString)
    val n = df.columns.length
    df.select(col("*"), col("_metadata.file_name").as("_file")).collect().map { r =>
      val name = r.getString(n)
      (name.stripPrefix("chunk-").stripSuffix(".parquet").toInt, Row.fromSeq(r.toSeq.take(n)))
    }
  }
  private lazy val eventSchema = spark.read.parquet(log.dir.toString).schema

  private val states = scala.collection.mutable.Map.empty[Int, DataFrame]

  /** Oracle state after epoch `e` (files 0..e); e < 0 is the empty table. */
  def stateAfter(e: Int): DataFrame = states.getOrElseUpdate(e, {
    val prefix = delivered.collect { case (f, r) if f <= e => r }.toList
    FoldOracle.finalState(spark, spark.createDataFrame(prefix.asJava, eventSchema))
  })

  def epochOf(table: SnapshotTable, v: Long): Int =
    table.manifestAt(v).fences.get(queryId).map(_.toInt).getOrElse(-1)

  /** Keys whose events are fresh in files (a, b] — the changes a feed over
    * that window reports (re-deliveries sit at or below the watermark and
    * never reach a delta file).
    */
  def freshKeys(a: Int, b: Int): Set[String] = {
    val lsnI = eventSchema.fieldIndex("lsn")
    val keyI = eventSchema.fieldIndex("doc_id")
    delivered.iterator.collect {
      case (f, r) if f > a && f <= b && r.getLong(lsnI) / log.shape.chunkSize == f => r.getString(keyI)
    }.toSet
  }
}

object Oracle {

  /** Order-insensitive digest of a payload relation: rows, token total and
    * a sum of row hashes. Computed by the same expression on the table read
    * and on the oracle state, so equal relations give equal digests.
    */
  def digest(df: DataFrame): Seq[Long] = {
    val r = digestFrame(df).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def digestFrame(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(col("n_tok").cast("long")), lit(0L)),
      coalesce(sum(hash(col("doc_id"), col("tokens"), col("n_tok"), col("source")).cast("long")),
        lit(0L)))

  /** Payload row as plain values (arrays as Seq) for equality. */
  def plain(r: Row): Seq[Any] = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.toList
    case v => v
  }
}
