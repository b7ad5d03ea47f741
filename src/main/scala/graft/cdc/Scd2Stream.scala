package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, DataType, StructField, StructType}

/** Streaming maintenance of a type-2 temporal table: tail the ordered
  * changelog and fold each micro-batch through [[Scd2.merge]] — the
  * streaming complement of the MERGE snapshot ingest (IngestJob keeps
  * survivors; this keeps every version's validity interval). The dbt
  * analog is a `snapshots/` model re-run per sync (the reference runs its
  * loop monthly, dags/nyc_taxi_sync_dag.py:40-55); here it is continuous.
  *
  * The table is a [[SnapshotTable]] whose rows are already reconciled, so
  * it is read straight off the manifest's file list with no reconcile.
  * Its two kinds of file get different layouts under the one manifest:
  *
  *   - closed versions (`_bucket=-1`): immutable intervals, appended once
  *     by the epoch that closed them and never rewritten.
  *   - open rows (`_bucket=B`, the table's recorded `numBuckets`): one
  *     file per hash bucket, replaced ONLY for the buckets an epoch's
  *     batch touches. Untouched buckets carry forward BY FILE IDENTITY in
  *     the manifest, so an epoch's write cost is O(batch + touched
  *     buckets), never O(live keys); a bucket whose keys were all deleted
  *     simply has no open file any more.
  *
  * Each epoch is one write into a fresh `data/v<N>` dir plus one
  * [[SnapshotTable.commit]] that swaps the touched buckets' open files,
  * appends the closed file and advances the fence (`fences(queryId)` =
  * the last applied epoch) and the per-partition watermarks together.
  * A crash before the commit leaves only unreferenced files, which reads
  * never see and [[SnapshotTable.expireSnapshots]] reclaims along with
  * superseded open files; a replayed epoch at the fence is a no-op.
  *
  * Dedup contract (same as the ingest's): events of one source partition
  * arrive in non-decreasing LSN order across batches, and a key is sticky
  * to its partition — so a per-PARTITION watermark (4 longs, not a keyed
  * index) suffices to drop re-deliveries, INCLUDING the resurrection
  * case: a re-delivered insert of an already-deleted key has no open row
  * to collide with, so only the watermark can refuse it (law-tested in
  * Scd2StreamSpec).
  */
object Scd2Stream {

  case class Config(
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      queryId: String = "scd2-stream",
      schema: StructType = Model.changeEventSchema,
      maxFilesPerTrigger: Option[Int] = None,
      availableNow: Boolean = true,
      processingTime: String = "5 seconds",
      // used only when the table is created; an existing table keeps its own
      numBuckets: Int = 16)

  private val OrdCol = "lsn"
  private val PartitionCol = "partition"
  private val ClosedBucket = -1

  /** The table schema [[Scd2.fromChangelog]] produces for `cfg.schema`
    * input: payload columns (op dropped), ord renamed `valid_from_<ord>`,
    * plus `valid_to_<ord>` and `is_current` — all nullable, since explicit
    * parquet-read schemas must tolerate the open rows' null `valid_to`.
    */
  private def tableSchema(cfg: Config): StructType = {
    val ordType = cfg.schema(OrdCol).dataType
    val base = cfg.schema.fields.toSeq.filterNot(_.name == "op").map { f =>
      val renamed = if (f.name == OrdCol) f.copy(name = s"valid_from_$OrdCol") else f
      renamed.copy(dataType = SnapshotTable.relaxNulls(renamed.dataType), nullable = true)
    }
    StructType(base :+
      StructField(s"valid_to_$OrdCol", ordType, nullable = true) :+
      StructField("is_current", BooleanType, nullable = true))
  }

  private def schemaOf(m: Manifest): StructType =
    DataType.fromJson(m.currentSchemaJson).asInstanceOf[StructType]

  /** The current temporal table: every file of the current snapshot as
    * ONE multi-path parquet relation (plan depth 1 at any epoch count).
    * Only committed files are listed, so data an uncommitted epoch left
    * behind is invisible.
    */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val m = new SnapshotTable(tableDir).manifest.getOrElse(
      throw new IllegalStateException(s"no scd2 table at $tableDir"))
    if (m.files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemaOf(m))
    else spark.read.schema(schemaOf(m)).parquet(m.files.map(_.path): _*)
  }

  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    val table = new SnapshotTable(cfg.tableDir, cfg.numBuckets)
    if (!table.exists) table.init(tableSchema(cfg))
    var reader = spark.readStream.schema(cfg.schema)
    cfg.maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(cfg.logDir)

    val applyBatch: (Dataset[Row], Long) => Unit = { (batch, epochId) =>
      val m = table.manifest.get
      val fence = m.fences.get(cfg.queryId)
      // epochId == fence is the legitimate checkpoint-recovery
      // re-delivery (no-op); BELOW it means a fresh checkpoint was pointed
      // at an existing table — every batch would silently no-op on the
      // fence, so fail loudly instead (same contract as the graft sink)
      fence.filter(_ > epochId).foreach { f =>
        throw new IllegalStateException(
          s"scd2 stream: batchId $epochId is below the committed fence " +
            s"$f at ${cfg.tableDir} — restarting with a fresh " +
            "checkpoint against an existing table drops data; retire the " +
            "table together with its checkpoint")
      }
      if (!fence.contains(epochId)) {
        val src = batch.persist() // same rationale as IngestJob: the
        // foreachBatch frame is RDD-backed; every action re-reads the
        // source files, and the fold below runs several
        try {
          val bucket = SnapshotTable.bucketOf(col(Model.KeyCol), m.numBuckets)
          val valid = src.filter(IngestJob.validExpr(src))
          // per-partition watermark filter: strictly-above keeps fresh
          // events, drops every re-delivery (incl. deleted-key inserts)
          val wmExpr = m.watermarks.foldLeft(lit(true)) { case (acc, (p, w)) =>
            acc && (col(PartitionCol) =!= p.toInt || col(OrdCol) > w)
          }
          val fresh = valid.filter(wmExpr)
          // ONE bounded action yields both the applied watermarks and the
          // touched-bucket set (≤ numPartitions rows on the driver)
          val stats = fresh.groupBy(col(PartitionCol))
            .agg(max(col(OrdCol)).as("w"), collect_set(bucket).as("bs"))
            .collect()
          val touched: Set[Int] = stats.flatMap(_.getSeq[Int](2)).toSet
          // prior open rows of ONLY the touched buckets — keys outside
          // them cannot appear in the batch, so Scd2.merge sees exactly
          // the open rows it can close
          val prior = m.files.filter(f => touched.contains(f.bucket))
          val merged =
            if (prior.isEmpty) Scd2.fromChangelog(fresh, Seq(Model.KeyCol), OrdCol)
            else Scd2.merge(spark.read.schema(schemaOf(m)).parquet(prior.map(_.path): _*),
              fresh, Seq(Model.KeyCol), OrdCol)
          // ONE clustered write for both halves of the epoch: a single
          // repartition on the destination bucket evaluates the merge plan
          // once and lands every open bucket as exactly one file and the
          // closed set as one file per epoch (no tasks × buckets fan-out
          // of tiny files).
          val outDir = table.newDataDir(m.version + 1)
          merged
            .withColumn(Model.BucketCol,
              when(col("is_current"), bucket).otherwise(lit(ClosedBucket)))
            .repartition(col(Model.BucketCol))
            .write.partitionBy(Model.BucketCol).mode("overwrite").parquet(outDir.toString)
          val added = FileStats.entries(spark, table.listBucketFiles(outDir), m.schemas.size - 1)
          val replaced = prior.map(_.path).toSet
          table.commit(m.copy(
            version = m.version + 1, parentVersion = m.version,
            files = m.files.filterNot(f => replaced.contains(f.path)) ++ added,
            fences = m.fences + (cfg.queryId -> epochId),
            // fresh events are above their partition's watermark, so each
            // batch maximum is the partition's new watermark
            watermarks = m.watermarks ++ stats.map(r => r.getInt(0).toString -> r.getLong(1))))
        } finally src.unpersist()
      }
      ()
    }

    stream.writeStream
      .queryName(cfg.queryId)
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(
        if (cfg.availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime(cfg.processingTime))
      .foreachBatch(applyBatch)
      .start()
  }
}
