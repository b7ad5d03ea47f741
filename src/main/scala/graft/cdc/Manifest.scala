package graft.cdc

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One immutable data file owned by a snapshot: `bucket` is the
  * hash(doc_id) bucket it stores for BASE files (exactly one bucket per
  * base file, from the partitioned write); DELTA files are written
  * locally sorted by `_bucket` without a shuffle, so each carries the
  * [bucketLo, bucketHi] range observed in its parquet footer — compaction
  * and read-time reconcile touch only the buckets some delta range
  * covers (O(dirty buckets), not O(table)). `schemaId` indexes
  * [[Manifest.schemas]] (files written before a schema evolution keep
  * their original physical schema and are conformed on read), min/max
  * LSN support file-skipping.
  */
case class FileEntry(
    path: String,
    bucket: Int,
    schemaId: Int,
    minLsn: Long,
    maxLsn: Long,
    rows: Long,
    kind: String,
    bucketLo: Int = 0,
    bucketHi: Int = Int.MaxValue,
    // On-disk size; drives the size-based compaction trigger and the
    // target-file-size estimate on rewrite. 0 = unknown (pre-round-4
    // manifest) — consumers must fall back to count-based heuristics.
    bytes: Long = 0L,
    // Key-column (doc_id) min/max from the parquet footer, in parquet's
    // UNSIGNED UTF-8 byte order. Base files are written clustered
    // (sorted by key within the bucket), so [minKey, maxKey] is a tight
    // range and a point lookup skips every base file whose range excludes
    // the sought keys — the manifest-level analog of Iceberg's
    // lower_bounds/upper_bounds. null = unknown (pre-round-5 manifest or
    // unreadable stats) → consumers must treat the file as may-contain.
    minKey: String = null,
    maxKey: String = null) {
  def isDelta: Boolean = kind == FileEntry.Delta

  /** Conservative "may this file contain `key`?" from the footer key
    * range: unknown stats always pass (pruning must never lose a row).
    * Comparison is unsigned UTF-8 byte order — the order parquet used to
    * compute the stats — NOT String.compareTo (UTF-16 code units), which
    * diverges on supplementary characters.
    */
  def mayContainKey(key: String): Boolean =
    minKey == null || maxKey == null ||
      (FileEntry.utf8Leq(minKey, key) && FileEntry.utf8Leq(key, maxKey))

  /** Buckets this file may contain rows of (conservative for deltas). */
  def coveredBuckets(numBuckets: Int): Range =
    if (isDelta) math.max(0, bucketLo) to math.min(bucketHi, numBuckets - 1)
    else bucket to bucket

  def covers(b: Int): Boolean =
    if (isDelta) b >= bucketLo && b <= bucketHi else b == bucket
}

object FileEntry {
  /** Fully reconciled rows (payload + _lsn). */
  val Base = "base"
  /** Merge-on-read delta: raw change rows (payload + _lsn + _op incl.
    * delete tombstones + _bucket), reconciled at read/compaction.
    */
  val Delta = "delta"

  /** a <= b in unsigned UTF-8 byte order (parquet's binary stats order). */
  def utf8Leq(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length <= y.length
  }
}

/** Per-epoch ingest metrics, committed atomically with the data they
  * describe (fixes the reference's at-least-once Redis INCRBY hazard,
  * SURVEY.md §3.3: replay of an epoch can never double-count because the
  * metric row rides the same fenced snapshot commit).
  */
case class EpochMetrics(
    queryId: String,
    epochId: Long,
    eventsIn: Long,
    belowWatermark: Long,
    collapsedInBatch: Long,
    upserts: Long,
    deletes: Long,
    rowsWritten: Long,
    touchedBuckets: Int)

/** Snapshot manifest — the unit of atomic commit (SURVEY.md §4.3).
  *
  * - `fences`: queryId → highest applied epochId. A re-delivered epoch
  *   (foreachBatch replay after restart) is a no-op → exactly-once.
  * - `watermarks`: source partition (as string key, JSON-friendly) →
  *   highest applied LSN. This is both the per-partition lineage record
  *   (source offset → snapshot) and the broadcast min-LSN dedup filter.
  * - `schemas`: append-only history of table schemas (Spark StructType
  *   JSON); last entry is current. Additive evolution only.
  */
case class Manifest(
    version: Long,
    parentVersion: Long,
    numBuckets: Int,
    schemas: Seq[String],
    files: Seq[FileEntry],
    fences: Map[String, Long],
    watermarks: Map[String, Long],
    metrics: Seq[EpochMetrics],
    // Lease identity of the writer that produced this manifest, stamped
    // by SnapshotTable.commit. On a claim conflict at an UNPUBLISHED
    // version it distinguishes "my own earlier claim" (resumable) from a
    // possibly-live foreign claimant (reclaim gated on claim age).
    writerId: String = "") {
  def currentSchemaJson: String = schemas.last
}

object Manifest {
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  /** On-disk DELTA form of a manifest: everything but `files`, which is
    * encoded as (added entries, removed paths) against the parent
    * version's resolved state. This is what makes per-epoch metadata
    * O(epoch) instead of O(table): a 10^10-row table holds ~10^5..10^6
    * live file entries, and serializing them ALL on every 5-second commit
    * is the classic metadata bottleneck both Delta (JSON log +
    * checkpoints) and Iceberg (manifest lists) exist to avoid. Small
    * fields (fences, watermarks, schemas, bounded metrics window) stay
    * fully materialized in every form — only the file list is chained.
    */
  private case class DeltaManifest(
      version: Long,
      parentVersion: Long,
      numBuckets: Int,
      schemas: Seq[String],
      filesAdded: Seq[FileEntry],
      filesRemoved: Seq[String],
      fences: Map[String, Long],
      watermarks: Map[String, Long],
      metrics: Seq[EpochMetrics],
      writerId: String = "")

  def toJson(m: Manifest): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(m)

  /** (added entries, removed paths) of `m` against its resolved parent.
    * None if any carried path's entry differs from the parent's —
    * entries are immutable once committed, so this is a defensive
    * invariant check, not an expected path.
    */
  private def stepDiff(m: Manifest, parent: Manifest): Option[(Seq[FileEntry], Seq[String])] = {
    val parentByPath = parent.files.map(f => f.path -> f).toMap
    val added = m.files.filterNot(f => parentByPath.contains(f.path))
    val mPaths = m.files.map(_.path).toSet
    val removed = parent.files.map(_.path).filterNot(mPaths.contains)
    val carriedIntact = m.files.forall(f =>
      parentByPath.get(f.path).forall(_ == f))
    if (!carriedIntact) None else Some((added, removed))
  }

  /** Delta-encode `m` against its parent's resolved state. Returns None
    * (→ caller writes a full checkpoint) when the diff is not cleanly
    * computable.
    */
  def toJsonDelta(m: Manifest, parent: Manifest): Option[String] = {
    if (m.parentVersion != parent.version) return None
    stepDiff(m, parent).map { case (added, removed) =>
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(
        DeltaManifest(m.version, m.parentVersion, m.numBuckets, m.schemas,
          added, removed, m.fences, m.watermarks, m.metrics, m.writerId))
    }
  }

  /** Full-checkpoint JSON annotated with the commit's OWN step diff
    * (`stepAdded` / `stepRemoved`): a change-feed consumer walking a
    * version window reads each commit's file changes straight off the
    * manifest, O(epoch files) per version, instead of resolving every
    * intermediate manifest to its full file list — without this, the
    * one-in-`checkpointEvery` full manifests force an O(table files)
    * chain resolution per checkpoint crossed. Falls back to the plain
    * full form when the diff is not cleanly computable; readers that
    * predate the annotation ignore the extra fields.
    */
  def toJsonCheckpoint(m: Manifest, parent: Option[Manifest]): String = {
    val annotated = parent
      .filter(_.version == m.parentVersion)
      .flatMap(p => stepDiff(m, p))
      .map { case (added, removed) =>
        val node = mapper.valueToTree[com.fasterxml.jackson.databind.node.ObjectNode](m)
        node.set[com.fasterxml.jackson.databind.JsonNode]("stepAdded", mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](added))
        node.set[com.fasterxml.jackson.databind.JsonNode]("stepRemoved", mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](removed))
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
      }
    annotated.getOrElse(toJson(m))
  }

  /** The commit's own step diff — (parentVersion, filesAdded,
    * removedPaths) — read straight from a delta manifest or a
    * step-annotated checkpoint WITHOUT resolving the parent chain. None
    * when the manifest carries no step info (pre-annotation checkpoint,
    * initial commit, defensive full write): the caller must fall back to
    * diffing resolved states.
    */
  def stepChangesOf(s: String): Option[(Long, Seq[FileEntry], Seq[String])] = {
    val node = mapper.readTree(s)
    if (node.has("filesAdded")) {
      val d = mapper.treeToValue(node, classOf[DeltaManifest])
      Some((d.parentVersion, d.filesAdded, d.filesRemoved))
    } else if (node.has("stepAdded")) {
      val added = mapper.treeToValue(node.get("stepAdded"), classOf[Array[FileEntry]]).toSeq
      val removed = mapper.treeToValue(node.get("stepRemoved"), classOf[Array[String]]).toSeq
      Some((node.get("parentVersion").asLong, added, removed))
    } else None
  }

  /** Cheap raw-field reads that must not require chain resolution (the
    * commit protocol's claimant/winner checks read manifests that may be
    * delta-encoded).
    */
  def writerIdOf(s: String): String =
    scala.util.Try(Option(mapper.readTree(s).get("writerId")).map(_.asText).getOrElse(""))
      .getOrElse("")

  /** Some(parentVersion) when `s` is a delta manifest needing its parent
    * to resolve; None for a full checkpoint.
    */
  def parentRefOf(s: String): Option[Long] = {
    val node = mapper.readTree(s)
    if (node.has("filesAdded")) Some(node.get("parentVersion").asLong) else None
  }

  /** Parse either form; delta manifests resolve their file list through
    * `loadParent` (which the caller memoizes — chains are bounded by the
    * checkpoint cadence).
    */
  def resolve(s: String, loadParent: Long => Manifest): Manifest = {
    val node = mapper.readTree(s)
    if (!node.has("filesAdded")) return fromJson(s)
    val d = mapper.readValue(s, classOf[DeltaManifest])
    def longMap(field: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val n = node.get(field)
      if (n == null) Map.empty
      else n.fieldNames().asScala.map(k => k -> n.get(k).asLong()).toMap
    }
    val parent = loadParent(d.parentVersion)
    val removed = d.filesRemoved.toSet
    Manifest(
      version = d.version, parentVersion = d.parentVersion,
      numBuckets = d.numBuckets, schemas = d.schemas,
      files = parent.files.filterNot(f => removed.contains(f.path)) ++ d.filesAdded,
      fences = longMap("fences"), watermarks = longMap("watermarks"),
      metrics = d.metrics,
      writerId = Option(d.writerId).getOrElse(""))
  }

  def fromJson(s: String): Manifest = {
    import scala.jdk.CollectionConverters._
    val m = mapper.readValue(s, classOf[Manifest])
    // Jackson erases Map value generics (values come back as boxed Integer
    // inside Map[String, Long]) — re-read the long-valued maps from the tree.
    val node = mapper.readTree(s)
    def longMap(field: String): Map[String, Long] = {
      val n = node.get(field)
      if (n == null) Map.empty
      else n.fieldNames().asScala.map(k => k -> n.get(k).asLong()).toMap
    }
    // Older manifests lack kind/bucketLo/bucketHi (Jackson zero-fills
    // missing ints): default kind to Base and bucket ranges to the exact
    // bucket for base files / full range for flat deltas.
    val filesNode = node.get("files")
    val patchedFiles = m.files.zipWithIndex.map { case (f0, i) =>
      val f = if (f0.kind == null) f0.copy(kind = FileEntry.Base) else f0
      val hasRange = filesNode != null && filesNode.get(i) != null &&
        filesNode.get(i).has("bucketLo")
      if (hasRange) f
      else if (f.isDelta || f.bucket < 0) f.copy(bucketLo = 0, bucketHi = Int.MaxValue)
      else f.copy(bucketLo = f.bucket, bucketHi = f.bucket)
    }
    m.copy(
      fences = longMap("fences"), watermarks = longMap("watermarks"),
      files = patchedFiles,
      writerId = Option(m.writerId).getOrElse("")) // pre-lease manifests
  }
}
