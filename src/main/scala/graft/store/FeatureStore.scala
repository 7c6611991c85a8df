package graft.store

import graft.model.{DataQualityMetrics, FeatureConfig, FeatureMetadata}
import graft.quality.DataQualityValidator
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}

import java.security.MessageDigest
import scala.collection.concurrent.TrieMap

/** Parquet-backed versioned feature store with the same API surface as the
  * reference `AdvancedFeatureStore` (`ML Feature Store Pipeline.py:228-541`).
  *
  * Storage layout (replaces SQLite):
  *  - `basePath/features/feature_version=<v>/…` — feature rows, partitioned
  *    by version so version reads are pure partition pruning (the working
  *    replacement for the reference's intended-but-broken
  *    `INDEX(feature_version)`, `:277-278`); parquet min/max stats give
  *    row-group skipping on `user_id`.
  *  - `basePath/metadata/manifest-<gen>.json` — the version manifest as a
  *    CAS'd generation chain (the public commit-log idea Delta/Iceberg
  *    use, S4 in SURVEY §2.1): every mutation reads the highest
  *    generation, applies itself, and attempts to publish generation+1
  *    whole with an atomic no-replace link/rename — that step is the
  *    compare-and-swap, so a concurrent writer's commit makes it fail,
  *    and the loser re-reads the NEW state and re-applies its
  *    mutation (no lost update, both commits visible). Readers load the
  *    max generation; superseded generations are garbage-collected a safe
  *    distance behind.
  *
  * Scale posture: feature data only ever moves through distributed
  * scans/writes; only cache slices are ever collected. The TTL cache
  * holds them, like the reference's `InMemoryCache` of query results
  * (`:86-111`), and serving reads the whole-version slice that
  * registration puts there through a per-version `user_id` index — a
  * point lookup runs no Spark job and plans nothing. Versions whose slice
  * is not in the cache (over the cap, expired, evicted) serve through the
  * per-user path: a filtered scan whose single-user slice is cached in
  * turn. The cache is SIZE-GATED: a slice is only collected
  * when its row count (measured on the same scan that materializes it)
  * is at most `cacheMaxRows`; above the cap the slice is cached as a
  * `persist(MEMORY_AND_DISK)` DataFrame under the same TTL discipline
  * (unpersisted on expiry/eviction), so a bare
  * `getFeatures(useCache = true)` of a 100 TB version can never be a
  * driver OOM. The reference contract — TTL expiry, hit/miss
  * monitoring, pluggable backend — survives unchanged: the pluggable
  * backend still sees exactly the collected-slice traffic it did before
  * (an external Redis-style backend cannot hold a distributed
  * DataFrame), and over-cap slices live in a store-internal persist
  * cache whose counters surface as separate dashboard keys.
  */
final class FeatureStore(
    spark: SparkSession,
    basePath: String,
    cacheTtlSeconds: Long = 3600,
    qualityThreshold: Double = 0.8,
    clock: () => String = () => java.time.Instant.now().toString,
    cacheBackend: Option[CacheBackend[String, (StructType, Array[Row])]] = None,
    cacheMaxRows: Long = 1000000L) {

  import FeatureStore.MetadataRow

  val validator = new DataQualityValidator
  val monitor = new FeatureMonitor(qualityThreshold)
  // pluggable backend seam (reference CacheBackend ABC, `:70-84`); the
  // bundled TTL cache is only the default
  private val cache: CacheBackend[String, (StructType, Array[Row])] =
    cacheBackend.getOrElse(
      new TtlCache[String, (StructType, Array[Row])](cacheTtlSeconds))
  // over-cap slices: cached as persisted (executor-memory/disk) DataFrames,
  // never collected — same TTL, unpersist on eviction/expiry/clear
  private val persistCache: TtlCache[String, DataFrame] =
    new TtlCache[String, DataFrame](cacheTtlSeconds,
      onEvict = (df: DataFrame) => { df.unpersist(); () })

  // version → user_id index over that version's cached slice; built on
  // the first serve, rebuilt when the backend hands back another slice
  private val sliceIndexes = TrieMap[String, FeatureStore.SliceIndex]()

  private val featuresPath = s"$basePath/features"
  private val metadataPath = s"$basePath/metadata"
  private val sketchesPath = s"$basePath/sketches"

  /** Register a feature relation: quality scan → content fingerprint →
    * stamped append (partitioned by version) → metadata upsert → monitor +
    * cache hooks. Returns the version hash.
    * (`register_features`, `ML Feature Store Pipeline.py:295-361`.)
    */
  def registerFeatures(df: DataFrame, meta: FeatureMetadata): String = {
    val metrics = validator.validate(df)
    val version = FeatureStore.fingerprint(df)
    val createdAt = clock()

    // Write DIRECTLY into this version's partition directory (standard
    // hive layout, so readers still partition-discover feature_version):
    // re-registering identical content replaces its own partition instead
    // of appending duplicates (divergence from the reference, which would
    // double-insert; documented in SURVEY §7.4), and — unlike a
    // partitionBy write to the table root — CONCURRENT registrations of
    // different versions never share a commit `_temporary` directory, so
    // two writers can land their partitions in parallel. Also immune to
    // the foreachBatch cloned-session conf trap StreamingSpec caught.
    df.withColumn("created_at", lit(createdAt))
      .write.mode("overwrite")
      .parquet(s"$featuresPath/feature_version=$version")

    upsertMetadata(MetadataRow(
      feature_version = version,
      description = meta.description,
      created_at = createdAt,
      features_config = meta.features,
      null_percentage = metrics.nullPercentage,
      duplicate_percentage = metrics.duplicatePercentage,
      outlier_percentage = metrics.outlierPercentage,
      schema_violations = metrics.schemaViolations,
      overall_score = metrics.overallScore,
      lineage = meta.lineage,
      tags = meta.tags))

    monitor.logFeatureCreation(version, metrics)
    val _ = cacheFill(cacheKey(version, Nil), getFeaturesUncached(version, Nil))
    version
  }

  /** Read features by version (latest when None) with optional user-id
    * filter; TTL-cached. (`get_features`, `:363-425`.)
    */
  def getFeatures(
      version: Option[String] = None,
      userIds: Seq[Long] = Nil,
      useCache: Boolean = true): DataFrame = {
    val v = resolveVersion(version)
    val key = cacheKey(v, userIds)
    // over-cap keys live only in the persist cache and never enter the
    // collected-slice backend, so each lookup counts in exactly one of
    // the two caches
    val result =
      if (!useCache) getFeaturesUncached(v, userIds)
      else if (persistCache.contains(key))
        persistCache.get(key)
          .getOrElse(cacheFill(key, getFeaturesUncached(v, userIds)))
      else cache.get(key) match {
        case Some((schema, rows)) =>
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        case None => cacheFill(key, getFeaturesUncached(v, userIds))
      }
    monitor.logFeatureAccess(v)
    result
  }

  private def getFeaturesUncached(version: String, userIds: Seq[Long]): DataFrame = {
    // Partition pruning on version; pushdown / row-group skip on user_id.
    val base = spark.read.parquet(featuresPath)
      .filter(col("feature_version") === version)
    if (userIds.isEmpty) base else base.filter(col("user_id").isin(userIds: _*))
  }

  /** Point lookup for one user, metadata columns dropped, as a column→value
    * map. (`serve_features`, `:427-446`.) When the version's whole slice
    * is in the cache (registration puts it there), the answer is a binary
    * search of its `user_id` index — no Spark job, no plan; an id the
    * index lacks serves None. Otherwise the per-user path scans for this
    * user. With several rows per user the first in scan order wins, on
    * both paths.
    */
  def serveFeatures(userId: Long, version: Option[String] = None): Option[Map[String, Any]] = {
    val v = resolveVersion(version)
    val fromSlice = cache.get(cacheKey(v, Nil)).flatMap { case (schema, rows) =>
      sliceIndex(v, schema, rows).map(_.lookup(rows, userId))
    }
    fromSlice match {
      case Some(served) =>
        monitor.logFeatureAccess(v)
        served
      case None =>
        val df = getFeatures(Some(v), Seq(userId))
          .drop(FeatureStore.MetaColumns: _*)
        df.limit(1).collect().headOption
          .map(r => r.getValuesMap[Any](r.schema.fieldNames.toIndexedSeq))
    }
  }

  /** The memoized index of a version's cached slice, built on first use;
    * None when the slice has no integral `user_id` column to index.
    */
  private def sliceIndex(version: String, schema: StructType,
      rows: Array[Row]): Option[FeatureStore.SliceIndex] =
    sliceIndexes.get(version).filter(_.builtFrom(rows))
      .orElse(FeatureStore.SliceIndex.build(schema, rows).map { ix =>
        sliceIndexes.put(version, ix); ix
      })

  /** (`get_feature_metadata`, `:456-479`.) */
  def getFeatureMetadata(version: String): Option[FeatureMetadata] =
    readMetadata().find(_.feature_version == version).map(_.toMetadata)

  /** Time-travel resolution — the newest version whose `created_at` is at
    * or before the given ISO-8601 instant (lakehouse `AS OF` semantics;
    * ISO instants compare lexicographically ≡ chronologically, and the
    * store's injectable clock stamps them). Ties on created_at break to
    * the larger version id, matching [[listFeatureVersions]]'s newest-
    * first order. None when the store has no version that old.
    */
  def versionAsOf(timestamp: String): Option[String] =
    readMetadata().filter(_.created_at <= timestamp)
      .sortBy(r => (r.created_at, r.feature_version))
      .lastOption.map(_.feature_version)

  /** `AS OF` read: [[getFeatures]] against [[versionAsOf]] — what "the
    * training set as the serving stack saw it last Tuesday" resolves
    * through. Throws if no version existed at the instant.
    */
  def getFeaturesAsOf(timestamp: String, userIds: Seq[Long] = Nil,
      useCache: Boolean = true): DataFrame =
    getFeatures(Some(versionAsOf(timestamp).getOrElse(
      throw new NoSuchElementException(
        s"no feature version at or before $timestamp"))),
      userIds, useCache)

  /** Versions newest-first. (`list_feature_versions`, `:481-501`.) */
  def listFeatureVersions(): Seq[FeatureMetadata] =
    readMetadata().sortBy(r => (r.created_at, r.feature_version))(Ordering.Tuple2(
      Ordering.String.reverse, Ordering.String.reverse)).map(_.toMetadata)

  /** Keep the newest `keepN` versions, drop the rest (partition-dir deletes +
    * metadata rewrite + cache invalidation). Returns deleted versions.
    * (`cleanup_old_versions`, `:503-532`.)
    */
  def cleanupOldVersions(keepN: Int = 5): Seq[String] = {
    val all = listFeatureVersions().map(_.featureVersion)
    val doomed = all.drop(keepN)
    if (doomed.nonEmpty) {
      val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      doomed.foreach { v =>
        fs.delete(new Path(s"$featuresPath/feature_version=$v"), true)
      }
      // CAS commit: the mutation re-applies against whatever state wins
      // the race, so a concurrent register's row survives this cleanup
      val doomedSet = doomed.toSet
      commitMetadata(rows =>
        rows.filterNot(r => doomedSet.contains(r.feature_version)))
      clearCaches()
    }
    doomed
  }

  def monitoringDashboard: Map[String, Any] =
    monitor.dashboard ++ Map(
      "cache_hits" -> cache.hits, "cache_misses" -> cache.misses,
      "persist_cache_hits" -> persistCache.hits,
      "persist_cache_misses" -> persistCache.misses)

  /** Persist per-ingest-batch quantile-knot sketches
    * ([[graft.ops.Sketches.quantileSketchBuild]]) for the given numeric
    * columns beside the feature data — the persist-per-batch shape of the
    * whole sketch suite made part of the store lifecycle: each
    * registration scans its OWN rows once and writes ≤ knots rows per
    * column under `basePath/sketches/feature_version=<v>/`; every later
    * quantile consumer ([[sketchQuantiles]], and through it PSI decile
    * edges, bucket bins, winsor fences) answers from the merged knot
    * relation without ever rescanning feature history. Re-registering a
    * version overwrites only its own sketch partition (same dynamic-
    * overwrite discipline as the feature write). Batch ids are assigned
    * once per version and reused on rewrite, so the knot relation stays
    * a valid multi-batch sketch.
    */
  def writeBatchSketches(df: DataFrame, version: String,
      valueCols: Seq[String], knots: Int = 64): Unit = {
    require(valueCols.nonEmpty, "writeBatchSketches needs >= 1 value column")
    val existing = readSketchBatchIds()
    val batchId = existing.getOrElse(version,
      if (existing.isEmpty) 0L else existing.values.max + 1L)
    valueCols.map { c =>
        graft.ops.Sketches
          .quantileSketchBuild(df, col(c), lit(batchId), knots)
          .withColumn("column", lit(c))
      }
      .reduce(_ unionByName _)
      .withColumn("feature_version", lit(version))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("feature_version")
      .parquet(sketchesPath)
  }

  /** Quantile answers for every sketched column from the MERGED persisted
    * knot relation ([[graft.ops.Sketches.quantileSketchQuantiles]] —
    * merge IS relation union, so this reads only the sketch files:
    * batches × columns × knots rows, never the feature data). Returns
    * (column, q, n_total, target_rank, est_value); each value carries the
    * sketch's ε = 1/knots rank guarantee over the full registered
    * history.
    */
  def sketchQuantiles(percents: Seq[Int], columns: Seq[String] = Nil)
      : DataFrame = {
    val fs = new Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(sketchesPath)),
      s"no persisted sketches under $sketchesPath — writeBatchSketches first")
    val sk = spark.read.parquet(sketchesPath)
    val cols =
      if (columns.nonEmpty) columns
      else sk.select("column").distinct().collect()
        .map(_.getString(0)).sorted.toSeq
    cols.map { c =>
        graft.ops.Sketches.quantileSketchQuantiles(
            sk.filter(col("column") === c).select("batch", "v", "cum"),
            percents)
          .withColumn("column", lit(c))
      }
      .reduce(_ unionByName _)
      .select("column", "q", "n_total", "target_rank", "est_value")
  }

  /** Right-to-be-forgotten erasure (the GDPR Art. 17 deletion path a
    * feature store needs operationally, beyond [[cleanupOldVersions]]'
    * whole-version retention): remove EVERY row of `userId` from every
    * stored version, preserving version partitions, ids and metadata
    * (version hashes are registration-time identifiers of what was
    * ingested, not content digests of the erased state — rewriting them
    * would corrupt lineage and AS-OF reads). Only partitions that
    * actually contain the user rewrite (dynamic partition overwrite); a
    * version left EMPTY by the erasure has its partition directory
    * deleted outright (dynamic overwrite cannot replace a partition
    * with zero output rows — it would silently keep the old files). The
    * serve cache is cleared, so no erased row survives in a cached
    * slice. Returns the audit the request needs: (feature_version,
    * n_erased), one row per touched version.
    */
  def eraseUser(userId: Long): Seq[(String, Long)] = {
    val feats = spark.read.parquet(featuresPath)
    val audit = feats.filter(col("user_id") === userId)
      .groupBy("feature_version").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    if (audit.nonEmpty) {
      val touched = audit.map(_._1)
      // materialize BEFORE the overwrite — the rewrite reads the same
      // path it replaces (touched-version-bounded; a production store
      // would stage to a sibling dir and swap, same cost class)
      val remaining = feats
        .filter(col("feature_version").isInCollection(touched))
        .filter(!(col("user_id") <=> userId))
        .localCheckpoint()
      val stillThere = remaining.select("feature_version").distinct()
        .collect().map(_.getString(0)).toSet
      if (stillThere.nonEmpty)
        remaining.filter(col("feature_version").isInCollection(stillThere))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("feature_version")
          .parquet(featuresPath)
      val fs = new Path(basePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (touched.toSet -- stillThere).foreach { v =>
        fs.delete(new Path(s"$featuresPath/feature_version=$v"), true)
      }
      clearCaches()
    }
    audit
  }

  /** PSI drift of `current`'s `column` against the ENTIRE registered
    * history, answered purely from the persisted knots
    * ([[graft.ops.Drift.psiAgainstSketch]]): decile edges AND baseline
    * bucket masses both come from the sketch relation — zero feature-
    * history reads per evaluation, the drift-on-ingest shape.
    */
  def sketchDrift(current: DataFrame, column: String, buckets: Int = 10)
      : DataFrame = {
    val fs = new Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(sketchesPath)),
      s"no persisted sketches under $sketchesPath — writeBatchSketches first")
    val sk = spark.read.parquet(sketchesPath)
      .filter(col("column") === column).select("batch", "v", "cum")
    graft.ops.Drift.psiAgainstSketch(sk, current, column, buckets)
  }

  private def readSketchBatchIds(): Map[String, Long] = {
    val fs = new Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(sketchesPath))) Map.empty
    else spark.read.parquet(sketchesPath)
      .select("feature_version", "batch").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  // ---- internals -----------------------------------------------------------

  private def resolveVersion(version: Option[String]): String =
    version.getOrElse(latestVersion()
      .getOrElse(throw new NoSuchElementException("no feature versions registered")))

  private def clearCaches(): Unit = {
    cache.clear()
    persistCache.clear()
    sliceIndexes.clear()
  }

  private def cacheKey(version: String, userIds: Seq[Long]): String =
    s"features_${version}_${userIds.sorted.mkString("_")}"

  /** Size-gated fill: one persisted source scan measures the slice; at or
    * under `cacheMaxRows` it collects into the pluggable backend exactly
    * as before (the collect reads the already-materialized blocks, not
    * the source), above it the persisted DataFrame ITSELF is the cache
    * entry — zero driver collect on the over-cap path, ever. Returns the
    * DataFrame to serve for this call. A persisted entry the fill
    * replaces is released first: Spark caches by plan, and the new scan's
    * plan equals the old one's, so persisting it while the old entry
    * lives would reuse the old entry's (stale) blocks.
    */
  private def cacheFill(key: String, df: DataFrame): DataFrame = {
    persistCache.delete(key)
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = p.count()
    if (n <= cacheMaxRows) {
      val slice = (p.schema, p.collect())
      cache.put(key, slice)
      p.unpersist()
      spark.createDataFrame(java.util.Arrays.asList(slice._2: _*), slice._1)
    } else {
      persistCache.put(key, p)
      p
    }
  }

  private def latestVersion(): Option[String] =
    listFeatureVersions().headOption.map(_.featureVersion)

  private def hadoopFs() =
    new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(gen: Long): Path =
    new Path(metadataPath, f"manifest-$gen%012d.json")

  /** Highest manifest generation present, or -1 for an empty store. */
  private def latestGen(fs: org.apache.hadoop.fs.FileSystem): Long = {
    val dir = new Path(metadataPath)
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("manifest-") && n.endsWith(".json"))
      .map(n => n.stripPrefix("manifest-").stripSuffix(".json").toLong)
      .foldLeft(-1L)(math.max)
  }

  /** Commit marker: the final line of a COMPLETE manifest. Generation
    * files are published whole (see [[publishGeneration]]), so one
    * without it was left by a crashed writer of an older store version
    * that created the file before writing it: readers walk past it to
    * the newest complete one, and committers skip OVER it (the crashed
    * claim burns one generation number, never the chain).
    */
  private val CommitMark = "#commit"

  /** The compare-and-swap: write `payload` to a private staging file,
    * then publish it as `path` with an atomic no-replace step, so a
    * generation file only ever appears complete — a concurrent committer
    * can never see a half-written generation and commit past it on a
    * stale base. The `file:` scheme links the staging file into place
    * (POSIX link(2) fails on an existing name; the Hadoop local
    * filesystem's rename would silently replace it); everything else
    * renames (HDFS: an atomic namenode op that refuses an existing
    * destination). An object store would plug a conditional PUT here.
    * Returns false when the generation was already taken.
    */
  private def publishGeneration(fs: org.apache.hadoop.fs.FileSystem,
      path: Path, payload: Array[Byte]): Boolean = {
    val staging = new Path(path.getParent,
      s".staging-${java.util.UUID.randomUUID()}.tmp")
    try {
      if (fs.getScheme == "file") {
        val target = java.nio.file.Paths.get(path.toUri.getPath)
        val staged = java.nio.file.Paths.get(staging.toUri.getPath)
        java.nio.file.Files.write(staged, payload)
        try { java.nio.file.Files.createLink(target, staged); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        val out = fs.create(staging, false)
        try out.write(payload) finally out.close()
        fs.rename(staging, path)
      }
    } finally {
      val _ = fs.delete(staging, false)
    }
  }

  /** Rows of the newest COMPLETE manifest at or below `gen` (skipping
    * in-flight/crashed claims), or Nil for an empty chain.
    */
  private def readCommitted(fs: org.apache.hadoop.fs.FileSystem,
      gen: Long): Seq[MetadataRow] = {
    import spark.implicits._
    var g = gen
    while (g >= 0) {
      val p = manifestPath(g)
      if (fs.exists(p)) {
        val in = fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        val lines = text.split('\n').toIndexedSeq.filter(_.nonEmpty)
        if (lines.lastOption.contains(CommitMark)) {
          val rows = lines.dropRight(1)
          return if (rows.isEmpty) Nil
          else spark.read
            .schema(implicitly[org.apache.spark.sql.Encoder[MetadataRow]]
              .schema)
            .json(rows.toDS()).as[MetadataRow].collect().toSeq
        }
      }
      g -= 1
    }
    Nil
  }

  private def readMetadata(): Seq[MetadataRow] = {
    val fs = hadoopFs()
    readCommitted(fs, latestGen(fs))
  }

  /** Optimistic CAS commit: read the newest complete manifest, apply
    * `mutate`, publish the next generation (JSON lines via the
    * Spark encoder, so nested configs/lineage round-trip exactly, sealed
    * by the commit marker). Losing the race means the winner's state is
    * re-read and the mutation re-applied — the standard commit-log
    * retry, so no update is ever lost. Superseded generations GC a safe
    * distance (8) behind the head: a racing reader reads at-or-below the
    * head, which GC never approaches.
    */
  private def commitMetadata(
      mutate: Seq[MetadataRow] => Seq[MetadataRow]): Unit = {
    import spark.implicits._
    val fs = hadoopFs()
    fs.mkdirs(new Path(metadataPath))
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 64, "metadata CAS: 64 straight lost races")
      val gen = latestGen(fs)
      val next = mutate(readCommitted(fs, gen))
      val payload = (next.toDS().toJSON.collect() :+ CommitMark)
        .mkString("\n").getBytes("UTF-8")
      if (publishGeneration(fs, manifestPath(gen + 1), payload)) {
        done = true
        val gc = gen - 8
        if (gc >= 0) fs.delete(manifestPath(gc), false)
      }
    }
  }

  private def upsertMetadata(row: MetadataRow): Unit =
    commitMetadata(rows =>
      rows.filterNot(_.feature_version == row.feature_version) :+ row)
}

object FeatureStore {

  /** Store-stamped columns that serving drops from a feature row. */
  private val MetaColumns = Seq("feature_version", "created_at")

  /** `user_id` → row position over one collected version slice: the
    * distinct ids sorted (8 B each) beside the position of each id's
    * first row in slice order (4 B each). It refers to its slice weakly,
    * only to tell whether a later cache read returned the same instance.
    */
  private final class SliceIndex(slice: Array[Row], ids: Array[Long],
      firstRow: Array[Int], names: Array[String], served: Array[Int]) {
    private val builtFor = new java.lang.ref.WeakReference(slice)

    def builtFrom(rows: Array[Row]): Boolean = builtFor.get eq rows

    def lookup(rows: Array[Row], userId: Long): Option[Map[String, Any]] = {
      val j = java.util.Arrays.binarySearch(ids, userId)
      if (j < 0) None
      else {
        val row = rows(firstRow(j))
        Some(served.iterator.map(i => names(i) -> row.get(i)).toMap)
      }
    }
  }

  private object SliceIndex {
    def build(schema: StructType, rows: Array[Row]): Option[SliceIndex] =
      Some(schema.fieldNames.indexOf("user_id")).filter(_ >= 0)
        .filter(u => schema(u).dataType match {
          case LongType | IntegerType | ShortType | ByteType => true
          case _ => false
        })
        .map { u =>
          val keyed = rows.indices.filterNot(rows(_).isNullAt(u)).toArray
          def id(i: Int) = rows(i).getAs[Number](u).longValue
          val sorted = keyed.map(id)
          java.util.Arrays.sort(sorted)
          val ids = sorted.indices
            .filter(i => i == 0 || sorted(i) != sorted(i - 1)).map(sorted).toArray
          val firstRow = Array.fill(ids.length)(-1)
          keyed.foreach { i =>
            val j = java.util.Arrays.binarySearch(ids, id(i))
            if (firstRow(j) < 0) firstRow(j) = i
          }
          val names = schema.fieldNames
          new SliceIndex(rows, ids, firstRow, names,
            names.indices.filterNot(i => MetaColumns.contains(names(i))).toArray)
        }
  }

  /** Metadata table row (reference DDL `:282-292`); nested values are native
    * Spark types rather than JSON strings.
    */
  final case class MetadataRow(
      feature_version: String,
      description: String,
      created_at: String,
      features_config: Seq[FeatureConfig],
      null_percentage: Double,
      duplicate_percentage: Double,
      outlier_percentage: Double,
      schema_violations: Long,
      overall_score: Double,
      lineage: Map[String, String],
      tags: Seq[String]) {
    def toMetadata: FeatureMetadata = FeatureMetadata(
      feature_version, description, created_at, features_config,
      Some(DataQualityMetrics(null_percentage, duplicate_percentage,
        outlier_percentage, schema_violations, overall_score)),
      lineage, tags)
  }

  /** Whole-relation content fingerprint (reference `_generate_version_hash`,
    * `:307-309`, which md5s *order-dependent* per-row hashes). We make the
    * digest order- AND partitioning-independent — sum, xor and count of
    * per-row `xxhash64` over all columns — then md5 the three numbers.
    * Intentional divergence documented in SURVEY §7.4: pandas row order is
    * itself nondeterministic under parallel execution, so order-dependence
    * is a bug to not replicate. One distributed agg pass, no collect.
    */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(struct(df.columns.sorted.map(col).toIndexedSeq: _*))
    // Long sum of 2^63-scale hashes overflows (ANSI mode throws); sum in
    // DECIMAL(38,0) — exact and overflow-free below ~10^19 rows.
    val r = df.select(h.as("h"))
      .agg(sum(col("h").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"),
        expr("bit_xor(h)").as("x"), count(lit(1)).as("c"))
      .head()
    val payload = s"${r.get(0)}:${r.get(1)}:${r.get(2)}"
    MessageDigest.getInstance("MD5").digest(payload.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }
}
