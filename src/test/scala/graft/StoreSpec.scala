package graft

import graft.model.{FeatureConfig, FeatureMetadata}
import graft.store.{FeatureStore, TtlCache}
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

class StoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore() = {
    val dir = Files.createTempDirectory("graft-store").toString
    var i = 0
    new FeatureStore(spark, dir, clock = () => { i += 1; f"2024-01-01T00:00:$i%02dZ" })
  }

  private def feats(rows: (Long, Double)*) =
    rows.toSeq.toDF("user_id", "total_amount")

  private val meta = FeatureMetadata("", "test features", "",
    Seq(FeatureConfig("user_id", "int64"), FeatureConfig("total_amount", "float64")),
    lineage = Map("source" -> "unit-test"), tags = Seq("test"))

  test("register → get → serve round-trip") {
    val store = freshStore()
    val v = store.registerFeatures(feats(1L -> 10.0, 2L -> 20.0), meta)
    assert(v.nonEmpty)

    val got = store.getFeatures(Some(v), useCache = false)
    assert(got.count() == 2)
    assert(got.columns.contains("feature_version"))

    val served = store.serveFeatures(2L, Some(v))
    assert(served.isDefined)
    assert(served.get("total_amount") == 20.0)
    assert(!served.get.contains("feature_version"))
    assert(store.serveFeatures(99L, Some(v)).isEmpty)
  }

  test("fingerprint is content-based: same data → same version, independent of partitioning") {
    val store = freshStore()
    val df = feats(1L -> 1.0, 2L -> 2.0, 3L -> 3.0)
    val v1 = FeatureStore.fingerprint(df.repartition(1))
    val v2 = FeatureStore.fingerprint(df.repartition(7))
    val v3 = FeatureStore.fingerprint(feats(1L -> 1.0, 2L -> 2.0, 3L -> 99.0))
    assert(v1 == v2)
    assert(v1 != v3)
    assert(store.registerFeatures(df, meta) == v1)
  }

  test("latest-version resolution and list ordering") {
    val store = freshStore()
    val vOld = store.registerFeatures(feats(1L -> 1.0), meta)
    val vNew = store.registerFeatures(feats(1L -> 2.0), meta)
    assert(store.listFeatureVersions().map(_.featureVersion) == Seq(vNew, vOld))
    assert(store.getFeatures().select("feature_version").head().getString(0) == vNew)
  }

  test("metadata round-trips configs, metrics, lineage and tags") {
    val store = freshStore()
    val v = store.registerFeatures(feats(1L -> 1.0, 1L -> 1.0), meta)
    val m = store.getFeatureMetadata(v).get
    assert(m.description == "test features")
    assert(m.features.map(_.name) == Seq("user_id", "total_amount"))
    assert(m.lineage("source") == "unit-test")
    assert(m.tags == Seq("test"))
    assert(m.dataQualityMetrics.get.duplicatePercentage == 0.5)
    assert(store.getFeatureMetadata("nope").isEmpty)
  }

  test("cleanup keeps exactly the newest N versions") {
    val store = freshStore()
    val vs = (1 to 5).map(i => store.registerFeatures(feats(1L -> i.toDouble), meta))
    val deleted = store.cleanupOldVersions(keepN = 2)
    assert(deleted.toSet == vs.take(3).toSet)
    assert(store.listFeatureVersions().map(_.featureVersion) == vs.drop(3).reverse)
    // deleted partitions are gone from the feature table too
    assert(store.getFeatures(Some(vs.last)).count() == 1)
    assert(store.getFeatures(Some(vs.head)).count() == 0)
  }

  test("low-quality registration raises a monitor alert") {
    val store = freshStore()
    // all-duplicate rows → dup% = 2/3 → score ≈ 0.33 < 0.8
    store.registerFeatures(feats(1L -> 1.0, 1L -> 1.0, 1L -> 1.0), meta)
    val dash = store.monitoringDashboard
    assert(dash("total_creations") == 1L)
    assert(dash("alerts").asInstanceOf[List[String]].nonEmpty)
  }

  test("TTL cache: hit before expiry, miss after") {
    var now = 0L
    val c = new TtlCache[String, Int](ttlSeconds = 10, clock = () => now)
    c.put("k", 42)
    assert(c.get("k").contains(42))
    now = 9999L
    assert(c.get("k").contains(42))
    now = 10001L
    assert(c.get("k").isEmpty)
    assert(c.hits == 2 && c.misses == 1)
  }

  test("get_features caching is observable via dashboard counters") {
    val store = freshStore()
    val v = store.registerFeatures(feats(1L -> 1.0), meta)
    store.getFeatures(Some(v)) // cache was pre-filled at register
    val hits = store.monitoringDashboard("cache_hits").asInstanceOf[Long]
    assert(hits >= 1L)
  }

  test("store runs against a swapped-in CacheBackend (pluggable seam)") {
    import graft.store.CacheBackend
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    // plain-map backend: no TTL, counts traffic — stands in for an
    // external cache adapter (the reference's "Redis, Memcached, etc.")
    class MapBackend extends CacheBackend[String, (StructType, Array[Row])] {
      val m = scala.collection.mutable.Map[String, (StructType, Array[Row])]()
      var h = 0L; var ms = 0L; var cleared = 0
      def get(key: String) = m.get(key) match {
        case some @ Some(_) => h += 1; some
        case None => ms += 1; None
      }
      def put(key: String, value: (StructType, Array[Row])): Unit = m(key) = value
      def delete(key: String): Unit = m.remove(key)
      def clear(): Unit = { cleared += 1; m.clear() }
      def hits: Long = h
      def misses: Long = ms
    }
    val backend = new MapBackend
    val dir = Files.createTempDirectory("graft-store").toString
    val store = new FeatureStore(spark, dir, cacheBackend = Some(backend))
    val v = store.registerFeatures(feats(1L -> 1.0, 2L -> 2.0), meta)
    assert(backend.m.nonEmpty) // register pre-fills through the trait
    assert(store.getFeatures(Some(v)).count() == 2) // served via backend
    assert(backend.hits >= 1L)
    assert(store.monitoringDashboard("cache_hits") == backend.hits)
    store.cleanupOldVersions(keepN = 0)
    assert(backend.cleared == 1 && backend.m.isEmpty) // invalidation routed
  }

  test("size-gated cache: an over-cap version serves correctly with zero " +
      "driver collect; under-cap slices still collect through the backend") {
    import graft.store.CacheBackend
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    // collect-counting backend: every put IS a driver collect of a slice,
    // so puts == 0 proves the over-cap path never collected
    class CountingBackend extends CacheBackend[String, (StructType, Array[Row])] {
      val m = scala.collection.mutable.Map[String, (StructType, Array[Row])]()
      var h = 0L; var ms = 0L; var puts = 0
      def get(key: String) = m.get(key) match {
        case some @ Some(_) => h += 1; some
        case None => ms += 1; None
      }
      def put(key: String, value: (StructType, Array[Row])): Unit = {
        puts += 1; m(key) = value
      }
      def delete(key: String): Unit = m.remove(key)
      def clear(): Unit = m.clear()
      def hits: Long = h
      def misses: Long = ms
    }
    val backend = new CountingBackend
    val dir = Files.createTempDirectory("graft-store").toString
    val store = new FeatureStore(spark, dir, cacheBackend = Some(backend),
      cacheMaxRows = 4)
    val v = store.registerFeatures(
      feats((1 to 10).map(i => i.toLong -> i.toDouble): _*), meta)
    assert(backend.puts == 0) // 10 rows > cap 4: never collected
    val got = store.getFeatures(Some(v)) // serves from the persist cache
    assert(got.count() == 10)
    assert(got.storageLevel.useMemory || got.storageLevel.useDisk)
    assert(store.monitoringDashboard("persist_cache_hits")
      .asInstanceOf[Long] >= 1L)
    // an under-cap slice (single-user serve) still collects via the seam
    assert(store.serveFeatures(3L, Some(v)).get("total_amount") == 3.0)
    assert(backend.puts == 1)
    // invalidation unpersists the over-cap entry (onEvict routed)
    store.cleanupOldVersions(keepN = 0)
    assert(got.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("online/offline consistency: serveFeatures agrees with the " +
      "point-in-time training matrix over the store's AS-OF resolution, " +
      "for every sampled key — including a key absent from the served " +
      "version") {
    import graft.ops.PointInTime
    import org.apache.spark.sql.functions.{col, lit}
    val store = freshStore()
    val v1 = store.registerFeatures(
      feats(1L -> 10.0, 2L -> 20.0, 3L -> 30.0), meta)
    store.registerFeatures(feats(1L -> 11.0, 2L -> 21.0), meta)
    val created = store.listFeatureVersions()
      .map(m => m.featureVersion -> m.createdAt).toMap
    // the OFFLINE side: the as-of fold over the store's AS-OF-resolved
    // version (version-ATOMIC serving — row-level as-of over raw version
    // history would resurrect user 3's v1 row after v2 dropped the user)
    def matrixAt(ts: String): Map[Long, Option[Any]] = {
      val grp = store.getFeaturesAsOf(ts, useCache = false)
        .select(col("user_id"), col("created_at").as("f_ts"),
          col("total_amount").as("pit_amount"))
      val labels = Seq(1L, 2L, 3L).toDF("user_id")
        .withColumn("ts", lit(ts))
      PointInTime.trainingMatrix(labels, "user_id", "ts",
          Seq(PointInTime.FeatureGroup(grp, "user_id", "f_ts",
            Seq("pit_amount"))))
        .collect()
        .map(r => r.getAs[Long]("user_id") ->
          Option(r.getAs[Any]("pit_amount"))).toMap
    }
    // ONLINE at now (latest version): user 3 must be absent on BOTH sides
    val mNow = matrixAt("2024-01-01T00:00:59Z")
    Seq(1L, 2L, 3L).foreach { u =>
      val served = store.serveFeatures(u).map(_("total_amount"))
      assert(mNow(u) == served, s"user $u: matrix ${mNow(u)} vs $served")
    }
    assert(mNow(3L).isEmpty)
    // at v1's instant both sides read the v1 values (incl. user 3 = 30.0)
    val t1 = created(v1)
    val m1 = matrixAt(t1)
    Seq(1L, 2L, 3L).foreach { u =>
      val served = store.serveFeatures(u, store.versionAsOf(t1))
        .map(_("total_amount"))
      assert(m1(u) == served, s"user $u @v1: matrix ${m1(u)} vs $served")
    }
    assert(m1(3L).contains(30.0))
  }

  test("AS OF time travel: resolution picks the newest version at or " +
      "before the instant; reads serve that version's rows") {
    val store = freshStore() // clock stamps :01, :02, :03 …
    val v1 = store.registerFeatures(feats(1L -> 10.0), meta)
    val v2 = store.registerFeatures(feats(1L -> 20.0), meta)
    val created = store.listFeatureVersions()
      .map(m => m.featureVersion -> m.createdAt).toMap
    // before any version existed
    assert(store.versionAsOf("2023-12-31T23:59:59Z").isEmpty)
    intercept[NoSuchElementException] {
      store.getFeaturesAsOf("2023-12-31T23:59:59Z")
    }
    // exactly at v1's stamp → v1; between the stamps → still v1
    assert(store.versionAsOf(created(v1)).contains(v1))
    assert(store.versionAsOf(created(v1) + ".500").contains(v1))
    // at/after v2 → v2, far future → v2
    assert(store.versionAsOf(created(v2)).contains(v2))
    assert(store.versionAsOf("2030-01-01T00:00:00Z").contains(v2))
    val asOf = store.getFeaturesAsOf(created(v1), useCache = false)
      .select("user_id", "total_amount").collect()(0)
    assert(asOf.getAs[Double]("total_amount") == 10.0)
  }

  test("per-batch sketch persistence: merged knots answer the same " +
      "quantiles as a direct multi-batch build; rewrite is idempotent") {
    import graft.ops.Sketches
    import org.apache.spark.sql.functions.{col, lit}
    val store = freshStore()
    val b1 = feats((1L to 40L).map(i => i -> i.toDouble): _*)
    val b2 = feats((1L to 40L).map(i => i -> (i + 100).toDouble): _*)
    val v1 = store.registerFeatures(b1, meta)
    store.writeBatchSketches(b1, v1, Seq("total_amount"), knots = 8)
    val v2 = store.registerFeatures(b2, meta)
    store.writeBatchSketches(b2, v2, Seq("total_amount"), knots = 8)
    val pcts = Seq(25, 50, 75, 90)
    val fromStore = store.sketchQuantiles(pcts)
      .orderBy("column", "q").collect()
      .map(r => (r.getAs[String]("column"), r.getAs[Long]("q"),
        r.getAs[Long]("n_total"), r.getAs[java.math.BigDecimal]("est_value")))
    // direct build over the concatenation with the SAME batch keys —
    // merge really is relation union
    val all = b1.withColumn("__b", lit(0L))
      .unionByName(b2.withColumn("__b", lit(1L)))
    val direct = Sketches.quantileSketchQuantiles(
        Sketches.quantileSketchBuild(all, col("total_amount"), col("__b"), 8),
        pcts)
      .orderBy("q").collect()
      .map(r => ("total_amount", r.getAs[Long]("q"),
        r.getAs[Long]("n_total"), r.getAs[java.math.BigDecimal]("est_value")))
    assert(fromStore.toSeq == direct.toSeq)
    assert(fromStore.forall(_._3 == 80L))
    // rewriting one version's sketch only touches its partition and
    // reuses its batch id — the merged answers are unchanged
    store.writeBatchSketches(b2, v2, Seq("total_amount"), knots = 8)
    val again = store.sketchQuantiles(pcts)
      .orderBy("column", "q").collect()
      .map(r => (r.getAs[String]("column"), r.getAs[Long]("q"),
        r.getAs[Long]("n_total"), r.getAs[java.math.BigDecimal]("est_value")))
    assert(again.toSeq == fromStore.toSeq)
    // unsketched store fails loudly, not silently empty
    intercept[IllegalArgumentException] {
      freshStore().sketchQuantiles(Seq(50))
    }
    // drift-on-ingest: PSI of a shifted batch against history, baseline
    // side answered purely from the persisted knots — masses sum to the
    // full 80-row history, identical batch reads PSI ≈ 0
    val drift = store.sketchDrift(
      feats((1L to 40L).map(i => i -> (i + 300).toDouble): _*),
      "total_amount", buckets = 10).collect()
    assert(drift.map(_.getAs[Long]("n_base")).sum == 80L)
    assert(drift.map(_.getAs[Double]("contribution")).sum > 1.0) // shifted
    val same = store.sketchDrift(b1.unionByName(b2), "total_amount",
      buckets = 10).collect()
    assert(math.abs(same.map(_.getAs[Double]("contribution")).sum) < 0.05)
  }

  test("eraseUser: the user vanishes from every version, other rows and " +
      "version ids survive, a fully-erased version's partition is " +
      "removed, cached slices are dropped") {
    val store = freshStore()
    val v1 = store.registerFeatures(
      feats(1L -> 10.0, 2L -> 20.0, 3L -> 30.0), meta)
    val v2 = store.registerFeatures(feats(1L -> 11.0, 2L -> 21.0), meta)
    val vOnly = store.registerFeatures(feats(2L -> 99.0), meta)
    // user 2 is in a cached slice before erasure
    assert(store.serveFeatures(2L, Some(v1)).isDefined)
    val audit = store.eraseUser(2L)
    assert(audit.toMap == Map(v1 -> 1L, v2 -> 1L, vOnly -> 1L))
    // gone everywhere, including the cache-backed serve path
    Seq(v1, v2, vOnly).foreach { v =>
      assert(store.serveFeatures(2L, Some(v)).isEmpty, v)
    }
    // collateral rows intact, version identifiers unchanged
    assert(store.getFeatures(Some(v1), useCache = false)
      .select("user_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
    assert(store.getFeatures(Some(v2), useCache = false).count() == 1)
    // the version that held ONLY user 2 is now an empty read, not stale
    assert(store.getFeatures(Some(vOnly), useCache = false).count() == 0)
    // metadata/lineage untouched — still three registered versions
    assert(store.listFeatureVersions().size == 3)
    // erasing an absent user is a no-op with an empty audit
    assert(store.eraseUser(777L).isEmpty)
  }

  test("optimistic concurrency: racing writers on one store path never " +
      "lose a commit — every version lands in metadata AND on disk") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft-store-cas").toString
    // two INDEPENDENT store instances on the same path (two writers),
    // eight registrations interleaved across them — each CAS loser must
    // re-read the winner's manifest and re-apply
    def mkStore(off: Int) = {
      var i = 0
      new FeatureStore(spark, dir,
        clock = () => { i += 1; f"2024-01-01T0$off:00:$i%02dZ" })
    }
    val stores = Seq(mkStore(0), mkStore(1))
    val futures = (0 until 8).map { k =>
      Future(stores(k % 2)
        .registerFeatures(feats(k.toLong -> (k * 10.0 + 1)), meta))
    }
    val versions = Await.result(Future.sequence(futures), 120.seconds)
    assert(versions.distinct.size == 8)
    val listed = stores.head.listFeatureVersions().map(_.featureVersion)
    assert(listed.toSet == versions.toSet,
      s"lost commits: ${versions.toSet -- listed.toSet}")
    // every partition readable with its rows intact
    versions.zipWithIndex.foreach { case (v, k) =>
      val got = stores(1).getFeatures(Some(v), useCache = false)
      assert(got.count() == 1, s"version $v")
    }
    // composes with cleanup: keep 3, the doomed 5 vanish from disk and
    // manifest, survivors stay readable
    val doomed = stores.head.cleanupOldVersions(keepN = 3)
    assert(doomed.size == 5)
    val after = stores(1).listFeatureVersions().map(_.featureVersion)
    assert(after.size == 3 && after.forall(versions.contains))
    after.foreach(v => assert(
      stores.head.getFeatures(Some(v), useCache = false).count() == 1))
    // composes with erasure: erase one surviving user, others untouched
    val sample = after.head
    val uid = stores.head.getFeatures(Some(sample), useCache = false)
      .select("user_id").head().getLong(0)
    val audit = stores.head.eraseUser(uid)
    assert(audit.map(_._1).contains(sample))
    assert(stores(1).listFeatureVersions().size == 3)
  }

  /** Runs `body` and counts the Spark jobs and query executions it
    * started. Two marker RDD jobs bracket it in the listener bus's event
    * order, and the query-execution listener shares that queue, so when
    * the closing marker arrives every event of `body` has been seen.
    */
  private def sparkWork[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    @volatile var counting = false
    val jobs = new AtomicInteger
    val executions = new AtomicInteger
    val closed = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")) match {
          case Some("work-open") => counting = true
          case Some("work-close") => counting = false; closed.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
    }
    val qeListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (counting) executions.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (counting) executions.incrementAndGet()
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      marker("work-open")
      val result = body
      marker("work-close")
      assert(closed.await(60, TimeUnit.SECONDS))
      (result, jobs.get, executions.get)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  test("serve: keyed serves of a registered version run 0 Spark jobs and " +
      "0 query executions, on the first call, on later calls and for an " +
      "absent id") {
    val store = freshStore()
    val v = store.registerFeatures(
      feats((1L to 50L).map(i => i -> i * 1.5): _*), meta)
    val (first, firstJobs, firstExecs) = sparkWork(store.serveFeatures(7L, Some(v)))
    assert(first.map(_("total_amount")).contains(10.5))
    assert(first.get.keySet == Set("user_id", "total_amount"))
    assert((firstJobs, firstExecs) == ((0, 0)))
    val (later, laterJobs, laterExecs) = sparkWork(
      (1L to 50L).map(u => store.serveFeatures(u, Some(v))))
    assert(later.map(_.get("total_amount")) == (1L to 50L).map(_ * 1.5))
    assert((laterJobs, laterExecs) == ((0, 0)))
    val (absent, absentJobs, absentExecs) = sparkWork(store.serveFeatures(99L, Some(v)))
    assert(absent.isEmpty)
    assert((absentJobs, absentExecs) == ((0, 0)))
    // served from the version slice: the backend counts hits only
    assert(store.monitoringDashboard("cache_misses") == 0L)
  }

  test("serve: with duplicate user rows the served row is the one " +
      "getFeatures(v, Seq(u)).limit(1) returns") {
    val store = freshStore()
    val v = store.registerFeatures(feats(1L -> 10.0, 2L -> 20.0, 1L -> 11.0,
      3L -> 30.0, 2L -> 21.0, 1L -> 12.0), meta)
    Seq(1L, 2L, 3L).foreach { u =>
      val expected = store.getFeatures(Some(v), Seq(u), useCache = false)
        .drop("feature_version", "created_at").limit(1).collect().head
      assert(store.serveFeatures(u, Some(v)) ==
        Some(expected.getValuesMap[Any](expected.schema.fieldNames.toIndexedSeq)),
        s"user $u")
    }
  }

  test("serve: after the version slice's TTL expires, serves still answer " +
      "correctly through the per-user path") {
    val dir = Files.createTempDirectory("graft-store").toString
    val store = new FeatureStore(spark, dir, cacheTtlSeconds = 1)
    val v = store.registerFeatures(feats(1L -> 10.0, 2L -> 20.0), meta)
    Thread.sleep(1200)
    val misses = store.monitoringDashboard("cache_misses").asInstanceOf[Long]
    assert(store.serveFeatures(1L, Some(v)).get("total_amount") == 10.0)
    assert(store.serveFeatures(2L, Some(v)).get("total_amount") == 20.0)
    assert(store.serveFeatures(9L, Some(v)).isEmpty)
    // expired slice and absent per-user slices were misses, not hits
    assert(store.monitoringDashboard("cache_misses").asInstanceOf[Long] > misses)
  }

  test("re-registering an over-cap version releases the persisted entry " +
      "it replaces: later reads see the new registration, still persisted; " +
      "TtlCache.put evicts a replaced value") {
    val rows = feats((1 to 10).map(i => i.toLong -> i.toDouble): _*)
    val capped = new FeatureStore(spark,
      Files.createTempDirectory("graft-store").toString, cacheMaxRows = 4,
      clock = { var i = 0; () => { i += 1; f"2024-01-01T00:00:$i%02dZ" } })
    def stamps(df: org.apache.spark.sql.DataFrame) =
      df.select("created_at").distinct().collect().map(_.getString(0)).toSeq
    val v = capped.registerFeatures(rows, meta)
    val first = capped.getFeatures(Some(v))
    assert(first.storageLevel != StorageLevel.NONE)
    assert(stamps(first) == Seq("2024-01-01T00:00:01Z"))
    assert(capped.registerFeatures(rows, meta) == v)
    val second = capped.getFeatures(Some(v))
    assert(second.storageLevel != StorageLevel.NONE && second.count() == 10)
    assert(stamps(second) == Seq("2024-01-01T00:00:02Z"))
    // putting the same value again is not a replacement
    var released = 0
    val c = new TtlCache[String, AnyRef](60, onEvict = (_: AnyRef) => released += 1)
    val x = new Object
    c.put("k", x); c.put("k", x)
    assert(released == 0)
    c.put("k", new Object)
    assert(released == 1)
  }

  test("dashboard counters are true: under-cap traffic never moves the " +
      "persist counters, over-cap traffic never moves the backend's") {
    val store = freshStore()
    val v = store.registerFeatures(feats(1L -> 1.0, 2L -> 2.0), meta)
    store.getFeatures(Some(v)).count()
    store.getFeatures(Some(v), Seq(1L)).count()
    store.getFeatures(Some(v), Seq(1L)).count()
    store.serveFeatures(2L, Some(v))
    store.serveFeatures(3L, Some(v))
    val dash = store.monitoringDashboard
    assert(dash("persist_cache_hits") == 0L && dash("persist_cache_misses") == 0L)
    assert(dash("cache_hits") == 4L && dash("cache_misses") == 1L)

    val capped = new FeatureStore(spark,
      Files.createTempDirectory("graft-store").toString, cacheMaxRows = 4)
    val big = capped.registerFeatures(
      feats((1 to 10).map(i => i.toLong -> i.toDouble): _*), meta)
    assert(capped.getFeatures(Some(big)).count() == 10)
    assert(capped.getFeatures(Some(big)).count() == 10)
    val capDash = capped.monitoringDashboard
    assert(capDash("persist_cache_hits") == 2L &&
      capDash("persist_cache_misses") == 0L)
    assert(capDash("cache_hits") == 0L && capDash("cache_misses") == 0L)
  }

  test("manifest commit: a writer paused inside its commit loses nothing " +
      "to a concurrent commit; a crashed writer's unsealed generation " +
      "file is still read past") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    spark.sparkContext.hadoopConfiguration
      .set("fs.pausefs.impl", classOf[PausingFileSystem].getName)
    val dir = Files.createTempDirectory("graft-store-publish").toString
    var i = 0
    val direct = new FeatureStore(spark, dir,
      clock = () => { i += 1; f"2024-01-01T00:00:$i%02dZ" })
    // the same directory through a filesystem that can hold a writer
    // after its first file create under metadata/
    val pausable = new FeatureStore(spark, s"pausefs://$dir",
      clock = () => "2024-01-01T01:00:00Z")
    val v0 = direct.registerFeatures(feats(0L -> 1.0), meta)
    val (held, release) = PausingFileSystem.arm()
    val claimant = Future(pausable.registerFeatures(feats(1L -> 2.0), meta))
    try {
      assert(held.await(120, TimeUnit.SECONDS), "claimant never reached its commit")
      val v2 = direct.registerFeatures(feats(2L -> 3.0), meta)
      release.countDown()
      val v1 = Await.result(claimant, 120.seconds)
      val listed = direct.listFeatureVersions().map(_.featureVersion)
      assert(listed.toSet == Set(v0, v1, v2), s"lost commits: ${Set(v0, v1, v2) -- listed}")
      // a generation file with no commit mark (a writer that crashed
      // after creating it) is walked past by readers and skipped over
      // by the next committer
      val metaDir = new java.io.File(dir, "metadata")
      val top = metaDir.list().filter(_.startsWith("manifest-")).max
      val gen = top.stripPrefix("manifest-").stripSuffix(".json").toLong
      Files.createFile(new java.io.File(metaDir, f"manifest-${gen + 1}%012d.json").toPath)
      assert(direct.listFeatureVersions().map(_.featureVersion).toSet == Set(v0, v1, v2))
      val v3 = direct.registerFeatures(feats(3L -> 4.0), meta)
      assert(pausable.listFeatureVersions().map(_.featureVersion).toSet ==
        Set(v0, v1, v2, v3))
    } finally release.countDown()
  }
}

/** Local filesystem under the `pausefs` scheme for commit-race specs:
  * once armed, the first file created under a `metadata/` directory
  * signals `held` and blocks until `release`. Its rename refuses an
  * existing destination, as HDFS does.
  */
class PausingFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("pausefs:///")
  override def getScheme: String = "pausefs"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable) = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (f.toUri.getPath.contains("/metadata/")) PausingFileSystem.hold()
    out
  }

  override def rename(src: Path, dst: Path): Boolean =
    if (exists(dst) && getFileStatus(dst).isFile) false else super.rename(src, dst)
}

object PausingFileSystem {
  @volatile private var gate: Option[(CountDownLatch, CountDownLatch)] = None

  /** Holds the next create under `metadata/`; returns (held, release). */
  def arm(): (CountDownLatch, CountDownLatch) = synchronized {
    val g = (new CountDownLatch(1), new CountDownLatch(1))
    gate = Some(g)
    g
  }

  private def hold(): Unit = {
    val g = synchronized { val g = gate; gate = None; g }
    g.foreach { case (held, release) =>
      held.countDown()
      release.await(120, TimeUnit.SECONDS)
    }
  }
}
