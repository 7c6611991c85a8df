package perfbench

import graft.SparkEntry
import graft.extract.UserEventExtractor
import graft.model.FeatureMetadata
import graft.quality.DataQualityValidator
import graft.sources.Tables
import graft.store.FeatureStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: runs one workload once and writes every raw
  * record (spans, jobs, stages, planning phases, checks) to
  * `<out>/result.json`. `perfbench/run.py` builds this, starts it, and
  * turns the records into metrics.
  *
  * Usage: `perfbench.PerfBench <workload> <seed> <seconds> <traced 0|1>
  * <data dir> <out dir>`.
  */
object PerfBench {
  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, traced, data, out) = argv
    val run = new Run(workload, seed.toLong, seconds.toDouble, traced == "1", data, out)
    try {
      workload match {
        case "store_online"  => StoreOnline(run)
        case "ops"           => Ops(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally if (run.spark != null) run.spark.stop()
    run.mark("stopped")
    run.write()
  }
}

/** State shared by the steps of one run. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val data: String, val out: String) {
  val rec = new Recorder(traced)
  var spark: SparkSession = _
  private val fields = mutable.LinkedHashMap[String, Any]()
  private val checks = ArrayBuffer[Map[String, Any]]()

  val settings: Map[String, String] = Map(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.codegen.hugeMethodLimit" -> "8000",
    "spark.local.dir" -> s"$out/spark-local",
    "spark.sql.warehouse.dir" -> s"$out/warehouse")

  /** A new Spark session with the benchmark's settings, plus one small job
    * so that scheduler start-up is part of session start.
    */
  def startSession(): SparkSession = {
    val s = settings.foldLeft(SparkSession.builder().appName("perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1000000L).selectExpr("sum(id)").collect()
    mark("session_started")
    spark = s
    rec.attach(s)
    s
  }

  def dir(name: String): String = {
    val p = Paths.get(out, name)
    Files.createDirectories(p)
    p.toString
  }

  def put(key: String, value: Any): Unit = fields(key) = value

  private val marks = mutable.LinkedHashMap[String, Double]()

  /** JVM uptime at a named point of the run, for the run's time budget. */
  def mark(name: String): Unit =
    marks(name) = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))

  /** Runs the timed phase and records its wall time, the JIT and GC time
    * the JVM spent during it, and the heap still in use after a full GC at
    * its end.
    */
  def timed(body: => Unit): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum
    val (jit0, gc0, t0) = (jit.getTotalCompilationTime, gcMs, System.nanoTime())
    mark("timed_start")
    body
    mark("timed_end")
    put("timed_s", (System.nanoTime() - t0) / 1e9)
    put("jit_ms", jit.getTotalCompilationTime - jit0)
    put("gc_ms", gcMs - gc0)
    System.gc()
    System.gc()
    put("heap_mb",
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }

  def write(): Unit = {
    val all = fields.toMap ++ Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "settings" -> settings, "checks" -> checks.toSeq,
      "uptime_s" -> marks) ++
      rec.toJson
    Files.writeString(Paths.get(out, "result.json"), Json(all))
  }
}

/** Seeded request stream: request `i` takes its key and its kind from two
  * golden-ratio sequences started at seeded offsets. Keys are
  * Zipf(`skew`)-distributed over a seeded permutation of `keys`. The
  * sequences are equidistributed, so the number of distinct keys a run
  * touches (each first touch is a cache miss) hardly depends on the seed;
  * with independent draws it swung throughput by about 15% between seeds.
  */
final class Requests(keys: IndexedSeq[Long], skew: Double, rng: SplittableRandom) {
  private val perm = Workloads.shuffled(keys.toArray, rng)
  private val cdf: Array[Double] =
    perm.indices.map(k => math.pow(k + 1.0, -skew)).scanLeft(0.0)(_ + _).tail.toArray
  private val (k0, c0) = (rng.nextDouble(), rng.nextDouble())
  private var i = 0L

  /** Next request: (key, u in [0, 1) choosing its kind). */
  def next(): (Long, Double) = {
    i += 1
    val u = frac(k0 + i * 0.6180339887498949) * cdf.last
    val j = java.util.Arrays.binarySearch(cdf, u)
    (perm(if (j >= 0) j else -j - 1), frac(c0 + i * 0.4142135623730951))
  }

  private def frac(x: Double): Double = x - math.floor(x)
}

object Workloads {
  /** Fisher-Yates shuffle of `a` in place; returns `a`. */
  def shuffled[A](a: Array[A], rng: SplittableRandom): Array[A] = {
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def events(run: Run): DataFrame =
    run.rec.span("sources.read") {
      val e = Tables.events(run.spark, run.data)
      e.schema
      e
    }

  def meta(ex: UserEventExtractor, description: String): FeatureMetadata =
    FeatureMetadata("", description, "", ex.featureConfigs)

  /** Standalone calls into the layers a register runs, on its input
    * (traced runs only, outside every end-to-end number).
    */
  def layerExtras(run: Run, ex: UserEventExtractor, input: => DataFrame,
      attrs: (String, Any)*): Unit = {
    val done = run.rec.op("extras", attrs: _*) {
      val feats = run.rec.span("extract.run") {
        val f = ex.extract(input)
        noop(f)
        f
      }
      run.rec.span("quality.validate")(new DataQualityValidator().validate(feats))
      run.rec.span("store.fingerprint")(FeatureStore.fingerprint(feats))
    }
    run.check(s"standalone extract, validate, fingerprint ${attrs.mkString(" ")}",
      done.isDefined, "a call threw")
  }
}

/** Closed-loop online serving, one client: ~90% `serveFeatures(u, Some(v))`,
  * ~8% `serveFeatures(u, None)`, ~2% ids absent from the store, with `u`
  * Zipf(1.1)-distributed over the registered users.
  */
object StoreOnline {
  import Workloads._
  val Skew = 1.1
  val KeyedShare = 0.90
  val LatestShare = 0.08

  def apply(run: Run): Unit = {
    val spark = run.startSession()
    val ex = new UserEventExtractor()
    var store: FeatureStore = null
    var version = ""
    val setup = (1 to SetupReps).map { rep =>
      run.rec.span("setup", "phase" -> "setup", "rep" -> rep) {
        val feats = run.rec.span("extract.build")(ex.extract(events(run)))
        store = new FeatureStore(spark, run.dir(s"store-$rep"))
        version = run.rec.span("store.register")(
          store.registerFeatures(feats, meta(ex, "online serving features")))
      }
      run.rec.lastSeconds("setup")
    }
    run.put("setup_s", setup)

    val expected: Map[Long, Map[String, Any]] =
      ex.extract(Tables.events(spark, run.data)).collect().map { r =>
        r.getAs[Long]("user_id") -> r.getValuesMap[Any](r.schema.fieldNames.toIndexedSeq)
      }.toMap
    val users = expected.keys.toIndexedSeq.sorted
    var absent = users.last + 1000000L

    val requests = new Requests(users, Skew, new SplittableRandom(run.seed))
    val served = ArrayBuffer[(Long, String, Option[Map[String, Any]])]()
    run.timed {
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < run.seconds * 1e9) {
        val (key, x) = requests.next()
        val (user, kind, v) =
          if (x < KeyedShare) (key, "keyed", Some(version))
          else if (x < KeyedShare + LatestShare) (key, "latest", None)
          else { absent += 1; (absent, "absent", Some(version)) }
        run.rec.op("store.serve", "phase" -> "timed", "kind" -> kind)(
          store.serveFeatures(user, v)).foreach(res => served += ((user, kind, res)))
      }
      run.put("window_s", (System.nanoTime() - t0) / 1e9)
    }
    val dash = store.monitoringDashboard
    run.put("dashboard", Map("cache_hits" -> dash("cache_hits"),
      "cache_misses" -> dash("cache_misses")))

    val wrong = served.filter { case (u, kind, res) =>
      if (kind == "absent") res.isDefined else !res.contains(expected(u))
    }
    run.check("served maps equal extractor rows; absent ids serve None",
      wrong.isEmpty,
      wrong.take(3).map { case (u, k, res) =>
        s"$k user $u: served $res, expected ${expected.get(u)}" }.mkString("; "))
    run.check("some requests were served", served.nonEmpty, "no request succeeded")

    if (run.traced) IngestCycles(run, ex)
  }
}

/** Ingest cycles on a second store whose cache cap sits below a version's
  * row count (about 1,310 rows against a cap of 500), so registration takes
  * the over-cap persist path. Each cycle builds a version from a seeded,
  * cycle-specific slice of users, registers it, reads it back for training,
  * reads the previous version as of an earlier instant, lists versions and
  * applies retention. Runs after the timed window of traced runs only: it
  * gives the per-layer numbers of the write path and checks it.
  */
object IngestCycles {
  import Workloads._
  val Cycles = 2
  val KeepN = 2
  val CacheMaxRows = 500L
  val SliceMod = 8 // a cycle keeps the users whose seeded hash is not 0 mod 8
  val Epoch = java.time.Instant.parse("2024-01-01T00:00:00Z")

  def apply(run: Run, ex: UserEventExtractor): Unit = {
    val spark = run.spark
    def slice(c: Int)(e: DataFrame): DataFrame =
      e.filter(pmod(xxhash64(col("user_id"), lit(run.seed), lit(c)), lit(SliceMod)) =!= 0)
    // The store's clock ticks once per registration: registration k is
    // stamped instant(k), so an as-of half a tick before it resolves to
    // registration k - 1.
    val ticks = new java.util.concurrent.atomic.AtomicLong(0)
    def instant(k: Long) = Epoch.plusSeconds(3600L * k)
    val store = new FeatureStore(spark, run.dir("store-ingest"),
      clock = () => instant(ticks.getAndIncrement()).toString,
      cacheMaxRows = CacheMaxRows)
    val registered = ArrayBuffer[String]()
    for (c <- 0 to Cycles) {
      val asOf = instant(ticks.get()).minusSeconds(1800).toString
      val done = run.rec.op("cycle", "phase" -> "extra", "cycle" -> c) {
        val feats = run.rec.span("extract.build")(ex.extract(slice(c)(events(run))))
        val v = run.rec.span("store.register")(
          store.registerFeatures(feats, meta(ex, s"training features, cycle $c")))
        registered += v
        run.rec.span("store.get")(noop(store.getFeatures(Some(v), useCache = false)))
        if (c > 0)
          run.rec.span("store.asof")(noop(store.getFeaturesAsOf(asOf, useCache = false)))
        val listed = run.rec.span("store.latest")(store.listFeatureVersions())
        run.rec.span("store.cleanup")(store.cleanupOldVersions(KeepN))
        (feats, v, listed.map(_.featureVersion))
      }
      done.foreach { case (feats, v, listed) =>
        val n = feats.count()
        val read = store.getFeatures(Some(v), useCache = false).count()
        run.check(s"cycle $c: training read returns every registered row",
          read == n, s"read $read rows, registered $n")
        if (c > 0) {
          val resolved = store.versionAsOf(asOf)
          val prev = registered(registered.length - 2)
          run.check(s"cycle $c: as-of resolves to the previous version",
            resolved.contains(prev), s"as-of $asOf resolved to $resolved, expected $prev")
        }
        run.check(s"cycle $c: newest version listed first",
          listed.headOption.contains(v), s"listed $listed, registered $v")
        val kept = store.listFeatureVersions().map(_.featureVersion)
        val want = registered.distinct.reverse.take(KeepN).toSeq
        run.check(s"cycle $c: cleanup keeps the newest $KeepN versions",
          kept == want, s"kept $kept, expected $want")
      }
      run.check(s"cycle $c: completed", done.isDefined, "the cycle threw")
      layerExtras(run, ex, slice(c)(Tables.events(spark, run.data)), "cycle" -> c)
    }
  }
}

/** Registry operators: one cold pass in a fresh JVM, then warm passes for
  * the run's seconds (at least three); each query is built, planned and
  * executed to the `noop` sink, in a seeded order per pass.
  */
object Ops {
  import Workloads._

  /** Sub-second queries over different tables and plan shapes, each of
    * which pays table reads, schema inference and planning on every call.
    * Queries that keep state under /tmp between processes
    * (`dedup_incremental`, `sim_ivf_*`) are left out.
    */
  val Queries = Seq("point_lookup", "join_nation_revenue", "window_lag_delta",
    "text_normalize", "sim_brute_topk")
  val MinWarmPasses = 3

  val tables: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events" -> Tables.events _, "lineitem" -> Tables.lineitem _,
    "orders" -> Tables.orders _, "customer" -> Tables.customer _,
    "supplier" -> Tables.supplier _, "part" -> Tables.part _,
    "nation" -> Tables.nation _, "region" -> Tables.region _,
    "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)

  def apply(run: Run): Unit = {
    val setup = (1 to SetupReps).map { rep =>
      if (run.spark != null) run.spark.stop()
      run.rec.span("setup", "phase" -> "setup", "rep" -> rep)(run.startSession())
      run.rec.lastSeconds("setup")
    }
    run.put("setup_s", setup)
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val missing = Queries.filterNot(q => registry.contains(q) && oracle.contains(q))
    require(missing.isEmpty, s"queries missing from the registry or oracle: $missing")
    val last = measure(run, Queries.map(q => q -> registry(q)))

    val dump = run.dir("dump")
    for (q <- Queries) last.get(q) match {
      case None => run.check(s"$q: dumped", ok = false, "no pass succeeded")
      case Some(df) =>
        val err = try {
          df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")
          ""
        } catch { case scala.util.control.NonFatal(e) => Recorder.errorText(e) }
        run.check(s"$q: dumped", err.isEmpty, err)
    }
    Files.writeString(Paths.get(dump, "oracle_sql.json"),
      Json(Queries.map(q => q -> oracle(q)).toMap))
    run.put("dump_dir", dump)
  }

  /** The timed phase: a cold pass over `queries`, then warm passes. Each
    * query is one op; one that throws is recorded as failed and the pass
    * goes on. Returns each query's DataFrame from its last successful pass.
    */
  def measure(run: Run, queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Map[String, DataFrame] = {
    val spark = run.spark
    val rng = new SplittableRandom(run.seed)
    val tablesOf = mutable.Map[String, Seq[String]]()
    val last = mutable.Map[String, DataFrame]()
    def pass(p: Int, phase: String): Unit =
      for ((q, build) <- shuffled(queries.toArray, rng))
        run.rec.op("query", "phase" -> phase, "pass" -> p, "query" -> q) {
          val df = run.rec.span("queries.build")(build(spark, run.data))
          run.rec.span("exec.run")(noop(df))
          last(q) = df
          if (run.traced)
            tablesOf.getOrElseUpdate(q, tablesRead(df)).foreach { t =>
              run.rec.span("sources.read", "table" -> t)(tables(t)(spark, run.data).schema)
            }
        }
    run.timed {
      pass(0, "cold")
      val t0 = System.nanoTime()
      var p = 1
      while (p <= MinWarmPasses || System.nanoTime() - t0 < run.seconds * 1e9) {
        pass(p, "warm")
        p += 1
      }
      run.put("window_s", (System.nanoTime() - t0) / 1e9)
    }
    last.toMap
  }

  /** Registry tables whose files the query's final plan scans. */
  def tablesRead(df: DataFrame): Seq[String] = {
    val files = df.inputFiles
    tables.keys.filter(t => files.exists(_.contains(s"/$t.parquet"))).toSeq.sorted
  }
}

/** JSON writer for the result records. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
