package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated allowlist for focused local iteration; the
    // driver never sets it, so the recorded dump always covers everything
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      // drop the previous dump's result first: a query that now throws
      // must leave NO directory behind, so the compare reports it missing
      // instead of passing on a stale result
      val dir = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(dir, true)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // oracle SQL for exactly the queries this run dumped, so a focused
    // run's compare expects only the directories it wrote
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness.
    */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
