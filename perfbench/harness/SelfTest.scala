package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Drives [[Ops.measure]] with a stand-in registry for
  * `perfbench/test_harness.py`: one query that works, one whose construction
  * throws, and one whose execution throws. Writes the run's records to
  * `<out>/result.json`.
  *
  * Usage: `perfbench.SelfTest <data dir> <out dir>`.
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val Array(data, out) = argv
    val run = new Run("ops", 7L, 0.0, traced = true, data, out)
    try {
      run.startSession()
      val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        "works" -> ((s, _) => s.range(0, 1000, 1, 4).groupBy(col("id") % 7).count()),
        "throws_in_build" -> ((_, _) => throw new IllegalStateException("build boom")),
        "throws_in_exec" -> ((s, _) => s.range(10).selectExpr("raise_error('exec boom')")))
      run.put("setup_s", Seq(0.0))
      val last = Ops.measure(run, queries)
      run.check("only the working query has a DataFrame", last.keySet == Set("works"),
        s"got ${last.keySet}")
    } finally run.spark.stop()
    run.write()
  }

  private def col(name: String) = org.apache.spark.sql.functions.col(name)
}
