package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** In-memory span recorder for one single-threaded benchmark client.
  *
  * Every call the benchmark makes into a layer runs inside [[span]]; the
  * outermost span of a call chain is an *op* and its children share its
  * id. Spans are recorded in both modes because the end-to-end numbers are
  * read from them. With `traced` on, each span also tags the Spark jobs it
  * starts with a job group (`pb:<span id>`), and [[attach]] registers a
  * `SparkListener` (jobs, stages, tasks) and a `QueryExecutionListener`
  * (planning phases) whose records are joined to spans afterwards: jobs by
  * their group, planning phases by the span that was open when planning
  * started (the client is one thread, so that span asked for it). Nothing
  * is written until [[toJson]] is called at the end of the run.
  */
final class Recorder(val traced: Boolean) {
  import Recorder._

  private val spans = ArrayBuffer[Span]()
  private val jobs = ArrayBuffer[Job]()
  private val stages = ArrayBuffer[Stage]()
  private val taskMs = scala.collection.mutable.Map[(Int, Int), ArrayBuffer[Long]]()
  // planning phases of each query execution, as (start, end) wall-clock ms
  private val qes = ArrayBuffer[Map[String, Seq[Long]]]()
  private var stack: List[Span] = Nil
  private var sc: Option[SparkContext] = None

  /** Route job-group tags to `spark`'s context; with tracing on, also
    * register the listeners on it. Call again after a session restart.
    */
  def attach(spark: SparkSession): Unit = {
    sc = Some(spark.sparkContext)
    if (traced) {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(qeListener)
    }
  }

  /** Run `body` as a span named `name` (`<layer>.<call>`). A throw marks
    * the span failed and propagates.
    */
  def span[A](name: String, attrs: (String, Any)*)(body: => A): A = {
    val parent = stack.headOption
    val s = new Span(spans.length, parent.map(_.id).getOrElse(-1),
      parent.map(_.op).getOrElse(spans.length), name, attrs.toMap)
    spans += s
    stack = s :: stack
    setGroup(Some(s.id))
    s.w0 = System.currentTimeMillis()
    s.t0 = System.nanoTime()
    try body
    catch {
      case e: Throwable =>
        s.error = Some(errorText(e))
        throw e
    } finally {
      s.t1 = System.nanoTime()
      s.w1 = System.currentTimeMillis()
      stack = stack.tail
      setGroup(parent.map(_.id))
    }
  }

  /** Run `body` as an op: a top-level span whose failure is recorded and
    * swallowed, so the caller counts it as failed and takes no time from it.
    */
  def op[A](name: String, attrs: (String, Any)*)(body: => A): Option[A] = {
    require(stack.isEmpty, s"op $name started inside another span")
    try Some(span(name, attrs: _*)(body))
    catch { case NonFatal(_) => None }
  }

  /** Duration in seconds of the most recent span named `name`. */
  def lastSeconds(name: String): Double =
    spans.reverseIterator.find(_.name == name).map(_.seconds).getOrElse(0.0)

  private def setGroup(id: Option[Int]): Unit =
    if (traced) sc.foreach(_.setLocalProperty(GroupKey, id.map(i => s"pb:$i").orNull))

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val p = Option(e.properties)
      jobs += Job(e.jobId, p.flatMap(x => Option(x.getProperty(GroupKey))).orNull,
        e.stageIds)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) +=
          e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      val st = Stage(i.stageId, i.attemptNumber(),
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead)
          .getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
      Recorder.this.synchronized { stages += st }
    }
  }

  private object qeListener extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Map[String, Seq[Long]] =
      qe.tracker.phases.map { case (k, v) => k -> Seq(v.startTimeMs, v.endTimeMs) }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Recorder.this.synchronized { qes += phases(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      Recorder.this.synchronized { qes += phases(qe) }
  }

  /** Everything recorded, as JSON values. Call after the Spark context has
    * stopped, which drains the listener bus.
    */
  def toJson: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1,
        "w0" -> s.w0, "w1" -> s.w1,
        "error" -> s.error.orNull, "attrs" -> s.attrs)).toSeq,
      "jobs" -> jobs.map(j => Map("id" -> j.id, "group" -> j.group,
        "stages" -> j.stageIds)).toSeq,
      "stages" -> stages.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
        "gc_ms" -> s.gcMs,
        "shuffle_read_b" -> s.shuffleReadB, "shuffle_write_b" -> s.shuffleWriteB,
        "spill_b" -> s.spillB,
        "task_ms" -> taskMs.getOrElse((s.id, s.attempt), ArrayBuffer()).toSeq)).toSeq,
      "qes" -> qes.map(q => Map("phases" -> q)).toSeq)
  }
}

object Recorder {
  val GroupKey = "spark.jobGroup.id"

  final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
      val attrs: Map[String, Any]) {
    var t0 = 0L // System.nanoTime
    var t1 = 0L
    var w0 = 0L // wall-clock ms, to place planning phases, which carry wall times
    var w1 = 0L
    var error: Option[String] = None
    def seconds: Double = (t1 - t0) / 1e9
  }
  final case class Job(id: Int, group: String, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, gcMs: Long, shuffleReadB: Long,
      shuffleWriteB: Long, spillB: Long)

  def errorText(e: Throwable): String = {
    val s = s"${e.getClass.getName}: ${e.getMessage}"
    if (s.length > 500) s.take(500) + "…" else s
  }
}
