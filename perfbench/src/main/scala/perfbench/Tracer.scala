package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `kind` is op, construct or execute (opened by the
  * driver around its calls into the program), sql or write (a top-level
  * SQL execution), job (a Spark job, with its tasks' metrics in `attrs`),
  * or plan (one analysis/optimization/planning phase of an executed
  * query). Times are seconds on the tracer's clock. `parent` is -1 when
  * the parent is not known where the span is recorded; `link` is the SQL
  * execution a job or SQL span belongs to, or -1. Parents by link and by
  * time are resolved after the run, from the whole span list.
  */
final class Span(val id: Int, val kind: String, val name: String,
                 val start: Double, var end: Double, val parent: Int, val link: Long) {
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(key: String, v: Double): Unit = attrs(key) = attrs.getOrElse(key, 0.0) + v
}

/** Records spans in memory while attached to a session; `spans` is read
  * once, after the run. Attach and detach happen between passes, so an
  * untraced pass pays nothing for tracing.
  */
final class Tracer(spark: SparkSession) {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def fromMs(ms: Long): Double = (ms - wall0) / 1e3
  def now(): Double = (System.nanoTime() - nano0) / 1e9

  private val recorded = mutable.ArrayBuffer.empty[Span]
  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  private def record(kind: String, name: String, start: Double, parent: Int, link: Long): Span =
    recorded.synchronized {
      val s = new Span(recorded.size, kind, name, start, Double.NaN, parent, link)
      recorded += s
      s
    }

  def open(kind: String, name: String, parent: Int = -1): Span = record(kind, name, now(), parent, -1L)
  def close(s: Span): Unit = s.end = now()

  private val jobs = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val sqls = new ConcurrentHashMap[Long, Span]()
  private val sqlRoot = new ConcurrentHashMap[Long, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(id => sqlRoot.getOrDefault(id.toLong, id.toLong)).getOrElse(-1L)
      val s = record("job", s"job ${e.jobId}", fromMs(e.time), -1, exec)
      jobs.put(e.jobId, s)
      e.stageIds.foreach(stageJob.put(_, s))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach(_.end = fromMs(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(s => s.synchronized(s.add("stages", 1)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.add("tasks", 1)
        s.add("task_s", e.taskInfo.duration / 1e3)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("read_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("read_records", m.inputMetrics.recordsRead.toDouble)
        s.add("write_bytes", m.outputMetrics.bytesWritten.toDouble)
        s.add("write_records", m.outputMetrics.recordsWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.getOrElse(s.executionId)
        sqlRoot.put(s.executionId, root)
        if (root == s.executionId) {
          val kind = if (writesFiles(s.sparkPlanInfo)) "write" else "sql"
          sqls.put(s.executionId,
            record(kind, s.sparkPlanInfo.nodeName, fromMs(s.time), -1, s.executionId))
        }
      case e: SparkListenerSQLExecutionEnd =>
        Option(sqls.remove(e.executionId)).foreach(_.end = fromMs(e.time))
      case _ =>
    }
  }

  /** A file write, also when adaptive execution wraps the write command. */
  private def writesFiles(p: SparkPlanInfo): Boolean =
    p.nodeName.contains("InsertIntoHadoopFsRelation") || p.children.exists(writesFiles)

  private val planPhases = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        record("plan", phase, fromMs(p.startTimeMs), -1, -1L).end = fromMs(p.endTimeMs)
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planPhases)
  }

  /** Waits until every event of the pass has been delivered, then stops listening. */
  def detach(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.unregister(planPhases)
    spark.sparkContext.removeSparkListener(listener)
  }
}
