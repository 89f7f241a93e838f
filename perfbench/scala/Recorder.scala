package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Everything one run measured, kept raw: `run.py` turns it into metrics.
  *
  * Samples (the timed operations) and phases are always recorded. With
  * tracing on, the recorder also keeps a span around each call the benchmark
  * makes into a layer and registers [[JobTrace]], which records every Spark
  * job and stage together with the span it ran under and its call site.
  */
final class Recorder(val spark: SparkSession, val tracing: Boolean) {
  val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
  val phases = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val setups = mutable.ArrayBuffer.empty[Double]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val open = mutable.Stack.empty[String]
  val jobs: Option[JobTrace] =
    if (tracing) {
      val t = new JobTrace
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

  /** Times `body` as a span named `name`. Jobs it starts are tagged with
    * the path of open spans, outermost first, joined by `/`.
    */
  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val sc = spark.sparkContext
      open.push(name)
      val path = open.reverse.mkString("/")
      sc.setLocalProperty(Recorder.SpanKey, path)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        spans += Map("name" -> path, "t0" -> t0,
          "s" -> (System.nanoTime() - n0) / 1e9)
        open.pop()
        sc.setLocalProperty(Recorder.SpanKey,
          if (open.isEmpty) null else open.reverse.mkString("/"))
      }
    }

  /** Runs `body` and records the code generation it caused under `codegen.*`. */
  def codegen[A](body: => A): A = {
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compile0 = CodeGenerator.compileTime
    try body
    finally {
      count("codegen.classes", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble)
      count("codegen.compile_s", (CodeGenerator.compileTime - compile0) / 1e9)
    }
  }

  def count(name: String, by: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + by

  /** Seconds `body` takes, with its value. */
  def timed[A](body: => A): (A, Double) = {
    val n0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - n0) / 1e9)
  }

  def toMap: Map[String, Any] = {
    jobs.foreach(_.drain())
    val base = Map[String, Any](
      "setups" -> setups.toSeq, "samples" -> samples.toSeq,
      "phases" -> phases.toMap, "checks" -> checks.toSeq,
      "counters" -> counters.toMap, "spans" -> spans.toSeq)
    jobs.fold(base)(j => base ++ j.toMap)
  }
}

object Recorder {
  val SpanKey = "perfbench.span"
}

/** Listener the benchmark registers itself. A job is kept with its SQL
  * execution id and the call site of its last stage; each SQL execution is
  * kept with the call site of the action that started it (Spark's long
  * form, the stack of the code that ran the action). `run.py` attributes a
  * job to the first `graft` source file on its execution's call site, or on
  * its own when it ran outside SQL. Call sites are interned because a loop
  * runs the same few many times.
  */
final class JobTrace extends SparkListener {
  private val sites = new ConcurrentHashMap[String, Integer]()
  private val siteList = new ConcurrentLinkedQueue[String]()
  private val jobStart = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val done = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageTasks = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Array[Long]]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val sqlSites = new ConcurrentHashMap[Long, Integer]()

  private def siteId(s: String): Int =
    sites.computeIfAbsent(s, k => { siteList.add(k); siteList.size - 1 })

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val last = e.stageInfos.maxBy(_.stageId)
    val props = Option(e.properties)
    jobStart.put(e.jobId, Map("id" -> e.jobId, "t0" -> e.time,
      "site" -> siteId(last.details),
      "span" -> props.map(_.getProperty(Recorder.SpanKey)).orNull,
      "sql" -> props.map(_.getProperty("spark.sql.execution.id")).orNull,
      "stages" -> e.stageIds))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, siteId(s.details))
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { j =>
      done.add(j ++ Map("t1" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val r = m.shuffleReadMetrics
      val w = m.shuffleWriteMetrics
      val row = Array(e.taskInfo.duration, m.executorRunTime,
        r.remoteBytesRead + r.localBytesRead, r.recordsRead,
        w.bytesWritten, w.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.inputMetrics.bytesRead)
      val buf = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => mutable.ArrayBuffer.empty[Array[Long]])
      buf.synchronized { buf += row }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val rows = Option(stageTasks.remove((i.stageId, i.attemptNumber())))
      .map(b => b.synchronized(b.toVector)).getOrElse(Vector.empty)
    def col(k: Int): Long = rows.map(_(k)).sum
    val durations = rows.map(_(0)).sorted
    stages.add(Map("id" -> i.stageId, "attempt" -> i.attemptNumber(),
      "tasks" -> rows.size,
      "t0" -> i.submissionTime.getOrElse(0L), "t1" -> i.completionTime.getOrElse(0L),
      "run_ms" -> col(1), "shuffle_read" -> col(2), "shuffle_read_records" -> col(3),
      "shuffle_write" -> col(4), "shuffle_write_records" -> col(5),
      "spill" -> col(6), "output_bytes" -> col(7), "input_bytes" -> col(8),
      "task_max_ms" -> durations.lastOption.getOrElse(0L),
      "task_med_ms" -> (if (durations.isEmpty) 0L else durations(durations.size / 2))))
  }

  /** Waits until the listener has seen the end of every job it saw start.
    * An action returns only after its job-end event is posted, so once the
    * queue has delivered them all nothing of the run is missing.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5e9.toLong
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      quiet = if (jobStart.isEmpty) quiet + 1 else 0
    }
  }

  def toMap: Map[String, Any] = Map(
    "sites" -> siteList.asScala.toSeq,
    "sql_sites" -> sqlSites.asScala.map { case (k, v) => k.toString -> v.intValue }.toMap,
    "jobs" -> done.asScala.toSeq,
    "stages" -> stages.asScala.toSeq)
}
