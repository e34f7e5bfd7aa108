package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners, registered from the benchmark's own code:
  * a `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (Catalyst phase times), a
  * `StreamingQueryListener` (micro-batch durations) and an appender on
  * Spark's code generator log (one line per compiled class, with its
  * compile time). Every record carries a wall-clock stamp; only records
  * that fall inside a timed op count, so off-the-clock checks do not
  * (code generation excepted, see [[metrics]]).
  */
final class Trace private () extends SparkListener {
  import Trace.Task
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stages = new ConcurrentLinkedQueue[(Long, (Int, Int))]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]() // (start ms, plan ms)
  private val compiles = new ConcurrentLinkedQueue[(Long, Double)]() // (ms stamp, compile ms)
  private val batches = new ConcurrentLinkedQueue[Long]() // trigger ms

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobStarts.put(e.jobId, e.time); () }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add((i.completionTime.getOrElse(System.currentTimeMillis()), (i.stageId, i.attemptNumber())))
    ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    tasks.add(if (m == null) Task(e.taskInfo.finishTime, 0, 0, 0, 0, 0, 0, failed, (e.stageId, e.stageAttemptId))
      else Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.diskBytesSpilled, failed, (e.stageId, e.stageAttemptId)))
    ()
  }

  private val queryListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      ()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(e.progress.durationMs.get("triggerExecution")).foreach(d => batches.add(d.longValue()))
  }

  private val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case Generated(ms) => compiles.add((System.currentTimeMillis(), ms.toDouble)); ()
      case _ => ()
    }
  }

  private def attach(spark: SparkSession): Unit = {
    appender.start()
    val ctx = LoggerContext.getContext(false)
    val cfg = ctx.getConfiguration
    val lc = new LoggerConfig(CodegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(CodegenLogger, lc)
    ctx.updateLoggers()
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Per-layer metrics of the timed ops recorded so far. */
  def metrics(spark: SparkSession, rec: Recorder): Seq[(String, (Double, String))] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val windows = rec.ops.map(o => (o.startMs, o.endMs)).sortBy(_._1).toIndexedSeq
    def timed(ms: Long): Boolean = windows.exists { case (s, e) => ms >= s && ms <= e }
    val ts = tasks.asScala.filter(t => timed(t.endMs)).toSeq
    val js = jobs.asScala.toSeq
    // op wall no job covers: the op window minus the union of job intervals
    val nonJobMs = windows.map { case (s, e) =>
      val cover = js.filter { case (a, b) => b > s && a < e }
        .map { case (a, b) => (math.max(a, s), math.min(b, e)) }.sortBy(_._1)
      var covered = 0L; var reach = s
      cover.foreach { case (a, b) =>
        val a1 = math.max(a, reach)
        if (b > a1) { covered += b - a1; reach = b }
      }
      (e - s) - covered
    }.sum
    val stageKeys = stages.asScala.filter(s => timed(s._1)).map(_._2).toSet
    val skew = ts.filter(t => stageKeys(t.stage)).groupBy(_.stage).values
      .map(_.map(_.runMs.toDouble)).filter(_.size >= 2)
      .map(d => d.max / math.max(1.0, Stats.median(d))).toSeq
    val run = ts.map(_.runMs).sum / 1e3
    val cpu = ts.map(_.cpuNs).sum / 1e9
    val gc = ts.map(_.gcMs).sum / 1e3
    // compiles count from attach on, warm-ups and checks included: after
    // its warm-up round, sort_ref's timed ops hit the code cache
    val cg = compiles.asScala.toSeq
    Seq(
      "catalyst.plan_s" -> (plans.asScala.filter(p => timed(p._1)).map(_._2).sum / 1e3, "s"),
      "driver.nonjob_s" -> (nonJobMs / 1e3, "s"),
      "codegen.compiles" -> (cg.size.toDouble, "count"),
      "codegen.compile_s" -> (cg.map(_._2).sum / 1e3, "s"),
      "scheduler.jobs" -> (js.count { case (a, _) => timed(a) }.toDouble, "count"),
      "scheduler.stages" -> (stageKeys.size.toDouble, "count"),
      "scheduler.tasks" -> (ts.size.toDouble, "count"),
      "task.failed" -> (ts.count(_.failed).toDouble, "count"),
      "task.run_s" -> (run, "s"),
      "task.cpu_s" -> (cpu, "s"),
      "task.gc_s" -> (gc, "s"),
      "task.wait_s" -> (run - cpu - gc, "s"),
      "task.cpu_ratio" -> (if (run > 0) cpu / run else 0.0, "ratio"),
      "stage.max_over_median_task" -> (Stats.mean(skew), "ratio"),
      "shuffle.write_bytes" -> (ts.map(_.shufW).sum.toDouble, "B"),
      "shuffle.read_bytes" -> (ts.map(_.shufR).sum.toDouble, "B"),
      "spill.disk_bytes" -> (ts.map(_.spill).sum.toDouble, "B"))
  }

  /** Micro-batches of the streams `body` runs: (count, mean trigger s). */
  def streamBatches(spark: SparkSession)(body: => Unit): (Int, Double) = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    batches.clear()
    body
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val b = batches.asScala.toSeq
    (b.size, Stats.mean(b.map(_ / 1e3)))
  }
}

object Trace {
  private final case class Task(endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                                shufW: Long, shufR: Long,
                                spill: Long, failed: Boolean, stage: (Int, Int))

  def attach(spark: SparkSession): Trace = { val t = new Trace; t.attach(spark); t }
}
