package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up `SetupReps` times (the last set-up
  * is kept), run the workload's closed loop with one client, and write
  * every metric as JSON to `--out`. `run.py` launches it; see README.md.
  *
  * Arguments (all required): `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <corpus dir> --run-dir <scratch dir> --out <file>`.
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val ctx = Ctx(opts("workload"), opts("seed").toLong,
      opts("seconds").toDouble, opts("trace") == "1", opts("data"),
      opts("run-dir"))
    val wl: Workload = ctx.workload match {
      case "catalog" => Catalog
      case "sort_ref" => SortRef
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val spark = Session.start(ctx)
      Session.warm(spark)
      wl.setup(spark, ctx)
      val s = Stats.since(t0)
      if (rep < SetupReps - 1) Session.stop(spark)
      s
    }
    val spark = SparkSession.active
    val rec = new Recorder
    val trace = if (ctx.trace) Some(Trace.attach(spark)) else None
    wl.run(spark, ctx, rec)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val (unitS, opS) = (Stats.median(rec.units.toSeq), rec.opP50)
    trace match {
      case None =>
        metrics("setup_s") = (Stats.median(setups), "s")
        metrics("unit_s") = (unitS, "s")
        metrics("op_s") = (opS, "s")
      case Some(t) =>
        metrics("traced.unit_s") = (unitS, "s")
        metrics("traced.op_s") = (opS, "s")
        metrics("jvm.peak_rss_mb") = (Stats.peakRssMb(), "MB")
        metrics("op.build_s") = (rec.ops.map(_.build).sum, "s")
        metrics("op.exec_s") = (rec.ops.map(_.exec).sum, "s")
        val total = rec.ops.map(_.wall).sum
        Families.All.foreach { f =>
          val s = rec.ops.filter(_.family == f).map(_.wall).sum
          metrics(s"family.${f}_share") = (100.0 * s / total, "%")
        }
        t.metrics(spark, rec).foreach { case (k, v) => metrics(k) = v }
        KernelProbe.run(spark, ctx, rec, t).foreach { case (k, v) => metrics(k) = v }
    }
    val json = Json.obj(Seq(
      "correct" -> Json.bool(rec.failed == 0 && rec.attempted > 0),
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "percentiles" -> Json.obj(rec.percentiles.map { case (k, n, beyond) =>
        k -> Json.obj(Seq("p" -> "50", "samples" -> n.toString, "beyond" -> beyond.toString))
      }),
      "setups_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "failures" -> rec.failures.take(20).map(Json.str).mkString("[", ",", "]"),
      "units_s" -> rec.units.map(Json.num).mkString("[", ",", "]"),
      "ops" -> Json.obj(rec.ops.groupBy(_.kind).toSeq.sortBy(_._1).map {
        case (k, os) => k -> Json.obj(Seq("n" -> os.size.toString,
          "mean_s" -> Json.num(Stats.mean(os.map(_.wall).toSeq)),
          "median_s" -> Json.num(Stats.median(os.map(_.wall).toSeq))))
      })))
    Files.write(Paths.get(opts("out")), (json + "\n").getBytes(StandardCharsets.UTF_8))
    Session.stop(spark)
  }
}

final case class Ctx(workload: String, seed: Long, seconds: Double,
                     trace: Boolean, dataDir: String, runDir: String) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
}

/** A workload: inputs made on each set-up, then a closed loop. */
trait Workload {
  /** Build the inputs on a fresh session; timed as part of `setup_s`. */
  def setup(spark: SparkSession, ctx: Ctx): Unit
  /** Closed loop with one client for about `ctx.seconds`. */
  def run(spark: SparkSession, ctx: Ctx, rec: Recorder): Unit
}

/** One timed operation: `build` is the time to construct its DataFrame
  * (eager work on construction), `exec` the time to run it.
  */
final case class Op(kind: String, family: String, build: Double, exec: Double,
                    startMs: Long, endMs: Long) {
  def wall: Double = build + exec
}

/** What a run measured and checked. A unit is the workload's fixed bundle
  * of work (a catalog pass, a sort round); checks never run inside a timed
  * section.
  */
final class Recorder {
  val ops = ArrayBuffer.empty[Op]
  val units = ArrayBuffer.empty[Double]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def add(op: Op): Unit = { attempted += 1; ops += op }

  /** Runs `body` as one attempted op; a throw counts as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body) catch { case NonFatal(e) =>
      attempted += 1; fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }

  def fail(msg: String): Unit = {
    failed += 1; failures += msg; System.err.println(s"[perfbench] FAILED $msg")
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  def byKind: Seq[(String, Seq[Double])] =
    ops.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, os) => k -> os.map(_.wall).toSeq }

  /** Geometric mean over op kinds of each kind's median latency. */
  def opP50: Double = {
    val meds = byKind.map(k => Stats.median(k._2))
    if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
  }

  /** Each median the run reports: (samples, samples above it). */
  def percentiles: Seq[(String, Int, Int)] =
    (byKind :+ ("unit" -> units.toSeq)).map { case (k, xs) =>
      (s"p50.$k", xs.size, xs.count(_ > Stats.median(xs)))
    }
}

object Session {
  def start(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.ops.Tables.NanosAsLongConf, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${ctx.runDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The same warm-up graft.Bench does before its first timing. */
  def warm(spark: SparkSession): Unit =
    spark.range(1000000L).selectExpr("sum(id % 7)").collect(): Unit

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** graft.Bench's between-query hygiene, run off the clock. */
  def hygiene(spark: SparkSession, i: Int): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    try {
      org.apache.spark.sql.GraftSqlShims.unloadStateStores()
      spark.streams.resetTerminated()
    } catch { case NonFatal(_) => () }
    if ((i + 1) % 20 == 0) System.gc()
  }
}

object Stats {
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, since(t0))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
