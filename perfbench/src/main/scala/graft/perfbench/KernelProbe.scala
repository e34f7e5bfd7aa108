package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Snapshots, Sorts}

/** Fixed-size probes of single layers, run after the timed loop of every
  * traced run, so each layer's figures exist (and mean the same thing) on
  * every workload: the `graft-gen` scan, the `hybrid_sort_array` kernels,
  * `HybridSortExec`'s spill path, the snapshot table's commit / read /
  * compaction / vacuum cycle, and one bounded stream of the catalog.
  */
object KernelProbe {
  val GenRows = 2000000L
  val ArrayElems = 1 << 20
  val SpillRows = 1 << 19
  val TableRows = 20000
  val TableRounds = 8

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def medianTime(reps: Int)(body: => Unit): Double =
    Stats.median((0 until reps).map(_ => Stats.time(body)._2))

  private def gen(spark: SparkSession, n: Long, ctx: Ctx): DataFrame =
    spark.read.format("graft-gen").option("n", n.toString)
      .option("numPartitions", ctx.cpus.toString).load()

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  def run(spark: SparkSession, ctx: Ctx, rec: Recorder, trace: Trace): Seq[(String, (Double, String))] = {
    val out = Seq.newBuilder[(String, (Double, String))]
    def put(k: String, v: Double, unit: String): Unit = out += k -> (v, unit)
    graft.functions.GraftFunctions.register(spark)

    noop(gen(spark, GenRows / 10, ctx))
    put("GenDataSource.rows_per_s", GenRows / medianTime(3)(noop(gen(spark, GenRows, ctx))), "rows/s")

    val arrays = gen(spark, ArrayElems, ctx)
      .groupBy((col("id") / 1024).cast("long").as("g"))
      .agg(collect_list(col("value").cast("int")).as("ai"))
      .select(col("ai"), col("ai").cast("array<bigint>").as("al"))
      .persist(StorageLevel.MEMORY_ONLY)
    arrays.count()
    Seq("int" -> "ai", "long" -> "al").foreach { case (k, c) =>
      val q = arrays.select(expr(s"hybrid_sort_array($c)"))
      noop(q)
      put(s"HybridSortArray.${k}_elems_per_s", ArrayElems / medianTime(3)(noop(q)), "elems/s")
    }
    arrays.unpersist(true)

    val key = "spark.graft.hybridSort.spillRows"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, (SpillRows / ctx.cpus / 4).toString)
    try {
      val sorted = Sorts.hybridSortExec(gen(spark, SpillRows, ctx).select(col("value")), 25, "value")
      sorted.queryExecution.toRdd.count()
      val exec = nodes(sorted.queryExecution.executedPlan)
        .filter(_.getClass.getSimpleName == "HybridSortExec")
      def metric(m: String) = exec.flatMap(_.metrics.get(m)).map(_.value).sum.toDouble
      put("HybridSortExec.spill_runs", metric("spillRuns"), "count")
      put("HybridSortExec.spill_bytes", metric("spillBytes"), "B")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }

    snapshots(spark, ctx, rec).foreach(out += _)

    val (n, mean) = trace.streamBatches(spark) {
      noop(graft.SparkEntry.queries("stream_hourly")(spark, ctx.dataDir))
    }
    put("StreamOps.batches", n.toDouble, "count")
    put("StreamOps.batch_mean_s", mean, "s")
    out.result()
  }

  /** A small churn on a fresh table: commit / read means, then one
    * compaction and one vacuum, with the table's file and byte counts.
    */
  private def snapshots(spark: SparkSession, ctx: Ctx, rec: Recorder): Seq[(String, (Double, String))] = {
    import spark.implicits._
    val root = Snapshots.init(s"${ctx.runDir}/probe_table")
    val rng = new java.util.SplittableRandom(ctx.seed)
    Snapshots.commit(root, (0L until TableRows).map(k => (k, rng.nextLong(1000000L)))
      .toDF("k", "v").repartition(ctx.cpus), "base")
    var deletesMax = 0
    val times = (1 to TableRounds).map { r =>
      val ups = (0 until 500).map(_ => (rng.nextLong(TableRows + TableRows / 10L), rng.nextLong(1000000L)))
        .toMap.toSeq
      val dels = (0 until 50).map(_ => rng.nextLong(TableRows.toLong)).filterNot(ups.toMap.contains).distinct
      val c = Stats.time(Snapshots.commitChanges(root, ups.toDF("k", "v"), dels.toDF("k"), "k", s"r$r"))._2
      val rd = Stats.time(Snapshots.readMerged(spark, root, "k").agg(sum(col("v"))).head())._2
      deletesMax = math.max(deletesMax, Snapshots.snapshot(root, Snapshots.latestVersion(root).get).deletes.size)
      (c, rd)
    }
    val before = Snapshots.readMerged(spark, root, "k").agg(count(lit(1)), sum(col("v"))).head()
    val written = dirBytes(new File(root))
    val compact = Stats.time(Snapshots.compactMerged(spark, root, "k"))._2
    val vacuum = Stats.time(Snapshots.vacuum(root, keepVersions = 1, minAgeMillis = 0L))._2
    val after = Snapshots.readMerged(spark, root, "k").agg(count(lit(1)), sum(col("v"))).head()
    rec.check(before == after, s"probe compaction changed the table: $before -> $after")
    val snap = Snapshots.snapshot(root, Snapshots.latestVersion(root).get)
    val stored = dirBytes(new File(root))
    val live = after.getLong(0)
    Seq(
      "Snapshots.commitChanges_s" -> (Stats.mean(times.map(_._1)), "s"),
      "Snapshots.readMerged_s" -> (Stats.mean(times.map(_._2)), "s"),
      "Snapshots.compactMerged_s" -> (compact, "s"),
      "Snapshots.vacuum_s" -> (vacuum, "s"),
      "table.files_live" -> (snap.files.size.toDouble, "count"),
      "table.delete_files_max" -> (deletesMax.toDouble, "count"),
      "table.write_amp" -> (written.toDouble / math.max(1L, stored), "ratio"),
      "table.manifest_bytes" -> (dirBytes(new File(s"$root/_graft_snaps")).toDouble, "B"),
      "table.stored_bytes_per_live_row" -> (stored.toDouble / math.max(1L, live), "B/row"))
  }
}
