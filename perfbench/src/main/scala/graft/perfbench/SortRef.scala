package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.Sorts

/** `sort_ref`: the reference pipeline (generate → range scatter → hybrid
  * sort → ordered output) on seeded ints in `[0, 5·10⁶)`. A round has four
  * ops: `Sorts.globalSort` (Tungsten) and `Sorts.hybridSortExec(…, 25, …)`
  * over `Rows` generated ints, and `hybrid_sort_array` over `Arrays`
  * cached arrays of `ArrayLen` ints, then of longs. One round is one unit.
  */
object SortRef extends Workload {
  val Rows = 1L << 21
  val Bound = 5000000L
  val ArrayLen = 1024
  val Arrays = 8192
  /** Per-task run budget of `HybridSortExec`: a quarter of a task's rows,
    * so every task spills sorted runs and merges them, as the default
    * budget does at ~5M rows per task.
    */
  def spillRows(ctx: Ctx): Long = Rows / ctx.cpus / 4

  /** `Rows` seeded values: the engine's `graft-gen` source over an id
    * window picked by the seed, scrambled by a seeded hash.
    */
  def input(spark: SparkSession, ctx: Ctx): DataFrame = {
    val off = Math.floorMod(ctx.seed, 1000L) * Rows
    spark.read.format("graft-gen").option("n", (off + Rows).toString)
      .option("numPartitions", ctx.cpus.toString).load()
      .where(col("id") >= off)
      .select(pmod(xxhash64(col("value"), lit(ctx.seed)), lit(Bound)).cast("int").as("v"))
  }

  private var arrays: DataFrame = _
  private var expect: (Long, Long) = _
  private var arrayExpect: (Long, Long) = _

  /** `Arrays` × `ArrayLen` seeded values in `[0, 5·10⁶)`, generated as
    * arrays (no shuffle), in int and long columns.
    */
  def arrayInput(spark: SparkSession, ctx: Ctx): DataFrame =
    spark.range(0, Arrays, 1, ctx.cpus)
      .select(transform(sequence(lit(0L), lit(ArrayLen - 1L)), j =>
        pmod(xxhash64(col("id") * ArrayLen + j, lit(ctx.seed)), lit(Bound)).cast("int")).as("ai"))
      .select(col("ai"), col("ai").cast("array<bigint>").as("al"))

  private def countSum(df: DataFrame, c: String): (Long, Long) = {
    val r = df.select(sum(size(col(c))), sum(aggregate(col(c).cast("array<bigint>"), lit(0L),
      (a, x) => a + x))).head()
    (r.getLong(0), r.getLong(1))
  }

  def setup(spark: SparkSession, ctx: Ctx): Unit = {
    graft.functions.GraftFunctions.register(spark)
    spark.conf.set("spark.graft.hybridSort.spillRows", spillRows(ctx).toString)
    val in = input(spark, ctx)
    val r = in.agg(count(lit(1)), sum(col("v").cast("long"))).head()
    expect = (r.getLong(0), r.getLong(1))
    arrays = arrayInput(spark, ctx).persist(StorageLevel.MEMORY_ONLY)
    arrayExpect = countSum(arrays, "ai")
    // one small sort compiles the sort path before timing
    Sorts.globalSort(in.limit(1000), col("v")).write.format("noop").mode("overwrite").save()
  }

  private def ops(spark: SparkSession, ctx: Ctx): Seq[(String, () => DataFrame)] = Seq(
    "global" -> (() => Sorts.globalSort(input(spark, ctx), col("v"))),
    "hybrid_exec" -> (() => Sorts.hybridSortExec(input(spark, ctx), 25, "v")),
    "array_int" -> (() => arrays.select(expr("hybrid_sort_array(ai)").as("s"))),
    "array_long" -> (() => arrays.select(expr("hybrid_sort_array(al)").as("s"))))

  def run(spark: SparkSession, ctx: Ctx, rec: Recorder): Unit = {
    ops(spark, ctx).foreach { case (kind, mk) => check(kind, mk(), rec) }
    // one untimed round: the first noop round runs ~20% slower (JIT)
    ops(spark, ctx).foreach { case (kind, mk) =>
      rec.attempt(s"$kind warm-up")(mk().write.format("noop").mode("overwrite").save())
    }
    val t0 = System.nanoTime()
    while (Stats.since(t0) < ctx.seconds) {
      var round = 0.0
      ops(spark, ctx).foreach { case (kind, mk) =>
        rec.attempt(kind) {
          val s = System.currentTimeMillis()
          val (df, b) = Stats.time(mk())
          val (_, e) = Stats.time(df.write.format("noop").mode("overwrite").save())
          rec.add(Op(kind, "sort", b, e, s, System.currentTimeMillis()))
          round += b + e
        }
      }
      rec.units += round
    }
  }

  /** Off the clock, once per kind: the output is nondecreasing within and
    * across partitions (in partition order), and its count and sum equal
    * the input's; each sorted array equals `array_sort` of itself.
    */
  private def check(kind: String, df: DataFrame, rec: Recorder): Unit = try {
    if (kind.startsWith("array")) {
      val c = df.columns.head
      val unsorted = df.where(col(c).cast("array<bigint>") =!= array_sort(col(c).cast("array<bigint>")))
        .count()
      val got = countSum(df, c)
      rec.check(got == arrayExpect && unsorted == 0L,
        s"$kind: (count, sum) = $got, expected $arrayExpect; $unsorted arrays unsorted")
    } else {
      val parts = df.select(col("v").cast("long")).rdd.mapPartitionsWithIndex { (p, it) =>
        var (n, s, first, last, sorted) = (0L, 0L, Long.MinValue, Long.MinValue, true)
        it.foreach { (row: Row) =>
          val v = row.getLong(0)
          if (n == 0) first = v else if (v < last) sorted = false
          last = v; n += 1; s += v
        }
        Iterator((p, n, s, first, last, sorted))
      }.collect().sortBy(_._1).filter(_._2 > 0)
      val across = parts.sliding(2).forall {
        case Array(a, b) => a._5 <= b._4
        case _ => true
      }
      val got = (parts.map(_._2).sum, parts.map(_._3).sum)
      rec.check(got == expect && parts.forall(_._6) && across,
        s"$kind: (count, sum) = $got, expected $expect; sorted=${parts.forall(_._6)} across=$across")
    }
  } catch { case scala.util.control.NonFatal(e) => rec.fail(s"$kind check: ${e.getMessage}") }
}
