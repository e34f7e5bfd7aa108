package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `catalog`: one cold pass over a fixed, family-stratified sample of
  * `SparkEntry.queries`, in a seeded order, each query written to the noop
  * sink. After each timed query the benchmark re-runs it off the clock and
  * checks its row count and order-insensitive digest against the goldens.
  * One pass is one unit; each query is one op, of its own kind.
  */
object Catalog extends Workload {
  /** One query per ~20 of the catalog, at least one per family: in each
    * family, the queries whose cold sf0.01 time on a 4-core host lies
    * nearest the family's median. The whole catalog's cold pass takes
    * ~210 s there, far beyond one run; this sample takes ~12 s.
    */
  val Sample: Seq[String] = Seq(
    "q1_pricing", "full_outer",              // relational
    "hybrid_sort_t5",                        // sort
    "dup_spans",                             // dedup_graph
    "cluster_mix", "rrf_fusion",             // similarity
    "stopword_ratio", "zipf_slope",          // text
    "weighted_quantiles_grouped",            // sketch_quantile
    "range_join_date",                       // timeseries
    "partitioned_scan", "snapshot_asof_ts",  // table
    "stream_hourly",                         // streaming
    "dp_counts")                             // other

  def goldensPath(ctx: Ctx): String = s"${ctx.dataDir}.goldens.tsv"

  def setup(spark: SparkSession, ctx: Ctx): Unit = {
    Seq("lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"${ctx.dataDir}/$t.parquet").limit(100).collect()
    }
    graft.ops.Tables.events(spark, ctx.dataDir).limit(100).collect(): Unit
  }

  def run(spark: SparkSession, ctx: Ctx, rec: Recorder): Unit = {
    val goldens = Digest.load(goldensPath(ctx))
    val order = new scala.util.Random(ctx.seed).shuffle(Sample)
    var pass = 0.0
    order.zipWithIndex.foreach { case (q, i) =>
      val fn = SparkEntry.queries(q)
      rec.attempt(q) {
        val t0 = System.currentTimeMillis()
        val (df, b) = Stats.time(fn(spark, ctx.dataDir))
        val (_, e) = Stats.time(df.write.format("noop").mode("overwrite").save())
        // each query is its own op kind: op_s is then the geometric mean of
        // the 14 query latencies, not the latency of whichever query sorts
        // to the middle
        rec.add(Op(q, Families.of(q), b, e, t0, System.currentTimeMillis()))
        pass += b + e
      }.foreach { _ =>
        try {
          val got = Digest.of(fn(spark, ctx.dataDir))
          rec.check(goldens.get(q).contains(got),
            s"$q: digest $got, golden ${goldens.get(q)}")
        } catch { case scala.util.control.NonFatal(e) =>
          rec.fail(s"$q check: ${e.getMessage}")
        }
      }
      Session.hygiene(spark, i)
    }
    rec.units += pass
  }
}

/** Order-insensitive digest of a query result: row count plus the sum of
  * the low 32 bits and the XOR of a 64-bit row hash. Floating-point
  * values enter the hash as 9 significant digits, so partition-order
  * differences in the last bits of a sum do not change the digest.
  */
object Digest {
  final case class D(rows: Long, sum32: Long, xor: Long) {
    override def toString: String = s"$rows\t$sum32\t$xor"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.9g", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      struct(st.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        norm(e.getField("key"), kt).as("key"), norm(e.getField("value"), vt).as("value"))))
    case _ => c
  }

  def of(df: DataFrame): D = {
    val h = xxhash64(df.schema.fields.toIndexedSeq.map(f =>
      norm(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(bit_xor(col("h")), lit(0L))).head()
    D(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def load(path: String): Map[String, D] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, n, s, x) = l.split("\t")
        q -> D(n.toLong, s.toLong, x.toLong)
      }.toMap
}

/** Writes the digest of every `SparkEntry.queries` entry as a TSV of
  * `query rows sum32 xor`: `RecordGoldens <corpus dir> <out.tsv>`.
  */
object RecordGoldens {
  def main(args: Array[String]): Unit = {
    val ctx = Ctx("catalog", 0L, 0.0, trace = false, args(0), args(2))
    val spark = Session.start(ctx)
    val lines = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map { case (q, i) =>
      val d = Digest.of(SparkEntry.queries(q)(spark, ctx.dataDir))
      Session.hygiene(spark, i)
      s"$q\t$d"
    }
    Files.write(Paths.get(args(1)),
      ("# query\trows\tsum32\txor\n" + lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    Session.stop(spark)
  }
}
