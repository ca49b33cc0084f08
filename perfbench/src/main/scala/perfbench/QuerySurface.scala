package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.SparkEntry

object QuerySurface {
  /** The part of the ROADMAP's heavy tail a run has time for: the
    * flagship aggregate, a key dedup, the `Dedup` substring operator and
    * the `AsOfJoin` operator. Each is also timed on its own in the
    * traced run.
    */
  val Queries = Seq("q1_pricing_summary", "a4_dedup_by_pk", "x_dedup_substring",
    "q_asof_bucketed")

  /** Sweep orders, one row per sweep: a Williams square, in which over
    * four sweeps each query runs once in every position and, inside a
    * sweep, follows every other query exactly once. A query's latency
    * depends on the query before it (by up to 20%), so every run of four
    * sweeps meets each such pair; no query runs twice in a row, which
    * would also double the heap it leaves behind.
    */
  val Sweeps: Seq[Seq[Int]] = Seq(Seq(0, 1, 3, 2), Seq(1, 2, 0, 3), Seq(2, 3, 1, 0), Seq(3, 0, 2, 1))

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Writes `{name: oracle SQL}` for [[Queries]]; run once per checkout
    * to derive the expected results with DuckDB.
    */
  def main(args: Array[String]): Unit = {
    val oracles = SparkEntry.oracleSql
    val body = Queries.map(q => s""""$q": "${esc(oracles(q))}"""").mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(args(0)), body.getBytes("UTF-8"))
  }
}

/** `query_surface`: a fixed set of `SparkEntry.queries` entries over a
  * generated dataset into the noop sink, one query per operation, in
  * sweeps ordered by [[QuerySurface.Sweeps]] with the queries assigned
  * to its labels by the seed. Each query's result is dumped once, in
  * the first warm-up sweep; after the run the runner compares the dumps
  * with DuckDB's answer to the query's `oracleSql`.
  */
final class QuerySurface(spark: SparkSession, work: Path, seed: Long, data: String)
    extends Workload {
  import QuerySurface._

  override val opsPerRound: Int = Queries.size // one sweep

  /** Two sweeps: the first is every query's first use and writes each
    * result to parquet instead of the noop sink, for the output check;
    * a query's latency still falls by more than half in the second.
    */
  override val warmUpOps: Int = 2 * Queries.size

  /** Whole squares of four sweeps, one per 10 s: sixteen timed queries
    * at 10 s, starting at the square's third row after two warm-up sweeps.
    */
  override def opsFor(seconds: Double): Int =
    Sweeps.size * math.max(1, math.round(seconds / 10).toInt) * Queries.size

  private val labels = new Gen(seed).shuffle(Queries.toIndexedSeq)
  private val expectedRows: Map[String, Long] =
    Files.readAllLines(Paths.get(data).resolve("expected.tsv")).asScala
      .map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap
  /** Runs of each query, warm-up included. */
  private val runs = mutable.LinkedHashMap.empty[String, Int]
  /** Timed latencies of each query. */
  private val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Writes a result for the runner's check, timestamps as TIMESTAMP_NTZ. */
  private def dump(name: String, df: DataFrame): Unit =
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
      else col(f.name)
    }: _*).write.parquet(work.resolve(s"dumps/$name").toString)

  /** Set-up: read every table's schema. */
  override def setup(rep: Int): Unit =
    Files.list(Paths.get(data)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      .foreach(t => spark.read.parquet(t.toString).schema)

  override def op(i: Int): Op = {
    val name = labels(Sweeps(i / Queries.size % Sweeps.size)(i % Queries.size))
    val t0 = System.nanoTime()
    Trace.span(s"queries.$name") {
      val df = Trace.span("queries.build") { SparkEntry.queries(name)(spark, data) }
      Trace.span("queries.plan") { df.queryExecution.executedPlan }
      Trace.span("queries.exec") { if (i < Queries.size) dump(name, df) else noop(df) }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    runs(name) = runs.getOrElse(name, 0) + 1
    if (i >= warmUpOps) perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs
    Op(secs, expectedRows(name), kind = name)
  }

  /** Lists each query's runs; the runner checks the warm-up's dumps. */
  override def finish(): Seq[String] = {
    val counts = runs.map { case (q, n) => s"$q\t$n" }
    Files.write(work.resolve("query_ops.tsv"), counts.asJava)
    Nil
  }

  override def layers(): Map[String, Double] =
    Map("queries.build_s" -> Trace.total("queries.build"),
      "queries.plan_s" -> Trace.total("queries.plan"),
      "queries.exec_s" -> Trace.total("queries.exec")) ++
      Queries.map(q => s"queries.${q}_s" ->
        perQuery.get(q).map(xs => Main.quantile(xs.toSeq, 0.5)).getOrElse(0.0))

  override def close(): Unit = ()
}
