package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Outcome of one closed-loop operation: a sync cycle or one query.
  *
  * @param seconds  latency, excluding input generation
  * @param rows     rows the operation committed to its sink
  * @param problems failed output checks; any makes the operation fail
  * @param kind     what the operation ran, where a workload mixes kinds
  */
final case class Op(seconds: Double, rows: Long, problems: Seq[String] = Nil,
    kind: String = "")

/** One workload. The runner calls [[setup]] several times (each builds
  * the starting state afresh; the last one is kept), then [[op]]
  * [[warmUpOps]] times off the clock, then in a closed loop [[opsFor]]
  * times, then [[finish]]. Operations are numbered from 0 across both.
  */
trait Workload {
  /** Operations per round: `run_s` is the wall time of one round. */
  def opsPerRound: Int
  /** Untimed operations before the timed ones: each code path's first
    * use (class loading, JIT, code generation) is paid there once, as a
    * long-running service pays it once, not in every operation.
    */
  def warmUpOps: Int
  /** Operations in a run measuring about `seconds`: a fixed count, so
    * every run of a workload does the same work.
    */
  def opsFor(seconds: Double): Int
  def setup(rep: Int): Unit
  def op(i: Int): Op
  /** Output checks outside the timed region; each message is a failure. */
  def finish(): Seq[String]
  /** Workload-specific per-layer metrics of the traced run. */
  def layers(): Map[String, Double]
  def close(): Unit
}

/** Entry point of one benchmark run (see perfbench/README.md). Writes
  * a JSON object with the run's metrics to `--out`.
  */
object Main {
  /** Spark local cores: fixed, so every run has the same parallelism.
    * One core of the four the benchmark is built for stays free for the
    * JIT compiler, the garbage collector and the driver's own threads,
    * which otherwise preempt task threads and widen the spread of
    * `sync_steady`'s cycle times from run to run.
    */
  val Cores = 3
  val SetupReps = 3
  /** The quantile `cycle_tail_s` reports of operations of one kind. */
  val CycleTailQ = 0.75

  /** The per-layer metrics every traced run reports (BENCHMARK.json). */
  val PerLayer: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.task_skew",
    "streaming.poll_s", "streaming.gate_skip_ratio", "streaming.planning_s",
    "streaming.wal_commit_s", "streaming.batches", "streaming.load_dim_s",
    "streaming.load_employees_s",
    "sinks.jdbc_employees_s", "sinks.jdbc_tasks_s", "sinks.jdbc_bridge_s",
    "sinks.jdbc_dim_s", "sinks.jdbc_watermark_s", "sinks.busy_s",
    "sinks.connections", "sinks.statements", "sinks.rows_written",
    "sinks.applied_ratio", "sinks.shim_overhead_s",
    "queries.build_s", "queries.plan_s", "queries.exec_s") ++
    QuerySurface.Queries.map(q => s"queries.${q}_s") ++ Seq(
    "self.streaming_s", "self.sinks_s", "self.queries_s", "self.unattributed_s",
    "trace.run_s", "trace.busy_s")

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Exception => Thread.sleep(500) }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work: Path = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out"))
    Files.createDirectories(work)

    // wall time of each phase's end since the JVM started, for the run record
    val phases = mutable.LinkedHashMap.empty[String, Double]
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def phaseEnd(name: String): Unit = phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val spark = GraftSession.builder(Cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val w: Workload = workload match {
      case "sync_steady" => new SyncWorkload(spark, work, seed, backfill = false)
      case "sync_backfill" => new SyncWorkload(spark, work, seed, backfill = true)
      case "query_surface" => new QuerySurface(spark, work, seed, opt("data"))
      case "curation_day" => new CurationDay(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    phaseEnd("session")
    val setupTimes = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }

    var failed = 0
    def runOp(i: Int): Op = {
      val t0 = System.nanoTime()
      val o = try w.op(i) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op $i failed: $e")
          e.printStackTrace()
          Op((System.nanoTime() - t0) / 1e9, 0L, Seq(e.toString))
      }
      if (o.problems.nonEmpty) {
        failed += 1
        o.problems.take(5).foreach(p => System.err.println(s"[perfbench] op $i: $p"))
      }
      o
    }
    phaseEnd("setup")
    val warm = w.warmUpOps
    val warmSeconds = (0 until warm).map(i => runOp(i).seconds)
    phaseEnd("warm_up")
    // the ledgers see only the timed operations' events
    drainListenerBus(spark)
    System.gc()

    val sparkLedger = new SparkLedger
    val streamLedger = new StreamLedger
    if (trace) {
      Trace.enabled = true
      spark.sparkContext.addSparkListener(sparkLedger)
      spark.streams.addListener(streamLedger)
    }
    DerbyStore.reset()
    drainListenerBus(spark)

    // the closed loop: one client, the next operation starts when the
    // previous one has finished
    val ops = mutable.ArrayBuffer.empty[Op]
    var busy = 0.0
    var peakLiveBytes = 0L
    val liveMb = mutable.ArrayBuffer.empty[Double]
    val opSpansMs = mutable.ArrayBuffer.empty[(Long, Long)]
    val target = w.opsFor(seconds)
    // the cap keeps a much slower program inside the run's time limit
    while (ops.size < target && busy < 4 * seconds) {
      val i = warm + ops.size
      Trace.traceId = s"$workload-$i"
      val startMs = System.currentTimeMillis()
      val o = runOp(i)
      ops += o
      busy += o.seconds
      opSpansMs += ((startMs, System.currentTimeMillis()))
      // a full collection between operations, off the clock: each
      // operation starts from the same heap state, and the live heap
      // after it is the heap the run needs
      System.gc()
      // each pool's use right after that collection: threads that
      // allocate meanwhile do not count
      val live = heapPools.map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed).sum
      liveMb += live / 1048576.0
      peakLiveBytes = math.max(peakLiveBytes, live)
    }
    drainListenerBus(spark)
    Trace.enabled = false
    spark.sparkContext.removeSparkListener(sparkLedger)
    spark.streams.removeListener(streamLedger)
    val peakHeapMb = peakLiveBytes / 1048576.0

    phaseEnd("timed")
    // output checks, outside the timed region
    val checkProblems = try w.finish() catch { case e: Exception => Seq(e.toString) }
    phaseEnd("checks")
    checkProblems.take(10).foreach(p => System.err.println(s"[perfbench] check: $p"))
    val attempted = warm + ops.size + 1 // the end-of-run output check is one more operation
    val failedAll = failed + (if (checkProblems.nonEmpty) 1 else 0)

    val lat = ops.map(_.seconds).toSeq
    // operations of several kinds (four queries) form one cluster of
    // latencies per kind, and a pooled quantile jumps between clusters:
    // the statistics below are over each kind's median latency
    val kindMedians = ops.groupBy(_.kind).values.map(k => quantile(k.map(_.seconds).toSeq, 0.5)).toSeq
    val roundS = kindMedians.sum / kindMedians.size * w.opsPerRound
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = (quantile(setupTimes, 0.5), "s")
      metrics("run_s") = (roundS, "s")
      metrics("cycle_p50_s") = (quantile(kindMedians, 0.5), "s")
      metrics("cycle_tail_s") =
        (if (kindMedians.size > 1) kindMedians.max else quantile(lat, CycleTailQ), "s")
      metrics("rows_per_s") = (ops.map(_.rows).sum.toDouble / ops.size * w.opsPerRound / roundS, "1/s")
      metrics("peak_heap_mb") = (peakHeapMb, "MB")
    } else {
      val v = mutable.HashMap.empty[String, Double]
      v("spark.jobs") = sparkLedger.jobs.toDouble
      v("spark.stages") = sparkLedger.stages.toDouble
      v("spark.tasks") = sparkLedger.tasks.toDouble
      v("spark.driver_gap_s") = opSpansMs.map { case (a, b) => sparkLedger.idleMs(a, b) }.sum / 1e3
      v("spark.executor_run_s") = sparkLedger.runMs / 1e3
      v("spark.executor_cpu_s") = sparkLedger.cpuNs / 1e9
      v("spark.gc_s") = sparkLedger.gcMs / 1e3
      v("spark.shuffle_write_mb") = sparkLedger.shuffleWrite / 1048576.0
      v("spark.shuffle_read_mb") = sparkLedger.shuffleRead / 1048576.0
      v("spark.spill_mb") = sparkLedger.spill / 1048576.0
      v("spark.task_skew") = sparkLedger.skew
      v("streaming.planning_s") = streamLedger.planningMs / 1e3
      v("streaming.wal_commit_s") = streamLedger.walCommitMs / 1e3
      v("streaming.batches") = streamLedger.batches.toDouble
      v ++= w.layers()
      // self time per layer inside the operations; the benchmark's own
      // root spans keep only what no layer span covers: unattributed
      // JDBC calls run on executor threads inside the streams' spans:
      // their wall time moves from the streaming layer to the sinks
      val jdbc = v.getOrElse("sinks.busy_s", 0.0) - v.getOrElse("sinks.jdbc_watermark_s", 0.0)
      val self = (Trace.selfTimeByLayer - "bench").map {
        case ("sinks", s) => "sinks" -> (s + jdbc)
        case ("streaming", s) => "streaming" -> (s - jdbc)
        case other => other
      }
      self.foreach { case (layer, s) => v(s"self.${layer}_s") = s }
      v("self.unattributed_s") = math.max(0.0, busy - self.values.sum)
      v("trace.run_s") = roundS
      v("trace.busy_s") = busy
      def unit(k: String): String =
        if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
        else if (k.endsWith("_ratio") || k.endsWith("_skew")) "ratio" else "count"
      // every listed metric, 0 where the workload does not use the layer
      (PerLayer ++ v.keys.toSeq.sorted.filterNot(PerLayer.contains))
        .foreach(k => metrics(k) = (v.getOrElse(k, 0.0), unit(k)))
      Trace.writeJsonl(work.resolve("spans.jsonl"))
    }
    val info = Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString,
      "cores" -> Cores.toString, "ops" -> ops.size.toString,
      "setup_runs_s" -> setupTimes.map(jsonNum).mkString("[", ",", "]"),
      "warm_up_op_seconds" -> warmSeconds.map(jsonNum).mkString("[", ",", "]"),
      "op_seconds" -> lat.map(jsonNum).mkString("[", ",", "]"),
      "phase_end_s" -> phases.map { case (k, v) => s""""$k": ${jsonNum(v)}""" }.mkString("{", ", ", "}"),
      "live_heap_mb" -> liveMb.map(v => f"$v%.1f").mkString("[", ",", "]"),
      "op_kinds" -> ops.map(o => s""""${o.kind}"""").mkString("[", ",", "]"),
      "cycle_tail" -> (if (ops.map(_.kind).distinct.size > 1) "\"median of the slowest kind\""
        else s""""p${(CycleTailQ * 100).round}""""))
    val json = new StringBuilder
    json ++= s"""{"correct": ${failedAll == 0}, "attempted": $attempted, "failed": $failedAll, "metrics": {"""
    json ++= metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    json ++= "}, \"info\": {" + info.map { case (k, v) => s""""$k": $v""" }.mkString(", ") + "}}"
    Files.write(out, json.toString.getBytes("UTF-8"))
    w.close()
    spark.stop()
  }
}
