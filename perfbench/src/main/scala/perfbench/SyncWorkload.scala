package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.Validation
import graft.models.Schemas
import graft.sinks.{DerbyDialect, JdbcMergeWriter, MergeSpecs}
import graft.streaming.{Backfill, FetchResult, HashGatedPoller, Pipelines, SnapshotFetcher}

final case class Emp(id: Long, fullname: String, shortname: String,
    position: String, email: String, phone: String) {
  def row: Row = Row(id, fullname, shortname, position, email, phone)
}

final case class Tsk(id: Long, typ: String, creation: Timestamp,
    closing: Timestamp, description: String, address: String,
    customer: String, login: String, comments: Seq[String],
    executors: Seq[String], closed: Boolean) {
  def row: Row = Row(id, typ, creation, closing, description, address,
    customer, login, comments, executors, closed)
}

/** How the seeded upstream simulator shapes its input. */
final case class SyncShape(
    employees: Int,
    tasksPerCycle: Int,
    unchangedSnapshotShare: Double, // employee snapshots re-served as they were (every 1/share-th)
    identicalRowShare: Double,      // re-served tasks with no change
    changedAddressShare: Double,    // re-served tasks whose address changed
    invalidEmailShare: Double,
    fanoutZipf: Double,             // executors per task, Zipf over 0..maxFanout
    maxFanout: Int,
    unmatchedShare: Double)         // executor shortnames with no employee

/** Seeded upstream: serves employee snapshots and daily task envelopes. */
final class Upstream(seed: Long, shape: SyncShape) {
  private val g = new Gen(seed)
  private val types = (1 to 12).map(i => s"type-$i")
  private val typeZipf = new Zipf(types.size, 1.1)
  private val fanZipf = new Zipf(shape.maxFanout + 1, shape.fanoutZipf)
  private val empZipf = new Zipf(shape.employees, 1.2)
  private val addresses = (1 to 400).map(i => s"$i Forge Street, block ${i % 17}")
  private val comments = (1 to 30).map(i => s"note $i: called the customer")
  val zeroTime: Timestamp = Timestamp.from(Instant.parse("0001-01-01T00:00:00Z"))

  private def email(id: Long): String =
    if (g.chance(shape.invalidEmailShare)) g.pick(IndexedSeq("", "no-at-sign", "x@y", "a b@c.io"))
    else s"user$id.${g.int(1000)}@forge.example.com"

  private def employee(id: Long): Emp =
    Emp(id, s"Worker $id ${g.int(100000)}", s"sn$id", s"position-${g.int(20)}",
      email(id), s"+38050${1000000 + g.int(8999999)}")

  var employees: IndexedSeq[Emp] = (1L to shape.employees.toLong).map(employee)
  private var empVersion = 0
  val shortnames: IndexedSeq[String] = employees.map(_.shortname)

  /** The employee snapshot of a cycle and its hash: the first one
    * (cycle < 0), an unchanged one, or one with a few rows changed.
    */
  def nextEmployees(cycle: Int): (IndexedSeq[Emp], String) =
    if (cycle < 0 || cycle % math.round(1 / shape.unchangedSnapshotShare) == 1)
      (employees, s"emp-$empVersion")
    else {
      val changed = (0 until math.max(1, shape.employees / 50))
        .map(_ => employees(g.int(employees.size)).id).toSet
      employees = employees.map { e =>
        if (!changed(e.id)) e
        else if (g.chance(0.5)) e.copy(position = s"position-${20 + g.int(20)}")
        else e.copy(email = email(e.id))
      }
      empVersion += 1
      (employees, s"emp-$empVersion")
    }

  private def executors(): Seq[String] =
    (0 until fanZipf.sample(g)).map { _ =>
      if (g.chance(shape.unmatchedShare)) s"ghost${g.int(50)}"
      else shortnames(empZipf.sample(g))
    }.distinct

  def newTask(id: Long, day: LocalDate): Tsk = {
    val start = day.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
    val created = new Timestamp(start + g.int(86400) * 1000L)
    val closing = if (g.chance(0.4)) zeroTime
      else new Timestamp(created.getTime + (1 + g.int(72)) * 3600000L)
    Tsk(id, types(typeZipf.sample(g)), created, closing,
      s"repair request $id: ${g.int(1000)} units", g.pick(addresses),
      s"Customer ${g.int(5000)}", s"login${g.int(5000)}",
      (0 until g.int(4)).map(_ => g.pick(comments)), executors(),
      !closing.equals(zeroTime))
  }

  /** A re-served task: identical, with a new address, or with new executors. */
  def reserve(t: Tsk): Tsk = {
    val u = g.double()
    if (u < shape.identicalRowShare) t
    else if (u < shape.identicalRowShare + shape.changedAddressShare)
      t.copy(address = g.pick(addresses) + s" apt ${g.int(99)}")
    else t.copy(executors = executors())
  }
}

/** Plain-Scala model of the store after the served snapshots. */
final class StoreModel {
  val employees = mutable.HashMap.empty[Long, Emp]
  val tasks = mutable.HashMap.empty[Long, (Tsk, Boolean)] // task, geocoded
  var watermark: Option[Timestamp] = None

  def repairedEmail(e: Emp): String =
    if (e.email != null && e.email.matches(Validation.EmailRegex)) e.email
    else "gen-" + md5(e.id.toString).take(12) + "@placeholder.local"

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Employees whose stored row a snapshot changes. */
  def applyEmployees(snapshot: Seq[Emp]): Int = {
    byShortCache = null
    var changed = 0
    snapshot.foreach { e =>
      val stored = employees.get(e.id)
      val next = e.copy(email = repairedEmail(e))
      if (!stored.contains(next)) changed += 1
      employees(e.id) = next
    }
    changed
  }

  def applyTasks(batch: Seq[Tsk]): Unit = batch.foreach { t =>
    val geocoded = tasks.get(t.id).exists { case (old, g) => g && old.address == t.address }
    tasks(t.id) = (t, geocoded)
  }

  def geocodeAll(): Unit = tasks.keys.toList.foreach(k => tasks(k) = (tasks(k)._1, true))

  private var byShortCache: Map[String, Long] = null

  def bridge(t: Tsk): Seq[Option[Long]] = {
    if (byShortCache == null) byShortCache = employees.values.map(e => e.shortname -> e.id).toMap
    val byShort = byShortCache
    if (t.executors.isEmpty) Seq(None)
    else t.executors.map(byShort.get).sortBy(_.getOrElse(Long.MinValue))
  }
}

/** The reference's sync cycle, through the program's public pipeline
  * functions, against in-memory Derby.
  *
  * `sync_steady` (maintenance mode): set-up preloads the store with the
  * "today" batch; every cycle re-serves the employee snapshot and that
  * batch, mostly unchanged. `sync_backfill` (`backfill`): set-up leaves
  * the store with employees only; cycle i catches up day i with a batch
  * of new tasks, and the unchanged employee snapshot is gate-skipped.
  *
  * A cycle: the upstream's envelopes are ready → [[HashGatedPoller.poll]]
  * writes each to the landing zone → the program's streams
  * ([[Pipelines.employeeStream]], then [[Pipelines.taskStream]]) drain
  * them into the store → [[Backfill.run]] saves the watermark. The
  * cycle's latency runs from the envelopes being ready to the watermark
  * commit.
  */
final class SyncWorkload(spark: SparkSession, work: Path, seed: Long, backfill: Boolean)
    extends Workload {

  /** Assumed, not taken from the reference's traffic: the shares make
    * every branch of the merges run (UPDATE, no-op, geo-preserve,
    * bridge rewrite, email repair, gate skip), and 20,000 tasks offer
    * the store about 50,000 rows a cycle. A backfill day brings a few
    * thousand new tasks.
    */
  private val shape = SyncShape(employees = 3000, tasksPerCycle = if (backfill) 3000 else 20000,
    unchangedSnapshotShare = 0.2, identicalRowShare = 0.9,
    changedAddressShare = 0.05, invalidEmailShare = 0.1,
    fanoutZipf = 1.3, maxFanout = 4, unmatchedShare = 0.05)
  /** The day every steady cycle re-serves; the first backfill day. */
  private val today0 = LocalDate.of(2024, 1, 1)

  override val opsPerRound: Int = 7 // a week of cycles

  /** Two cycles: the streams' first micro-batches, then one more, as
    * the second cycle is still slower than the later ones.
    */
  override val warmUpOps: Int = 2

  /** Cycles in a run: about `seconds` worth on a 4-core box. */
  override def opsFor(seconds: Double): Int =
    math.max(3, math.round(seconds / (if (backfill) 1.5 else 4.0)).toInt)

  private var upstream: Upstream = _
  private var model: StoreModel = _
  private var store: DerbyStore.Store = _
  private var streams: Seq[StreamingQuery] = Nil
  private var empStream: StreamingQuery = _
  private var taskStream: StreamingQuery = _
  private var empPoller: HashGatedPoller[Emp] = _
  private var taskPoller: HashGatedPoller[Tsk] = _
  private var dir: Path = _
  private var today: IndexedSeq[Tsk] = IndexedSeq.empty
  private var staged = 0
  private var polls = 0
  private var skips = 0
  // the envelope the upstream serves on the next fetch
  private var nextEmp: FetchResult[Emp] = _
  private var nextTasks: FetchResult[Tsk] = _

  private def ts(d: LocalDate): Timestamp = Timestamp.from(d.atStartOfDay(ZoneOffset.UTC).toInstant)

  private val props = new Properties

  private def loadDim(): DataFrame = Trace.span("streaming.load_dim") {
    spark.read.jdbc(store.url, "task_types", props).select("type_id", "type_name")
  }

  private def loadEmployees(): DataFrame = Trace.span("streaming.load_employees") {
    spark.read.jdbc(store.url, "employees", props).select("id", "shortname")
  }

  /** Landing-zone write: stage the envelope as parquet, then move its
    * files into the watched directory, so the stream never sees a
    * half-written file.
    */
  private def land[T](rows: Seq[T], toRow: T => Row,
      schema: org.apache.spark.sql.types.StructType, zone: String): Unit = {
    val stage = dir.resolve(s"staging/$staged")
    staged += 1
    spark.createDataFrame(rows.map(toRow).asJava, schema).coalesce(1).write
      .option("datetimeRebaseMode", "CORRECTED") // Go zero-time dates
      .parquet(stage.toString)
    val target = dir.resolve(zone)
    Files.list(stage).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.move(f, target.resolve(s"${staged}-${f.getFileName}")))
  }

  private def fetcher[T](next: () => FetchResult[T]): SnapshotFetcher[T] =
    new SnapshotFetcher[T] { def fetch(known: Option[String]): FetchResult[T] = next() }

  private def saveWatermark(t: Timestamp): Unit = Trace.span("sinks.watermark") {
    import spark.implicits._
    JdbcMergeWriter.upsert(Seq((1, t)).toDF("id", "last_processed_date"),
      MergeSpecs.scraperStatus, DerbyDialect, store.cf)
  }

  override def setup(rep: Int): Unit = {
    close()
    upstream = new Upstream(seed, shape)
    model = new StoreModel
    store = new DerbyStore.Store(s"sync_$rep")
    store.createSchema()
    dir = work.resolve(s"sync-$rep")
    Seq("landing/employees", "landing/tasks", "staging").foreach(d =>
      Files.createDirectories(dir.resolve(d)))
    val trigger = Trigger.ProcessingTime("50 milliseconds")
    empStream = Pipelines.employeeStream(spark, dir.resolve("landing/employees").toString,
      dir.resolve("ckpt/employees").toString, DerbyDialect, store.cf, trigger)
    taskStream = Pipelines.taskStream(spark, dir.resolve("landing/tasks").toString,
      dir.resolve("ckpt/tasks").toString, DerbyDialect, store.cf,
      () => loadDim(), () => loadEmployees(), trigger)
    streams = Seq(empStream, taskStream)
    empPoller = new HashGatedPoller[Emp](fetcher(() => nextEmp),
      b => land[Emp](b, _.row, Schemas.employee, "landing/employees"))
    taskPoller = new HashGatedPoller[Tsk](fetcher(() => nextTasks),
      b => land[Tsk](b, _.row, Schemas.task, "landing/tasks"))

    // the employee snapshot is served first
    val (emps, hash) = upstream.nextEmployees(-1)
    nextEmp = FetchResult(hash, emps)
    empPoller.poll()
    empStream.processAllAvailable()
    model.applyEmployees(emps)
    // steady: a large store, as earlier cycles and a geocoder pass left it
    if (!backfill) {
      today = (0 until shape.tasksPerCycle).map(i => upstream.newTask(1000000L + i, today0))
      preload(today)
      model.applyTasks(today)
      model.geocodeAll()
    }
    polls = 0
    skips = 0
  }

  /** Bulk-loads tasks and their bridge rows straight into the store,
    * geocoded, in the form the task pipeline writes them.
    */
  private def preload(tasks: Seq[Tsk]): Unit = {
    val c = store.raw()
    try {
      c.setAutoCommit(false)
      val types = tasks.map(_.typ).distinct.sorted
      val ti = c.prepareStatement("INSERT INTO task_types (type_name) VALUES (?)")
      types.foreach { t => ti.setString(1, t); ti.addBatch() }
      ti.executeBatch()
      val typeId = types.map { t =>
        val q = c.prepareStatement("SELECT type_id FROM task_types WHERE type_name = ?")
        q.setString(1, t)
        val rs = q.executeQuery(); rs.next()
        t -> rs.getInt(1)
      }.toMap
      val ins = c.prepareStatement("""INSERT INTO tasks (task_id, task_type_id,
        creation_date, closing_date, description, address, customer_name,
        customer_login, comments, is_closed, latitude, longitude,
        geocoding_attempts) VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, 1)""")
      val br = c.prepareStatement("INSERT INTO task_executors (task_id, executor_id) VALUES (?, ?)")
      tasks.foreach { t =>
        ins.setLong(1, t.id); ins.setInt(2, typeId(t.typ)); ins.setTimestamp(3, t.creation)
        if (t.closing.equals(upstream.zeroTime)) ins.setNull(4, java.sql.Types.TIMESTAMP)
        else ins.setTimestamp(4, t.closing)
        ins.setString(5, t.description); ins.setString(6, t.address)
        ins.setString(7, t.customer); ins.setString(8, t.login)
        ins.setString(9, t.comments.mkString(DerbyStore.Sep)); ins.setBoolean(10, t.closed)
        ins.setDouble(11, (t.id % 90).toDouble); ins.setDouble(12, (t.id % 180).toDouble)
        ins.addBatch()
        model.bridge(t).foreach { e =>
          br.setLong(1, t.id)
          e match {
            case Some(id) => br.setLong(2, id)
            case None => br.setNull(2, java.sql.Types.BIGINT)
          }
          br.addBatch()
        }
      }
      ins.executeBatch()
      br.executeBatch()
      c.commit()
    } finally c.close()
  }

  override def op(i: Int): Op = {
    // the upstream prepares the envelope before the cycle's clock starts
    val day = if (backfill) today0.plusDays(i) else today0
    val (emps, hash) = upstream.nextEmployees(if (backfill) -1 else i)
    nextEmp = FetchResult(hash, emps)
    today =
      if (backfill) (0 until shape.tasksPerCycle).map(k => upstream.newTask(1000000L * (i + 1) + k, day))
      else today.map(upstream.reserve)
    nextTasks = FetchResult(s"tasks-$i", today)
    val rows0 = DerbyStore.rowsApplied.sum
    val emp0 = DerbyStore.appliedRows("employees")

    val t0 = System.nanoTime()
    Trace.span("bench.cycle") {
      val processed = Trace.span("streaming.poll") { empPoller.poll() }
      polls += 1
      if (processed) Trace.span("streaming.drain") { empStream.processAllAvailable() }
      else skips += 1
      Backfill.run(ts(day), ts(day), _ => {
        if (Trace.span("streaming.poll") { taskPoller.poll() }) polls += 1
        else { polls += 1; skips += 1 }
        Trace.span("streaming.drain") { taskStream.processAllAvailable() }
      }, saveWatermark)
    }
    val secs = (System.nanoTime() - t0) / 1e9

    // model bookkeeping and the per-cycle write check
    val expected = model.applyEmployees(emps)
    val got = DerbyStore.appliedRows("employees") - emp0
    model.applyTasks(today)
    model.watermark = Some(ts(day.plusDays(1)))
    Op(secs, DerbyStore.rowsApplied.sum - rows0,
      if (got == expected) Nil else Seq(s"cycle $i: $got employee rows written, $expected changed"))
  }

  override def finish(): Seq[String] = {
    streams.foreach(_.processAllAvailable())
    val out = mutable.ArrayBuffer.empty[String]
    def mismatch(what: String, a: Any, b: Any): Unit =
      if (a != b && out.size < 20) out += s"$what: store=$a model=$b"

    val storedEmps = store.query("SELECT id, fullname, shortname, position, email, phone FROM employees") { r =>
      Emp(r.getLong(1), r.getString(2), r.getString(3), r.getString(4), r.getString(5), r.getString(6))
    }.map(e => e.id -> e).toMap
    mismatch("employee count", storedEmps.size, model.employees.size)
    model.employees.foreach { case (id, e) => mismatch(s"employee $id", storedEmps.get(id), Some(e)) }

    val storedTasks = store.query(
      """SELECT t.task_id, tt.type_name, t.creation_date, t.closing_date,
        t.description, t.address, t.customer_name, t.customer_login,
        t.comments, t.is_closed, t.latitude, t.longitude,
        t.geocoding_attempts, t.geocoding_error
        FROM tasks t LEFT JOIN task_types tt ON t.task_type_id = tt.type_id""") { r =>
      val lat = r.getDouble(11); val latNull = r.wasNull()
      val lon = r.getDouble(12); val lonNull = r.wasNull()
      r.getLong(1) -> Seq[Any](r.getString(2), r.getTimestamp(3).getTime,
        Option(r.getTimestamp(4)).map(_.getTime), r.getString(5), r.getString(6),
        r.getString(7), r.getString(8), Option(r.getString(9)).getOrElse(""),
        r.getBoolean(10), if (latNull) None else Some(lat), if (lonNull) None else Some(lon),
        r.getInt(13), Option(r.getString(14)))
    }.toMap
    mismatch("task count", storedTasks.size, model.tasks.size)
    model.tasks.foreach { case (id, (t, geo)) =>
      val closing = if (t.closing.toInstant.atZone(ZoneOffset.UTC).getYear < 1970) None
        else Some(t.closing.getTime)
      val exp = Seq[Any](t.typ, t.creation.getTime, closing, t.description, t.address,
        t.customer, t.login, t.comments.mkString(DerbyStore.Sep), t.closed,
        if (geo) Some((id % 90).toDouble) else None,
        if (geo) Some((id % 180).toDouble) else None, if (geo) 1 else 0, None)
      mismatch(s"task $id", storedTasks.get(id), Some(exp))
    }

    val storedBridge = store.query("SELECT task_id, executor_id FROM task_executors") { r =>
      val task = r.getLong(1)
      val e = r.getLong(2)
      task -> (if (r.wasNull()) None else Some(e))
    }.groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.getOrElse(Long.MinValue))).toMap
    mismatch("bridge task count", storedBridge.size, model.tasks.size)
    model.tasks.foreach { case (id, (t, _)) =>
      mismatch(s"bridge of task $id", storedBridge.get(id), Some(model.bridge(t)))
    }

    val wm = store.query("SELECT last_processed_date FROM scraper_status WHERE id = 1")(_.getTimestamp(1))
    mismatch("watermark", wm.headOption.map(_.getTime), model.watermark.map(_.getTime))
    out.toSeq
  }

  override def layers(): Map[String, Double] = {
    val perCall = DerbyStore.perCallOverheadS(store.url)
    val offered = DerbyStore.rowsOffered.sum
    Map(
      "streaming.poll_s" -> Trace.total("streaming.poll"),
      "streaming.gate_skip_ratio" -> (if (polls == 0) 0.0 else skips.toDouble / polls),
      "streaming.load_dim_s" -> Trace.total("streaming.load_dim"),
      "streaming.load_employees_s" -> Trace.total("streaming.load_employees"),
      "sinks.jdbc_employees_s" -> DerbyStore.jdbcSeconds("employees"),
      "sinks.jdbc_tasks_s" -> DerbyStore.jdbcSeconds("tasks"),
      "sinks.jdbc_bridge_s" -> DerbyStore.jdbcSeconds("bridge"),
      "sinks.jdbc_dim_s" -> DerbyStore.jdbcSeconds("dim"),
      "sinks.jdbc_watermark_s" -> DerbyStore.jdbcSeconds("watermark"),
      "sinks.busy_s" -> DerbyStore.busySeconds,
      "sinks.connections" -> DerbyStore.connections.sum.toDouble,
      "sinks.statements" -> DerbyStore.statements.sum.toDouble,
      "sinks.rows_written" -> DerbyStore.rowsApplied.sum.toDouble,
      "sinks.applied_ratio" -> (if (offered == 0) 0.0 else DerbyStore.rowsApplied.sum.toDouble / offered),
      "sinks.shim_overhead_s" -> perCall * DerbyStore.proxiedCalls.sum)
  }

  override def close(): Unit = {
    streams.foreach(s => try s.stop() catch { case _: Exception => () })
    streams = Nil
    if (store != null) store.drop()
  }
}
