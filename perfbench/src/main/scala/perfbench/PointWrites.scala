package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.catalog.GraftDatabase
import graft.core.Tables
import graft.dml.ConstrainedDml.{Fk, TableDef}
import graft.streaming.{MaterializedView, MvDef}

/** The generator's in-memory picture of the point_writes tables. */
final class PointModel(base: Iterable[Op.Reading], points: Int) {
  import Op._
  val readings = mutable.LongMap[Reading]()
  base.foreach(r => readings(r.id) = r)
  /** point_state: the latest base reading per point. */
  val state = mutable.LongMap[Reading]()
  base.foreach { r =>
    if (state.get(r.point).forall(s => s.ts < r.ts || (s.ts == r.ts && s.id < r.id))) state(r.point) = r
  }
  state.mapValuesInPlace((p, r) => r.copy(id = p))

  /** Apply a write the engine accepted; returns the user rows it changed. */
  def apply(op: Op): Long = op match {
    case InsertReadings(rows, None) => rows.foreach(r => readings(r.id) = r); rows.size
    case UpsertState(rows) => rows.foreach(r => state(r.point) = r); rows.size
    case UpdateRange(lo, hi, c) => bump(r => r.ts >= lo && r.ts < hi, c)
    case UpdateSpread(m, k, c) => bump(r => r.id % m == k, c)
    case DeleteBefore(cut) =>
      val gone = readings.valuesIterator.filter(_.ts < cut).map(_.id).toVector
      gone.foreach(readings.remove); gone.size
    case _ => 0L
  }

  private def bump(p: Reading => Boolean, c: Long): Long = {
    val hit = readings.valuesIterator.filter(p).toVector
    hit.foreach(r => readings(r.id) = r.copy(cents = r.cents + c))
    hit.size
  }

  def seekCount(lo: Long, hi: Long): Long =
    readings.valuesIterator.count(r => r.ts >= lo && r.ts <= hi).toLong

  /** (rows, value cents) of the points' readings with ts >= since. */
  def dashboard(pts: Set[Long], since: Long): Map[Long, (Long, Long)] =
    readings.valuesIterator.filter(r => pts(r.point) && r.ts >= since).toSeq
      .groupBy(_.point).map { case (p, rs) => p -> (rs.size.toLong, rs.map(_.cents).sum) }

  /** zone -> (points, value cents, min cents, max cents) of point_state. */
  def perZone: Map[Long, (Long, Long, Long, Long)] =
    state.valuesIterator.toSeq.groupBy(r => PointModel.zone(r.point)).map { case (z, rs) =>
      val c = rs.map(_.cents)
      z -> (rs.size.toLong, c.sum, c.min, c.max)
    }

  def checksum(rs: Iterable[Reading]): Long =
    rs.foldLeft(0L)((acc, r) => acc + r.cents * 31 + r.ts % 1000003 + r.point)
}

object PointModel {
  val Zones = 16
  def zone(point: Long): Long = point % Zones
}

/** `point_writes`: the IoT write path with reads beside it, and two fleet
  * dashboard views over `point_state` (per zone: points, sum, min and max
  * of the latest values) that one refresh after the window brings up to
  * date: a count/sum view folded by a `graft-changes` stream (run to the
  * head with `Trigger.AvailableNow`, its `foreachBatch` calling
  * `MaterializedView.applyBatch`) and a min/max view folded by
  * `MaterializedView.refreshOnce`.
  */
final class PointWrites(spark: SparkSession, tr: Tracer, seed: Long, data: String)
    extends Workload {
  import Op._
  implicit private val s: SparkSession = spark

  // the base: readings = events(event_id, ts, user_id, value)
  private val base: Vector[Reading] =
    Tables.load(spark, data, "events")
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"),
        round(col("value") * 100).cast("long"))
      .collect().map(r => Reading(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toVector
  private val nPoints = (base.map(_.point).max + 1).toInt
  require(base.map(_.point).distinct.size == nPoints, "events.user_id must be dense")
  private val shape = OpGen.PointShape(nPoints, base.size.toLong,
    base.map(_.ts).min, base.map(_.ts).max)
  val BaseFiles = 16

  private var db: GraftDatabase = _
  private var root: Path = _
  private var model: PointModel = _
  private var ops: Iterator[Op] = _
  private var compactBytes = 0L
  /** (log version, readings in the model) after each accepted write. */
  private val versions = mutable.ArrayBuffer[(Long, Long)]()
  private var rowsChanged = 0L
  private val failures = mutable.ArrayBuffer[String]()
  // trace-only tallies
  private var rejectionsCorrect = 0L
  private var writesDone = 0L
  private var filesRewritten = 0L
  private var bytesWritten = 0L
  private var liveCount = 0
  private var retries = 0L

  val sumView = MvDef("point_state", "zone_sum", Seq("zone"), sumCols = Seq("value"))
  val mmView = MvDef("point_state", "zone_minmax", Seq("zone"), sumCols = Seq("value"),
    minMaxCols = Seq("value"))
  private var ss: SparkSession = _
  private var sumDb: GraftDatabase = _
  private var mmDb: GraftDatabase = _
  /** The log version the views were last brought up to. */
  private var refreshedAt = 0L
  private var refreshSeconds = 0.0
  private val seekFiles = mutable.ArrayBuffer[Double]()
  private val seekRatio = mutable.ArrayBuffer[Double]()

  private def readingsDf(rows: Seq[Reading]): DataFrame =
    spark.createDataFrame(rows.map(r => (r.id, r.ts, r.point, r.cents / 100.0)))
      .toDF("event_id", "ts", "user_id", "value")
      .select(col("event_id"), timestamp_micros(col("ts")).as("ts"), col("user_id"), col("value"))

  private def stateDf(rows: Seq[Reading]): DataFrame =
    spark.createDataFrame(rows.map(r => (r.point, PointModel.zone(r.point), r.ts, r.cents / 100.0)))
      .toDF("point_id", "zone", "ts", "value")
      .select(col("point_id"), col("zone"), timestamp_micros(col("ts")).as("ts"), col("value"))

  def setup(r: Path): Unit = {
    root = r
    model = new PointModel(base, nPoints)
    ops = OpGen.pointWrites(seed, shape)
    versions.clear()
    db = GraftDatabase(spark, "pw", root.toString)
      .defineTable(TableDef("points", "point_id", uniqueCols = Seq("name")))
      .defineTable(TableDef("readings", "event_id",
        fks = Seq(Fk("user_id", "points", "point_id"))))
      .defineTable(TableDef("point_state", "point_id",
        fks = Seq(Fk("point_id", "points", "point_id"))))
    db.insert("points", spark.range(nPoints).select(col("id").as("point_id"),
      concat(lit("point-"), col("id")).as("name"), lit("degC").as("unit")))
    // range-partitioned by ts: a narrow ts predicate hits one or two files
    db.insert("readings", readingsDf(base).repartitionByRange(BaseFiles, col("ts")))
    db.insert("point_state", stateDf(model.state.values.toSeq.sortBy(_.point)))
    compactBytes = db.liveFiles("readings")
      .map(f => Files.size(root.resolve("pw").resolve(f))).sum / BaseFiles
    versions += ((db.settledLogVersion, model.readings.size.toLong))
    liveCount = db.liveFiles("readings").size
  }

  /** Define both views on the kept root and fold the base into them. The
    * stream and its foreachBatch work run in the engine's scoped stream
    * session, as the catalog's view queries do.
    */
  override def prepare(): Unit = {
    ss = db.scopedStreamSession(statePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt)
    tr.watchStreams(ss)
    val views = root.resolve("views").toString
    sumDb = MaterializedView.define(GraftDatabase(ss, "pw_sum", views), sumView)
    mmDb = MaterializedView.define(GraftDatabase(spark, "pw_mm", views), mmView)
    refreshViews()
  }

  /** Fold every point_state commit since the views' marks into both views. */
  private def refreshViews(): Unit = {
    val fold = (batch: DataFrame, id: Long) => {
      tr.span("mv.fold")(retries += MaterializedView.applyBatch(null, sumDb, sumView, batch,
        "perfbench-sum", id))(ss)
      ()
    }
    tr.span("feed.drain") {
      ss.readStream.format("graft-changes")
        .option("baseDir", root.toString).option("name", "pw").option("table", "point_state")
        .option("withCommitVersion", "true").load()
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", root.resolve("checkpoint").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    tr.span("mv.refresh")(MaterializedView.refreshOnce(db, mmDb, mmView))
    refreshedAt = db.settledLogVersion
  }

  /** Both views read back; each must equal the model per zone. */
  private def readViews(): Seq[OpResult] = {
    val want = model.perZone
    Seq(sumDb -> sumView, mmDb -> mmView).map { case (vdb, mv) =>
      val r0 = System.nanoTime()
      val rows = tr.span("mv.read")(MaterializedView.read(vdb, mv).collect())
      val secs = (System.nanoTime() - r0) / 1e9
      val got = rows.map { r =>
        val (n, c, lo, hi) = want.getOrElse(r.getAs[Long]("zone"), (0L, 0L, 0L, 0L))
        r.getAs[Long](MaterializedView.CountCol) == n &&
          math.round(r.getAs[Double]("sum_value") * 100) == c &&
          (mv.minMaxCols.isEmpty || (
            math.round(r.getAs[Double](MaterializedView.minColName("value")) * 100) == lo &&
            math.round(r.getAs[Double](MaterializedView.maxColName("value")) * 100) == hi))
      }
      val ok = rows.length == want.size && got.forall(identity)
      if (!ok) failures += s"${mv.view}: ${got.count(!_)} of ${rows.length} zones differ from the model (${want.size} zones)"
      OpResult("read", "view_read", secs, ok)
    }
  }

  private def live(): Map[String, Long] =
    tr.span("txlog.head")(db.liveFiles("readings"))
      .map(f => f -> Files.size(root.resolve("pw").resolve(f))).toMap

  def next(): Seq[OpResult] = {
    val op = ops.next()
    val before = if (tr.enabled && op.write) live() else Map.empty[String, Long]
    val t0 = System.nanoTime()
    val ok = tr.traced(s"op.${op.kind}")(run(op))
    val secs = (System.nanoTime() - t0) / 1e9
    if (op.write && ok) {
      versions += ((db.settledLogVersion, model.readings.size.toLong))
      if (tr.enabled) {
        val after = live()
        liveCount = after.size
        writesDone += 1
        filesRewritten += before.keySet.diff(after.keySet).size
        bytesWritten += after.keySet.diff(before.keySet).toSeq.map(after).sum
      }
    }
    if (tr.enabled && op.isInstanceOf[SeekRange]) {
      val files = tr.scans.filter(_._1 == tr.lastOp).map(_._2).sum.toDouble
      seekFiles += files
      seekRatio += files / math.max(1, liveCount)
    }
    Seq(OpResult(if (op.write) "write" else "read", op.kind, secs, ok))
  }

  private def fail(msg: String): Boolean = { failures += msg; false }

  private def run(op: Op): Boolean = op match {
    case InsertReadings(rows, Some(kind)) =>
      try {
        tr.span("catalog.insert")(db.insert("readings", readingsDf(rows)))
        fail(s"insert with $kind was accepted")
      } catch {
        case e: IllegalStateException if e.getMessage.contains(kind) =>
          rejectionsCorrect += 1; true
        case e: IllegalStateException => fail(s"insert with $kind rejected as: ${e.getMessage}")
      }
    case InsertReadings(rows, None) =>
      tr.span("catalog.insert")(db.insert("readings", readingsDf(rows)))
      rowsChanged += model.apply(op); true
    case UpsertState(rows) =>
      tr.span("catalog.upsert")(db.upsert("point_state", stateDf(rows)))
      rowsChanged += model.apply(op); true
    case UpdateRange(lo, hi, c) =>
      update(op, col("ts") >= timestamp_micros(lit(lo)) && col("ts") < timestamp_micros(lit(hi)), c)
    case UpdateSpread(m, k, c) => update(op, pmod(col("event_id"), lit(m)) === k, c)
    case DeleteBefore(cut) =>
      tr.span("catalog.delete")(db.delete("readings", col("ts") < timestamp_micros(lit(cut))))
      rowsChanged += model.apply(op); true
    case Optimize =>
      tr.span("catalog.optimize")(db.optimize("readings", compactBytes, compactBytes / 2)); true
    case FindState(p) =>
      val got = tr.span("catalog.find_by_id")(db.findById("point_state", p))
        .map(r => (r.getAs[java.sql.Timestamp]("ts"), math.round(r.getAs[Double]("value") * 100)))
      val want = model.state.get(p).map(r => (micros(r.ts), r.cents))
      got == want || fail(s"findById($p) = $got, model $want")
    case SeekRange(lo, hi) =>
      val n = tr.span("catalog.seek")(
        db.seek("readings", "ts", micros(lo), micros(hi)).collect().length.toLong)
      n == model.seekCount(lo, hi) || fail(s"seek [$lo, $hi] = $n rows, model ${model.seekCount(lo, hi)}")
    case TimeTravel(back) =>
      val (v, want) = versions(math.max(0, versions.size - 1 - back))
      val n = tr.span("catalog.table_at")(db.tableAt("readings", v).map(_.count()))
      n.contains(want) || fail(s"tableAt($v) = $n rows, model $want")
    case Dashboard(pts, since) =>
      val got = tr.span("catalog.dashboard")(db.table("readings")
        .filter(col("user_id").isin(pts: _*) && col("ts") >= timestamp_micros(lit(since)))
        .groupBy("user_id").agg(count(lit(1)), sum(round(col("value") * 100).cast("long")))
        .collect()).map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = model.dashboard(pts.toSet, since)
      got == want || fail(s"dashboard $pts = $got, model $want")
    case other => sys.error(s"not a point_writes op: $other")
  }

  private def update(op: Op, pred: org.apache.spark.sql.Column, c: Long): Boolean = {
    val n = tr.span("catalog.update")(
      db.updateMany("readings", pred, Map("value" -> (col("value") + lit(c / 100.0)))))
    val want = model.apply(op)
    rowsChanged += want
    n == want || fail(s"$op updated $n rows, model $want")
  }

  private def micros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def verify(): Seq[String] = {
    // the dashboard refresh: every write of the window folded into both
    // views at once, timed; the views must then equal the model, and, as
    // q166 checks, a group-by over the table as of that version
    val t0 = System.nanoTime()
    tr.traced("op.refresh")(refreshViews())
    refreshSeconds = (System.nanoTime() - t0) / 1e9
    val viewGates = readViews().filterNot(_.ok).map(_ => "views equal the model after the refresh")
    def canon(df: DataFrame): Set[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    val expect = db.tableAt("point_state", refreshedAt).get.groupBy("zone").agg(count(lit(1)).as("n"),
      sum(col("value").cast(MaterializedView.SumType)).cast("double").as("s"),
      min(col("value")).as("lo"), max(col("value")).as("hi"))
    val e = canon(expect)
    val mmGot = canon(MaterializedView.read(mmDb, mmView).select("zone", MaterializedView.CountCol,
      "sum_value", MaterializedView.minColName("value"), MaterializedView.maxColName("value")))
    val sumGot = canon(MaterializedView.read(sumDb, sumView)
      .select("zone", MaterializedView.CountCol, "sum_value"))
    val recompute = Seq(
      "count/sum view equals recompute" -> (sumGot == e.map(_.split('|').take(3).mkString("|"))),
      "min/max view equals recompute" -> (mmGot == e))
    def rows(t: String, cols: String*): Seq[Row] = db.table(t).select(cols.map(col): _*).collect().toSeq
    val rs = rows("readings", "event_id", "ts", "user_id", "value").map(r =>
      Reading(r.getLong(0), unixMicros(r.getTimestamp(1)), r.getLong(2), math.round(r.getDouble(3) * 100)))
    val st = rows("point_state", "point_id", "ts", "value").map(r =>
      Reading(r.getLong(0), unixMicros(r.getTimestamp(1)), r.getLong(0), math.round(r.getDouble(2) * 100)))
    val gates = Seq(
      "readings row count" -> (rs.size == model.readings.size),
      "readings PK unique" -> (rs.map(_.id).distinct.size == rs.size),
      "readings FK closed" -> rs.forall(r => r.point >= 0 && r.point < nPoints),
      "readings checksum" -> (model.checksum(rs) == model.checksum(model.readings.values)),
      "point_state row count" -> (st.size == model.state.size),
      "point_state PK unique" -> (st.map(_.id).distinct.size == st.size),
      "point_state checksum" -> (model.checksum(st) == model.checksum(model.state.values)),
      "points unchanged" -> (db.count("points") == nPoints)) ++ recompute
    failures.toSeq ++ viewGates ++ gates.collect { case (g, false) => g }
  }

  private def unixMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def extraMetrics(window: Double): Map[String, (Double, String)] = {
    val live = Seq("points", "readings", "point_state").flatMap(db.liveFiles)
      .map(f => Files.size(root.resolve("pw").resolve(f))).sum +
      Seq(sumDb -> sumView, mmDb -> mmView).flatMap { case (vdb, mv) =>
        vdb.liveFiles(mv.view).map(f => Files.size(root.resolve("views").resolve(vdb.name).resolve(f)))
      }.sum
    Map(
      "view_refresh_s" -> (refreshSeconds, "s"),
      "rows_written_per_s" -> (rowsChanged / window, "rows/s"),
      "stored_bytes_per_live_byte" -> (Main.dirBytes(root) / live.toDouble, "ratio"))
  }

  def layerMetrics(tr: Tracer): Map[String, (Double, String)] =
    writeLayers(tr) ++ Map(
      "pruning.files_read_per_read" -> (seekFiles.sum / math.max(1, seekFiles.size).toDouble, "count"),
      "pruning.scan_ratio" -> (seekRatio.sum / math.max(1, seekRatio.size).toDouble, "ratio"),
      "dml.rejections_correct" -> (rejectionsCorrect.toDouble, "count"),
      "catalog.files_rewritten_per_write" -> (filesRewritten / math.max(1L, writesDone).toDouble, "count"),
      "catalog.bytes_written_per_row_changed" -> (bytesWritten / math.max(1L, rowsChanged).toDouble, "B")) ++
      viewLayers(tr)

  /** The write path's and the commit log's figures. */
  private def writeLayers(tr: Tracer): Map[String, (Double, String)] = {
    val w = math.max(1L, writesDone).toDouble
    val (checkBusy, checkJobs) = SparkLayer.labelled(tr, "constraint check")
    val (probeBusy, _) = SparkLayer.labelled(tr, "merge hit probe", "cdc hit probe")
    val (stageBusy, _) = SparkLayer.labelled(tr, "stage")
    Map(
      "catalog.insert_s" -> (meanSpan(tr, "catalog.insert"), "s"),
      "catalog.upsert_s" -> (meanSpan(tr, "catalog.upsert"), "s"),
      "catalog.update_s" -> (meanSpan(tr, "catalog.update"), "s"),
      "catalog.delete_s" -> (meanSpan(tr, "catalog.delete"), "s"),
      "catalog.optimize_s" -> (meanSpan(tr, "catalog.optimize"), "s"),
      "catalog.probe_busy_s" -> (probeBusy / w, "s"),
      "catalog.stage_busy_s" -> (stageBusy / w, "s"),
      "dml.check_jobs_per_write" -> (checkJobs / w, "count"),
      "dml.check_busy_s" -> (checkBusy / w, "s"),
      "txlog.head_read_s" -> (meanSpan(tr, "txlog.head"), "s"),
      "txlog.log_bytes" -> (Main.dirBytes(root.resolve("pw").resolve("_txlog")).toDouble, "B"))
  }

  private def meanSpan(tr: Tracer, name: String): Double = {
    val s = tr.spans.filter(_.name == name)
    if (s.isEmpty) 0.0 else s.map(x => x.end - x.start).sum / 1e9 / s.size
  }

  /** The feed's and the views' figures, from the refresh after the window. */
  private def viewLayers(tr: Tracer): Map[String, (Double, String)] = {
    val progress = tr.progress.map(_.progress).toSeq
    val nonEmpty = progress.filter(_.numInputRows > 0)
    val n = math.max(1, progress.size).toDouble
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / n
    val folds = tr.spans.filter(_.name == "mv.fold").toSeq
    val foldIds = folds.map(_.id).toSet
    val byId = tr.spans.map(x => x.id -> x).toMap
    val jobs = tr.windowJobs
    val foldJobs = jobs.count(j => Rollup.parentOf(j, tr.spans.toSeq, byId).exists(p => foldIds(p.id)))
    // the stream's jobs: its folds' plus the source's own (`graft: feed ...`)
    val streamJobs = foldJobs + jobs.count(_.label.startsWith("graft: feed"))
    val (foldBusy, _) = SparkLayer.labelled(tr, "mv delta fold")
    Map(
      "feed.trigger_s" -> (progress.map(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.toDouble).getOrElse(0.0)).sum / 1000.0 / n, "s"),
      "feed.latest_offset_ms" -> (dur("latestOffset"), "ms"),
      "feed.get_batch_ms" -> (dur("getBatch"), "ms"),
      "feed.add_batch_ms" -> (dur("addBatch"), "ms"),
      "feed.jobs_per_trigger" -> (streamJobs / n, "count"),
      "feed.rows_per_trigger" -> (progress.map(_.numInputRows).sum / n, "rows"),
      "feed.empty_trigger_ratio" -> ((progress.size - nonEmpty.size) / n, "ratio"),
      "mv.fold_s" -> (meanSpan(tr, "mv.fold"), "s"),
      "mv.refresh_s" -> (meanSpan(tr, "mv.refresh"), "s"),
      "mv.jobs_per_fold" -> (foldJobs / math.max(1, folds.size).toDouble, "count"),
      "mv.fold_busy_s" -> (foldBusy / math.max(1, folds.size), "s"),
      "mv.commit_retries" -> (retries.toDouble, "count"))
  }

  def close(): Unit = ()
}
