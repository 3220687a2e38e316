package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one timed op reported: its class ("read" or "write"), its kind,
  * latency and whether its result was correct.
  */
final case class OpResult(cls: String, kind: String, seconds: Double, ok: Boolean)

/** A workload: set-up on a fresh database root (run several times, the
  * last one is kept), then one op at a time from its seeded generator.
  */
trait Workload {
  def setup(root: Path): Unit
  /** Once, on the kept root, after the timed set-ups: work a set-up rep
    * need not repeat (reported as `prepare_s`).
    */
  def prepare(): Unit = ()
  /** Run the next op and report it. */
  def next(): Seq[OpResult]
  /** End-of-run correctness gates; each failure is a message. */
  def verify(): Seq[String]
  /** End-to-end figures only this workload has (unit, value). */
  def extraMetrics(window: Double): Map[String, (Double, String)]
  /** Per-layer figures from the trace. */
  def layerMetrics(tr: Tracer): Map[String, (Double, String)]
  def close(): Unit
}

object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, expected: String, work: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("expected"), need("work"))
  }

  def banner(a: Args): String =
    s"perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${a.trace}"

  /** The one session every workload uses. It sets only what a local
    * embedded deployment must choose (master, shuffle partitions equal
    * to the cores, no UI, the engine's UTC session zone) and no engine
    * tuning; [[posture]] records all of it.
    */
  def session(cores: Int): (SparkSession, Seq[(String, String)]) = {
    val confs = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC")
    val spark = confs.foldLeft(SparkSession.builder().appName("perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (spark, confs)
  }

  def posture(spark: SparkSession, cores: Int, confs: Seq[(String, String)]): String = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(hconf)
    val fsImpl = fs.getClass.getName
    val checksummed = fs.isInstanceOf[org.apache.hadoop.fs.ChecksumFileSystem]
    val set = confs.map { case (k, v) => s""""$k": "$v"""" }.mkString(", ")
    s"""{"cpus": $cores, "nproc": ${Runtime.getRuntime.availableProcessors}, """ +
      s""""master": "${spark.sparkContext.master}", """ +
      s""""shuffle_partitions": "${spark.conf.get("spark.sql.shuffle.partitions")}", """ +
      s""""fs_impl": "$fsImpl", "fs_checksummed": $checksummed, """ +
      s""""commit_primitive": "posix (atomic create, no fsync; data in the OS page cache)", """ +
      s""""max_heap_mb": ${Runtime.getRuntime.maxMemory >> 20}, """ +
      s""""harness_confs": {$set}}"""
  }

  /** Code-independent drift sentinel, the same range-sum as graft.Bench:
    * min of three.
    */
  def sentinel(spark: SparkSession): Double = (0 until 3).map(_ => sentinelOnce(spark)).min

  def sentinelOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(64L << 20).selectExpr("sum(id * 2 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The drift probe that normalises both gated figures: work of the
    * kinds the ops are made of, none of it through the engine. A small
    * Parquet write and its filtered, grouped read-back; five tiny Spark
    * jobs; the row counts of two base tables read straight from Parquet.
    * On a shared host it slows with the ops where the range-sum does not:
    * it tracks the per-job, planning and file-system costs that dominate
    * a 0.1-2 s op, not only parallel arithmetic.
    */
  def probeOnce(spark: SparkSession, dir: Path, data: String): Double = {
    val t0 = System.nanoTime()
    spark.range(4000).selectExpr("id", "id % 16 as k", "cast(id * 7 % 1000 as double) as v")
      .write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString).filter("k < 8").groupBy("k").sum("v").collect()
    (0 until 5).foreach(i => spark.range(100 + i).selectExpr("sum(id)").collect())
    Seq("events", "orders").foreach(t => spark.read.parquet(s"$data/$t.parquet").count())
    (System.nanoTime() - t0) / 1e9
  }

  /** The probe time the normalised set-up time is expressed at: `setup_s`
    * is the set-up time on a host where one probe takes this long.
    */
  val ProbeRefS = 1.0

  /** Probe shots taken before and again after the window, after one
    * untimed shot that warms the probe's own code paths.
    */
  val ProbeShots = 3

  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** The commit log's public, process-wide read-side I/O counters. */
  def txlogCounters: Seq[(String, Long)] = Seq(
    "listings" -> graft.catalog.TxLog.logListings.get,
    "version_reads" -> graft.catalog.TxLog.versionFileReads.get,
    "ckpt_reads" -> graft.catalog.TxLog.ckptReads.get,
    "size_probes" -> graft.catalog.TxLog.sizeProbes.get)

  def gcTotals: (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0,
      beans.map(_.getCollectionCount).filter(_ >= 0).sum)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(m: Map[String, (Double, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val tr = new Tracer(a.trace)
    val t0 = System.nanoTime()
    val (spark, confs) = session(cores)
    implicit val s: SparkSession = spark
    val sessionStart = (System.nanoTime() - t0) / 1e9
    // the drift probe runs in its own session, out of reach of any rule
    // the engine installs in the workload's session
    val probe = spark.newSession()
    tr.install(spark)
    val work = Paths.get(a.work)
    deleteTree(work)
    Files.createDirectories(work)
    println(banner(a))
    println(s"posture ${posture(spark, cores, confs)}")

    val wl: Workload = a.workload match {
      case "analytics" => new Analytics(spark, tr, a.seed, a.data, a.expected)
      case "point_writes" => new PointWrites(spark, tr, a.seed, a.data)
      case other => sys.error(s"unknown workload $other")
    }
    var exit = 0
    try {
      // set-up: each rep on a fresh root; the last one is kept
      val setups = (1 to SetupReps).map { i =>
        val root = work.resolve(s"db$i")
        val t = System.nanoTime()
        wl.setup(root)
        val secs = (System.nanoTime() - t) / 1e9
        if (i < SetupReps) { wl.close(); deleteTree(root) }
        secs
      }
      val p0 = System.nanoTime()
      wl.prepare()
      val prepareS = (System.nanoTime() - p0) / 1e9
      val probeDir = work.resolve("probe")
      probeOnce(probe, probeDir, a.data)
      val probesBefore = (1 to ProbeShots).map(_ => probeOnce(probe, probeDir, a.data))
      val sentinelFirst = sentinel(probe)
      tr.startWindow(spark)
      val log0 = txlogCounters
      val (gc0, gcn0) = gcTotals
      val results = mutable.ArrayBuffer[OpResult]()
      var attempted = 0
      var failed = 0
      val w0 = System.nanoTime()
      val deadline = w0 + a.seconds * 1000000000L
      while (System.nanoTime() < deadline) {
        val rs =
          try wl.next()
          catch {
            case fatal: VirtualMachineError => throw fatal
            case e: Exception =>
              System.err.println(s"op failed: $e")
              Seq(OpResult("error", "error", 0.0, ok = false))
          }
        rs.foreach { r =>
          attempted += 1
          if (!r.ok) failed += 1
          results += r
        }
      }
      val window = (System.nanoTime() - w0) / 1e9
      val (gc1, gcn1) = gcTotals
      val log1 = txlogCounters
      // as before the window, the probe shots sit right next to it
      val probesAfter = (1 to ProbeShots).map(_ => probeOnce(probe, probeDir, a.data))
      val sentinelLast = sentinel(probe)
      val probeS = median(probesBefore ++ probesAfter)
      val gateFailures = wl.verify()
      gateFailures.foreach(f => System.err.println(s"correctness gate failed: $f"))
      attempted += 1 // the end-of-run gate counts as one checked op
      if (gateFailures.nonEmpty) failed += 1

      val reads = results.filter(r => r.ok && r.cls == "read").map(_.seconds)
      val writes = results.filter(r => r.ok && r.cls == "write").map(_.seconds)
      val all = results.filter(_.ok).map(_.seconds)
      val e2e = mutable.Map[String, (Double, String)](
        // gated, and normalised by the probe like ops_per_probe: the host's
        // speed moves set-up time by more than its bound within an hour
        "setup_s" -> (median(setups) * ProbeRefS / probeS, "s"),
        "setup_raw_s" -> (median(setups), "s"),
        "ops_per_s" -> (results.size / window, "ops/s"),
        // the gated throughput: ops completed in the time one drift probe
        // takes (the median of its shots before and after the window), so
        // that a run on a busier host and one on a quieter host compare
        "ops_per_probe" -> (results.size / window * probeS, "ops/probe"),
        "probe_s" -> (probeS, "s"),
        "op_p50_s" -> (median(all), "s"),
        "error_rate" -> (failed.toDouble / attempted, "ratio"),
        "prepare_s" -> (prepareS, "s"),
        "peak_rss_mb" -> (peakRssMb, "MB"))
      if (reads.nonEmpty) {
        e2e("read_p50_s") = (median(reads), "s")
        e2e("read_p95_s") = (quantile(reads, 0.95), "s")
      }
      if (writes.nonEmpty) {
        e2e("write_p50_s") = (median(writes), "s")
        e2e("write_p95_s") = (quantile(writes, 0.95), "s")
      }
      e2e ++= wl.extraMetrics(window)
      val layers = mutable.Map[String, (Double, String)](
        "jvm.gc_s" -> (gc1 - gc0, "s"),
        "jvm.gc_count" -> ((gcn1 - gcn0).toDouble, "count"),
        "env.sentinel_first_s" -> (sentinelFirst, "s"),
        "env.sentinel_last_s" -> (sentinelLast, "s"),
        "env.session_start_s" -> (sessionStart, "s"))
      log1.zip(log0).foreach { case ((k, b), (_, a)) =>
        layers(s"txlog.${k}_per_op") = ((b - a).toDouble / math.max(1, results.size), "count")
      }
      if (a.trace) {
        layers ++= SparkLayer.metrics(tr)
        layers ++= wl.layerMetrics(tr)
        val nOps = math.max(1, tr.ops.size)
        Rollup.selfTime(tr.spans.toSeq, tr.jobs.toSeq)
          .foreach { case (k, v) => layers(s"self.${k}_s") = (v / nOps, "s") }
        // a layer this workload never calls did no work
        Layers.all.foreach { case (k, u) => if (!layers.contains(k)) layers(k) = (0.0, u) }
      }
      println(s"samples ops=${results.size} reads=${reads.size} writes=${writes.size} " +
        s"window_s=${fmt(window)} setup_reps=${setups.map(fmt).mkString(",")}")
      println("ops " + results.map(r => s"${r.kind}:${fmt(r.seconds)}").mkString(" "))
      println("probes " + (probesBefore ++ probesAfter).map(fmt).mkString(" "))
      println(s"report ${json((if (a.trace) e2e.map { case (k, v) => s"traced.$k" -> v } else e2e).toMap ++ layers)}")
      val out = if (a.trace) layers.toMap else e2e.toMap
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": ${json(out)}}""")
    } catch {
      case e: Throwable =>
        System.err.println(s"benchmark aborted: $e")
        e.printStackTrace()
        exit = 1
    } finally {
      try wl.close() catch { case _: Throwable => () }
      spark.stop()
      deleteTree(work)
    }
    sys.exit(exit)
  }
}

/** Every per-layer figure a traced run reports, with its unit. */
object Layers {
  val all: Seq[(String, String)] =
    Seq("relational", "text", "timeseries", "event", "vector", "domain", "natural", "pipeline")
      .map(f => s"queries.${f}_s" -> "s") ++ Seq(
      "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
      "spark.job_busy_s" -> "s", "spark.driver_gap_s" -> "s",
      "spark.catalyst_ms_per_op.analysis" -> "ms", "spark.catalyst_ms_per_op.optimization" -> "ms",
      "spark.catalyst_ms_per_op.planning" -> "ms", "spark.unlabelled_job_share" -> "ratio",
      "dml.check_jobs_per_write" -> "count", "dml.check_busy_s" -> "s",
      "dml.rejections_correct" -> "count",
      "catalog.insert_s" -> "s", "catalog.upsert_s" -> "s", "catalog.update_s" -> "s",
      "catalog.delete_s" -> "s", "catalog.optimize_s" -> "s", "catalog.probe_busy_s" -> "s",
      "catalog.stage_busy_s" -> "s", "catalog.files_rewritten_per_write" -> "count",
      "catalog.bytes_written_per_row_changed" -> "B",
      "txlog.listings_per_op" -> "count", "txlog.version_reads_per_op" -> "count",
      "txlog.ckpt_reads_per_op" -> "count", "txlog.size_probes_per_op" -> "count",
      "txlog.head_read_s" -> "s", "txlog.log_bytes" -> "B",
      "pruning.files_read_per_read" -> "count", "pruning.scan_ratio" -> "ratio",
      "feed.trigger_s" -> "s", "feed.latest_offset_ms" -> "ms", "feed.get_batch_ms" -> "ms",
      "feed.add_batch_ms" -> "ms", "feed.jobs_per_trigger" -> "count",
      "feed.rows_per_trigger" -> "rows", "feed.empty_trigger_ratio" -> "ratio",
      "mv.fold_s" -> "s", "mv.refresh_s" -> "s", "mv.jobs_per_fold" -> "count",
      "mv.fold_busy_s" -> "s", "mv.commit_retries" -> "count",
      "jvm.gc_s" -> "s", "jvm.gc_count" -> "count",
      "env.sentinel_first_s" -> "s", "env.sentinel_last_s" -> "s") ++
      Seq("op", "catalog", "txlog", "feed", "mv", "spark_jobs").map(l => s"self.${l}_s" -> "s")
}

/** Spark-side per-op figures, from the public listeners. */
object SparkLayer {
  def metrics(tr: Tracer): Map[String, (Double, String)] = {
    val ops = tr.ops
    val n = math.max(1, ops.size).toDouble
    val jobs = tr.windowJobs
    val busy = ops.map(o => Rollup.unionNs(jobs.map(j => (j.start, j.end)), o.start, o.end)).sum / 1e9
    val opTime = ops.map(o => o.end - o.start).sum / 1e9
    val unlabelled = jobs.count(j => !j.label.startsWith("graft:"))
    Map(
      "spark.jobs_per_op" -> (jobs.size / n, "count"),
      "spark.tasks_per_op" -> (jobs.map(_.tasks).sum / n, "count"),
      "spark.job_busy_s" -> (busy / n, "s"),
      "spark.driver_gap_s" -> ((opTime - busy) / n, "s"),
      "spark.catalyst_ms_per_op.analysis" -> (tr.phasesMs("analysis") / n, "ms"),
      "spark.catalyst_ms_per_op.optimization" -> (tr.phasesMs("optimization") / n, "ms"),
      "spark.catalyst_ms_per_op.planning" -> (tr.phasesMs("planning") / n, "ms"),
      "spark.unlabelled_job_share" -> (if (jobs.isEmpty) 0.0 else unlabelled.toDouble / jobs.size, "ratio"))
  }

  /** Union of the intervals of jobs whose description starts with one of
    * `labels`, in seconds, and their count.
    */
  def labelled(tr: Tracer, labels: String*): (Double, Int) = {
    val js = tr.windowJobs.filter(j => labels.exists(l => j.label.startsWith(s"graft: $l")))
    (Rollup.unionNs(js.map(j => (j.start, j.end)), Long.MinValue, Long.MaxValue) / 1e9, js.size)
  }
}
