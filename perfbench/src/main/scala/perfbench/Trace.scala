package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are `System.nanoTime` on the benchmark's
  * clock; `op` is the id shared by every span of one operation.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long)

/** A Spark job as the public listener saw it. `group` is the job-group id
  * the benchmark set on the calling thread (None for jobs the engine runs
  * on its own threads).
  */
final case class Job(id: Int, group: Option[String], label: String,
    tasks: Int, start: Long, var end: Long)

/** In-memory span recorder. Spans wrap the benchmark's own calls into the
  * engine's public functions; nothing inside the engine is instrumented.
  * When disabled every wrapper only runs its body.
  */
object Tracer {
  /** Job-group ids the benchmark sets: this prefix and a span id. */
  val GroupPrefix = "perfbench-span-"
}

final class Tracer(val enabled: Boolean) {
  import Tracer.GroupPrefix
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  // per-thread open spans: (span id, op id); a thread with none open (the
  // stream's foreachBatch thread) nests under the op that is open
  private val stack = ThreadLocal.withInitial[mutable.Stack[(Long, Long)]](() => mutable.Stack())
  @volatile private var openOp = 0L
  /** Id of the op span that closed last. */
  @volatile var lastOp = 0L
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.ArrayBuffer[Job]()
  val phasesMs = mutable.Map[String, Double]().withDefaultValue(0.0)
  val scans = mutable.ArrayBuffer[(Long, Long)]() // (op, files read)
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  // job events carry wall-clock millis; map them onto the nanoTime axis
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Jobs that started inside an op (not in set-up, not in the
    * end-of-run checks, not in a stream's idle polling).
    */
  def windowJobs: Seq[Job] = {
    val os = ops
    synchronized(jobs.filter(j => j.end > 0 && os.exists(o => o.start <= j.start && j.start <= o.end)).toSeq)
  }

  /** The spans that are whole ops. */
  def ops: Seq[Span] = synchronized(spans.filter(s => s.id == s.op).toSeq)

  /** Time `body` as a span named `name`, a child of the innermost open
    * span. `op = true` starts a new operation id. While the span is open
    * the calling thread's Spark job group names it, so the jobs it
    * launches are parented to it.
    */
  def span[A](name: String, op: Boolean = false)(body: => A)(
      implicit spark: SparkSession): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val st = stack.get
      val (parent, parentOp) = st.headOption.getOrElse((openOp, openOp))
      val opId = if (op) id else parentOp
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", s"$GroupPrefix$id")
      st.push((id, opId))
      if (op) openOp = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        st.pop()
        if (op) { openOp = 0L; lastOp = id }
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        synchronized { spans += Span(id, parent, opId, name, t0, t1) }
      }
    }

  /** An op: a top-level span. The listener bus is drained before it
    * closes, so every listener event it caused is attributed to it.
    */
  def traced[A](name: String)(body: => A)(implicit spark: SparkSession): A =
    span(name, op = true) {
      try body finally if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    }

  /** Forget listener figures gathered before the timed window. */
  def startWindow(spark: SparkSession): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized { spans.clear(); jobs.clear(); phasesMs.clear(); scans.clear(); progress.clear() }
  }

  /** Register the public Spark listeners that feed the trace. */
  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(GroupPrefix))
        val label = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        Tracer.this.synchronized {
          jobs += Job(e.jobId, group, label, e.stageInfos.map(_.numTasks).sum,
            clockOffsetNs + e.time * 1000000L, -1L)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Tracer.this.synchronized {
          jobs.reverseIterator.find(_.id == e.jobId)
            .foreach(_.end = clockOffsetNs + e.time * 1000000L)
        }
    })
    spark.listenerManager.register(new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val files = collect(qe.executedPlan) {
          case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
        }.sum
        val op = openOp
        Tracer.this.synchronized {
          qe.tracker.phases.foreach { case (phase, s) =>
            phasesMs(phase) += (s.endTimeMs - s.startTimeMs).toDouble
          }
          scans += ((op, files))
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    watchStreams(spark)
  }

  /** Record the progress of the streams `session` runs. */
  def watchStreams(session: SparkSession): Unit = if (enabled) {
    session.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Tracer.this.synchronized { progress += e }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }
}

object Rollup {

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The span each job belongs to: the span named by its job group, else
    * the innermost span open when it started (the client is single
    * threaded, so that span caused it).
    */
  def parentOf(job: Job, spans: Seq[Span], byId: Map[Long, Span]): Option[Span] =
    job.group.flatMap(g => g.stripPrefix(Tracer.GroupPrefix).toLongOption)
      .flatMap(byId.get)
      .orElse(spans.filter(s => s.start <= job.start && job.start <= s.end)
        .sortBy(s => s.end - s.start).headOption)

  /** The layer a span belongs to: "op" for whole ops, else the prefix of
    * its name ("catalog", "txlog", "feed", "mv").
    */
  def layerOf(s: Span): String = if (s.id == s.op) "op" else s.name.takeWhile(_ != '.')

  /** Self time per layer, in seconds: each span's duration minus the part
    * of it covered by its children (child spans and the Spark jobs
    * parented to it), summed by layer; "spark_jobs" is the union of the
    * jobs parented to any span.
    */
  def selfTime(spans: Seq[Span], jobs: Seq[Job]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val children = mutable.Map[Long, mutable.ArrayBuffer[(Long, Long)]]()
    spans.filter(_.parent != 0L).foreach(s =>
      children.getOrElseUpdate(s.parent, mutable.ArrayBuffer()) += ((s.start, s.end)))
    val parented = jobs.filter(_.end > 0).flatMap { j =>
      parentOf(j, spans, byId).map { p =>
        children.getOrElseUpdate(p.id, mutable.ArrayBuffer()) += ((j.start, j.end))
        (j.start, j.end)
      }
    }
    val self = spans.groupBy(layerOf).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = unionNs(children.getOrElse(s.id, Nil).toSeq, s.start, s.end)
        (s.end - s.start - covered) / 1e9
      }.sum
    }
    self + ("spark_jobs" -> unionNs(parented, Long.MinValue, Long.MaxValue) / 1e9)
  }
}
