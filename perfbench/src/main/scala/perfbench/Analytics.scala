package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Tables
import graft.queries._

/** `analytics`: the catalog queries that open no database and start no
  * stream, in a fresh seeded order per pass. Each op runs one query and
  * collects every result row; its row count must equal the recorded
  * expectation.
  */
final class Analytics(spark: SparkSession, tr: Tracer, seed: Long, data: String,
    expectedFile: String) extends Workload {
  implicit private val s: SparkSession = spark

  val families: Seq[(String, Seq[Q])] = Seq(
    "relational" -> RelationalQueries.all, "text" -> TextQueries.all,
    "timeseries" -> TimeSeriesQueries.all, "event" -> EventQueries.all,
    "vector" -> VectorQueries.all, "domain" -> DomainQueries.all,
    "natural" -> NaturalQueries.all, "pipeline" -> PipelineQueries.all)
  private val familyOf: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
  private val queries: Map[String, Q] =
    Catalog.all.filter(q => OpGen.isAnalytics(q.name)).map(q => q.name -> q).toMap
  require(queries.size == 132, s"expected 132 analytics queries, found ${queries.size}")

  /** name -> (expected row count, seconds) as recorded on the
    * benchmark's data at the seed commit.
    */
  private val expected: Map[String, (Long, Double)] =
    if (!Files.isRegularFile(Paths.get(expectedFile))) Map.empty
    else Files.readAllLines(Paths.get(expectedFile)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, c, t) = l.split("\t"); n -> (c.toLong, t.toDouble) }.toMap

  /** Strata by recorded cost, cheapest first: consecutive queries in
    * cost order, at most four to a stratum and none costing over 1.25
    * times another of its stratum (so an outlier stands alone). Whichever
    * member the seed picks, a stratum costs about the same.
    */
  private val strata: Seq[Seq[String]] = {
    def cost(n: String) = expected.get(n).map(_._2).getOrElse(0.0)
    val out = mutable.ArrayBuffer[Vector[String]]()
    queries.keys.toSeq.sortBy(n => (-cost(n), n)).foreach { n =>
      if (out.nonEmpty && out.last.size < 4 && cost(out.last.head) <= 1.25 * cost(n))
        out(out.size - 1) = out.last :+ n
      else out += Vector(n)
    }
    out.reverse.toSeq
  }

  private val ops = OpGen.analytics(seed, strata)
  private val familySeconds = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val mismatches = mutable.ArrayBuffer[String]()

  /** Analytics stages nothing into a database: set-up reads every base
    * table once (footers, page cache, the loader's registrations).
    */
  def setup(root: Path): Unit =
    Tables.names.foreach(n => Tables.load(spark, data, n).count())

  def run(name: String): Long = queries(name).run(spark, data).collect().length.toLong

  def next(): Seq[OpResult] = {
    val name = ops.next().asInstanceOf[Op.Query].name
    val t0 = System.nanoTime()
    val rows = tr.traced(s"query.$name")(run(name))
    val secs = (System.nanoTime() - t0) / 1e9
    familySeconds(familyOf(name)) += secs
    val ok = expected.get(name).exists(_._1 == rows)
    if (!ok) mismatches += s"$name: $rows rows, expected ${expected.get(name).map(_._1)}"
    Seq(OpResult("read", name, secs, ok))
  }

  def verify(): Seq[String] = mismatches.toSeq

  def extraMetrics(window: Double): Map[String, (Double, String)] = Map.empty

  def layerMetrics(tr: Tracer): Map[String, (Double, String)] =
    families.map { case (f, _) => s"queries.${f}_s" -> (familySeconds(f), "s") }.toMap

  def close(): Unit = ()

  /** Row count and seconds of every analytics query, for the
    * expectations file.
    */
  def record(): Seq[(String, Long, Double)] =
    queries.keys.toSeq.sorted.map { n =>
      val t0 = System.nanoTime()
      val rows = run(n)
      (n, rows, (System.nanoTime() - t0) / 1e9)
    }
}
