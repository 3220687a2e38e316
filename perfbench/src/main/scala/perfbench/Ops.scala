package perfbench

import java.security.MessageDigest

/** One operation a workload's client issues. Ops are plain data made by
  * a seeded generator; the engine only ever sees what they carry.
  */
sealed trait Op { def kind: String; def write: Boolean }

object Op {
  // analytics
  final case class Query(name: String) extends Op {
    def kind = "query"; def write = false
  }

  // point_writes: readings(event_id, ts micros, user_id, value in cents)
  final case class Reading(id: Long, ts: Long, point: Long, cents: Long)
  /** `invalid`: the violation kind the engine must reject the batch with. */
  final case class InsertReadings(rows: Vector[Reading], invalid: Option[String])
      extends Op { def kind = if (invalid.isEmpty) "insert" else "insert_invalid"; def write = true }
  final case class UpsertState(rows: Vector[Reading]) extends Op {
    def kind = "upsert"; def write = true
  }
  /** readings with lo <= ts < hi get value += cents/100. */
  final case class UpdateRange(lo: Long, hi: Long, cents: Long) extends Op {
    def kind = "update_local"; def write = true
  }
  /** readings with event_id % mod == rem get value += cents/100. */
  final case class UpdateSpread(mod: Int, rem: Int, cents: Long) extends Op {
    def kind = "update_spread"; def write = true
  }
  /** retention: readings with ts < cutoff are deleted. */
  final case class DeleteBefore(cutoff: Long) extends Op {
    def kind = "delete"; def write = true
  }
  case object Optimize extends Op { def kind = "optimize"; def write = true }
  final case class FindState(point: Long) extends Op {
    def kind = "find_by_id"; def write = false
  }
  final case class SeekRange(lo: Long, hi: Long) extends Op {
    def kind = "seek"; def write = false
  }
  /** count of readings `back` commits before the head. */
  final case class TimeTravel(back: Int) extends Op {
    def kind = "time_travel"; def write = false
  }
  /** count and value sum of the points' readings with ts >= since. */
  final case class Dashboard(points: Vector[Long], since: Long) extends Op {
    def kind = "dashboard"; def write = false
  }

}

/** Seeded op sequences. Each generator is a pure function of its seed and
  * the base data's shape, so one (seed, workload) always yields one op
  * sequence; [[fingerprint]] hashes a prefix of it.
  */
object OpGen {
  import Op._

  /** The 32 catalog queries that open a GraftDatabase or start a stream;
    * `analytics` leaves them to the engine workloads.
    */
  val EngineQueries: Set[String] =
    (Seq(127, 136, 137, 138, 139) ++ (141 to 151) ++ (153 to 155) ++
      (157 to 161) ++ (163 to 170)).map(n => s"q$n").toSet

  def isAnalytics(name: String): Boolean =
    !EngineQueries.contains(name.takeWhile(_ != '_'))

  /** Endless seeded shuffles of `deck`. */
  def decks[A](rng: scala.util.Random, deck: Seq[A]): Iterator[A] =
    Iterator.continually(rng.shuffle(deck)).flatten

  /** Analytics: `strata` are groups of up to four queries of similar
    * cost, cheapest first. Round r runs one query of every stratum with
    * more than r % 4 members, so every query runs once per four rounds.
    * Within a round the strata take their turns in van der Corput order
    * (0, 32, 16, 8, 24, ...), so any run of consecutive ops spans the
    * cost range evenly; within a stratum the queries take turns in a
    * seeded order. The seed thus sets which query of each stratum a
    * window sees, not the window's cost mix.
    */
  def analytics(seed: Long, strata: Seq[Seq[String]]): Iterator[Op] = {
    val rng = new scala.util.Random(seed)
    val members = strata.map(st => decks(rng, st.sorted))
    val order = strata.indices.sortBy(i => Integer.reverse(i) >>> 1)
    Iterator.from(0).flatMap(r => order.filter(i => r % 4 < strata(i).size))
      .map(i => Query(members(i).next()))
  }

  /** Shape of the point_writes base data. */
  final case class PointShape(points: Int, baseRows: Long, tsMin: Long, tsMax: Long)

  /** Zipf(1.1) ranks over `n` items: a few hot points, a long tail. */
  final class Zipf(n: Int, s: Double = 1.1) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r.toDouble, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(rng: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  val InsertBatch = 200
  val UpsertBatch = 20

  /** The cycle of point_writes op kinds: 15 writes (one of the six
    * inserts carries an invalid row, one OPTIMIZE) and 10 reads. The kinds
    * repeat in this order so that every run, whatever its seed, holds the
    * same mix; the seed sets every op's content. A window holds most of a
    * cycle, so every kind of write comes in its first half.
    */
  val PointCycle: Seq[String] = Seq(
    "insert", "find_by_id", "upsert", "delete", "insert_invalid",
    "update_spread", "insert", "update_local", "optimize",
    "seek", "time_travel", "dashboard",
    "find_by_id", "insert", "seek", "upsert", "update_local", "insert",
    "dashboard", "upsert", "time_travel", "insert", "seek", "update_local", "find_by_id")

  /** point_writes ops. The generator keeps the minimum it needs to stay
    * valid (next id, the clock, the retention cutoff, an id known to be
    * live); [[PointModel]] tracks the contents.
    */
  def pointWrites(seed: Long, shape: PointShape): Iterator[Op] = new Iterator[Op] {
    private val rng = new scala.util.Random(seed)
    private val kinds = Iterator.continually(PointCycle).flatten
    private val zipf = new Zipf(shape.points)
    private var nextId = shape.baseRows
    private var clock = shape.tsMax
    private var cutoff = shape.tsMin
    private var writes = 0
    private var lastLive = shape.baseRows - 1 // newest id no op can delete
    private val span = shape.tsMax - shape.tsMin
    def hasNext = true

    private def reading(id: Long): Reading = {
      clock += 1 + rng.nextInt(5000000)
      Reading(id, clock, zipf.sample(rng).toLong, rng.nextInt(50000).toLong)
    }

    private def batch(): Vector[Reading] =
      Vector.fill(InsertBatch) { val r = reading(nextId); nextId += 1; r }

    def next(): Op = {
      val op: Op = kinds.next() match {
        case "insert" =>
          val rows = batch()
          lastLive = rows.last.id
          InsertReadings(rows, None)
        case "insert_invalid" =>
          val rows = batch()
          val i = rng.nextInt(InsertBatch)
          if (rng.nextBoolean())
            InsertReadings(rows.updated(i,
              rows(i).copy(point = shape.points + rng.nextInt(1000).toLong)), Some("fk_missing"))
          else
            InsertReadings(rows.updated(i, rows(i).copy(id = lastLive)), Some("pk_conflict"))
        case "upsert" =>
          UpsertState(Vector.fill(UpsertBatch)(reading(0L)).map(r => r.copy(id = r.point))
            .groupBy(_.point).values.map(_.last).toVector.sortBy(_.point))
        case "update_local" =>
          val lo = cutoff + (span * 0.1).toLong + (rng.nextDouble() * span * 0.8).toLong
          UpdateRange(lo, lo + span / 200, 1 + rng.nextInt(500).toLong)
        case "update_spread" => UpdateSpread(97, rng.nextInt(97), 1 + rng.nextInt(500).toLong)
        case "delete" =>
          cutoff += span / 1000 + (rng.nextDouble() * span / 1000).toLong
          DeleteBefore(cutoff)
        case "optimize" => Optimize
        case "find_by_id" => FindState(zipf.sample(rng).toLong)
        case "seek" =>
          val lo = cutoff + (rng.nextDouble() * (clock - cutoff)).toLong
          SeekRange(lo, lo + span / 400)
        case "time_travel" => TimeTravel(1 + rng.nextInt(math.max(1, math.min(writes, 20))))
        case "dashboard" =>
          Dashboard(Vector.fill(5)(zipf.sample(rng).toLong).distinct.sorted, clock - span / 20)
      }
      if (op.write) writes += 1
      op
    }
  }

  /** SHA-256 over the first `n` ops' printed form. */
  def fingerprint(ops: Iterator[Op], n: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    ops.take(n).foreach(o => md.update((o.toString + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
