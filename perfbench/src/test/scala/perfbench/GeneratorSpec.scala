package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The workload generators are pure functions of (seed, workload). */
class GeneratorSpec extends AnyFunSuite {
  private val strata = (0 until 132).map(i => f"q$i%03d_x").grouped(4).toSeq
  private val points = OpGen.PointShape(1500, 100000L, 0L, 30L * 86400L * 1000000L)

  private val generators: Seq[(String, Long => Iterator[Op])] = Seq(
    "analytics" -> (s => OpGen.analytics(s, strata)),
    "point_writes" -> (s => OpGen.pointWrites(s, points)))

  generators.foreach { case (name, gen) =>
    test(s"$name: the same seed gives the same op sequence") {
      assert(OpGen.fingerprint(gen(7L), 500) == OpGen.fingerprint(gen(7L), 500))
    }
    test(s"$name: another seed gives another op sequence") {
      assert(OpGen.fingerprint(gen(7L), 500) != OpGen.fingerprint(gen(8L), 500))
    }
  }

  test("analytics runs every query once per four rounds") {
    val uneven = Seq(Seq("a"), Seq("b", "c"), Seq("d", "e", "f"), Seq("g", "h", "i", "j"))
    val names = OpGen.analytics(3L, uneven).take(10).collect { case Op.Query(n) => n }.toSeq
    assert(names.sorted == uneven.flatten.sorted)
    assert(OpGen.analytics(3L, strata).take(132).collect { case Op.Query(n) => n }.toSet ==
      strata.flatten.toSet)
  }

  test("point_writes holds its cycle's mix in every 25 ops") {
    val ops = OpGen.pointWrites(5L, points).take(250).toSeq
    ops.grouped(25).foreach { c =>
      assert(c.count(_.write) == 15 && c.count(_ == Op.Optimize) == 1)
      assert(c.count { case Op.InsertReadings(_, Some(_)) => true; case _ => false } == 1)
    }
  }

  test("the output names the seed in use") {
    val a = Main.parse(Array("--workload", "analytics", "--seed", "1234", "--seconds", "5",
      "--trace", "0", "--data", "d", "--expected", "e", "--work", "w"))
    assert(Main.banner(a).contains("seed=1234"))
  }
}
