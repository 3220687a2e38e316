package perfbench

import java.nio.file.{Files, Paths}

/** Writes the analytics expectations: one `name<TAB>rows<TAB>seconds`
  * line per query on the benchmark's generated data. It runs the catalog
  * twice and requires both passes to agree on every row count; the
  * seconds are the second (warm) pass's. The rows are the correctness
  * gate; the seconds only group queries of similar cost into the strata
  * that order the workload.
  *
  *   Record <dataDir> <outFile>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val (spark, _) = Main.session(math.min(4, Runtime.getRuntime.availableProcessors))
    val wl = new Analytics(spark, new Tracer(false), 0L, args(0), "")
    val cold = wl.record()
    val warm = wl.record()
    val differ = cold.zip(warm).filter { case (a, b) => a._2 != b._2 }
    require(differ.isEmpty, s"row counts differ between passes: $differ")
    val lines = warm.map { case (n, c, t) => f"$n\t$c\t$t%.3f" }
    Files.write(Paths.get(args(1)),
      ("# query<TAB>rows<TAB>seconds on the generated data; see README.md" +: lines)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
