package graft.tools

import graft.{Gates, GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Full-suite partition-layout determinism sweep — DeterminismSpec's
  * property over EVERY registered gate: run each under
  * shuffle.partitions 4 and 13 and diff the sorted row fingerprints.
  * Run once per round (not in the unit suite — it is a second full
  * Verify in cost):
  *
  *   sbt -batch "runMain graft.tools.DeterminismSweep /root/testdata/sf0.001"
  *
  * An optional second argument restricts the sweep to a comma-separated
  * gate list (for sweeping a round's additions without paying the full
  * suite). Prints one line per diverging gate and a final `N/ M gates
  * layout-independent` summary; exit 1 on any divergence. */
object DeterminismSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = Gates.select(args.lift(1)).sorted
    val base = GraftSession.builder(s"local[${GraftSession.cpus()}]", 4).getOrCreate()
    base.sparkContext.setLogLevel("ERROR")
    val alt = base.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "13")

    // both sessions share one CacheManager; the runner clears it after
    // every call, so alt never reads a frame base cached
    def fp(s: SparkSession, gate: String): Either[String, Seq[String]] =
      Gates.run(s, SparkEntry.queries(gate)(s, sfDir))(_.collect().map(_.toString).sorted.toSeq).result

    var bad = 0
    var err = 0
    for (g <- names) {
      (fp(base, g), fp(alt, g)) match {
        case (Right(a), Right(b)) if a == b => ()
        case (Right(a), Right(b)) =>
          bad += 1
          val firstDiff = a.zip(b).find { case (x, y) => x != y }
            .map { case (x, y) => s"'$x' vs '$y'" }
            .getOrElse(s"sizes ${a.size} vs ${b.size}")
          println(s"DIVERGED $g: $firstDiff")
        case (Left(e), _) =>
          err += 1; println(s"ERROR    $g (base): $e")
        case (_, Left(e)) =>
          err += 1; println(s"ERROR    $g (alt): $e")
      }
    }
    println(s"${names.size - bad - err}/${names.size} gates layout-independent" +
      s" ($bad diverged, $err errored)")
    base.stop()
    if (bad + err > 0) sys.exit(1)
  }
}
