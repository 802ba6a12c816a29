package graft

/** Dev tool: INTERLEAVED in-JVM A/B of one runtime SQL conf across catalog
  * queries — `runMain graft.ConfAB <sfDir> <conf> <valA> <valB> <q> [...]`.
  *
  * Why this exists: this host's delivered memory bandwidth drifts by tens of
  * percent between JVM runs minutes apart (the r16 co-tenant find), so two
  * sequential TimeQ processes cannot adjudicate a 10-20% conf effect. Here
  * each query runs A,B,A,B,A,B in ONE session (shared JIT, same host
  * seconds apart); min-of-3 per arm cancels drift to first order. Only
  * runtime-settable confs (join strategy prefs, AQE thresholds) are valid —
  * the tool sets the conf via spark.conf.set before each plan+execute. */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val conf = args(1)
    val valA = args(2)
    val valB = args(3)
    val names = args.drop(4).toSeq
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries("d9_scalar_count")(spark, dir).count() // warm session
    for (n <- names) {
      def run(v: String): Double = {
        spark.conf.set(conf, v)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).count()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      // untimed warm pass per arm first, so codegen for BOTH plan shapes is
      // compiled before any timed run (the C2 first-run lottery otherwise
      // lands on whichever arm goes first)
      run(valA); run(valB)
      val (as, bs) = (1 to 3).map(_ => (run(valA), run(valB))).unzip
      def f(xs: Seq[Double]) = xs.map(t => f"$t%.3f").mkString(" ")
      println(f"CONFAB $n%-26s A=${as.min}%6.3f B=${bs.min}%6.3f " +
        f"(B/A=${bs.min / as.min}%.2f)  A: ${f(as)}  B: ${f(bs)}")
    }
    spark.stop()
  }
}
