package graft

/** Dev harness: run one named query from [[SparkEntry.queries]] N times
  * against a given sf dir, print per-run wall seconds (cold + warm), and
  * optionally the formatted physical plan. Per-layer timing (jobs,
  * tasks, CPU, Catalyst phases) is the benchmark's traced run — see
  * `benchmark/README.md`.
  *
  * Usage: runMain graft.RunOne <name> [sfDir] [reps] [explain]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val explain = args.contains("explain")
    val spark = GraftSession()
    val fn = SparkEntry.queries(name)
    if (explain) fn(spark, sfDir).explain("formatted")
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[runone] $name rep=$i rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      // same rep hygiene as BenchChild: blocking drop of query-internal
      // checkpoint blocks + GC settle, so reps are comparable draws
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    spark.stop()
  }
}
