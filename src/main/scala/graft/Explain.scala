package graft

/** Plan/profiling utility: print the formatted physical plan of one
  * SparkEntry query and time N executions.
  *
  * Usage: graft.Explain <queryName> [sfDir] [runs]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = Main.localSession(Main.cpus(8))
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).explain("formatted")
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}
