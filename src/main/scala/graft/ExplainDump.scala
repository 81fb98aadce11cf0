package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan evidence for optimization rounds (plans/rNN/).
  *
  * Usage: graft.ExplainDump <sfDir> <outDir> <suffix> <q1,q2,...>
  *
  * Writes <outDir>/<query>_<suffix>.txt. Queries that execute during
  * construction (streaming memory sinks, write-then-read-back) dump the
  * plan of the frame they RETURN, with a header noting that the
  * construction-time work is not in the plan; the per-round bench and
  * PLANS.md carry their timing/shape evidence instead.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    java.nio.file.Files.createDirectories(outDir)
    val spark = Main.localSession(Main.cpus(32), logLevel = "ERROR")
    graft.functions.GraftExtensions.register(spark)
    names.foreach { name =>
      val out = outDir.resolve(s"${name}_$suffix.txt")
      try {
        // lookup INSIDE the try: one misspelled name writes an ERROR
        // file and the remaining queries still dump (ADVICE r11)
        val fn = SparkEntry.queries(name)
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(out,
          (s"-- $name @ $sfDir ($suffix)\n" + plan).getBytes("UTF-8"))
        println(s"wrote $out")
      } catch {
        case e: Throwable =>
          java.nio.file.Files.write(out,
            s"-- $name @ $sfDir ($suffix)\nERROR: ${e.getMessage}\n"
              .getBytes("UTF-8"))
          println(s"ERROR $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
