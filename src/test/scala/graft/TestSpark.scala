package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Main.builder("local[4]", "4", aqe = true)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.1"

  /** Copy the sf0.001 fixtures to a writable temp dir (for delete-back). */
  def writableCopy(): String = {
    val dst = java.nio.file.Files.createTempDirectory("graft-src").toFile
    new java.io.File(sf0001).listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(dst, f.getName).toPath)
    }
    dst.listFiles().foreach(_.setWritable(true))
    dst.toString
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
