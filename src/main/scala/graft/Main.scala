package graft

import graft.config.{Config, Ini}
import graft.operators.Archiver

import org.apache.spark.sql.SparkSession

/** CLI entry point — SURVEY.md X6
  * (/root/reference/osarchiver/main.py:17-103): parse args, load the INI
  * config, run every enabled archiver, clean exit on interrupt/failure.
  *
  * Usage: graft.Main --config <file.ini> [--dry-run] [--log-level LEVEL]
  */
object Main {

  final case class Args(
      config: String = "",
      dryRun: Boolean = false,
      logLevel: String = "WARN",
      logFile: Option[String] = None)

  def parseArgs(argv: Seq[String]): Args = {
    @annotation.tailrec
    def loop(rest: Seq[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--config" +: v +: tail => loop(tail, acc.copy(config = v))
      case "--dry-run" +: tail => loop(tail, acc.copy(dryRun = true))
      case "--log-level" +: v +: tail => loop(tail, acc.copy(logLevel = v))
      case "--log-file" +: v +: tail => loop(tail, acc.copy(logFile = Some(v)))
      case other +: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val a = loop(argv, Args())
    if (a.config.isEmpty)
      throw new IllegalArgumentException(
        "usage: graft.Main --config <file.ini> [--dry-run] " +
          "[--log-level LEVEL] [--log-file PATH]")
    a
  }

  /** The settings every local session shares: `shuffle.partitions` =
    * `cpus`, AQE on or off, UTC, no UI. */
  private[graft] def builder(master: String, cpus: String, aqe: Boolean): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      // cached plans keep AQE-coalesced partitioning: without this every
      // persisted small intermediate materializes at the static shuffle
      // partition count and each downstream stage pays one task per
      // near-empty block (measured 2.5x on the pagerank iteration chain)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Local parallelism: SPARK_GRAFT_CPUS, else the host's processor count. */
  private[graft] def cpus(): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

  def session(): SparkSession = {
    val n = cpus()
    builder(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$n]"), n, aqe = true)
      .appName("graft-archiver")
      .getOrCreate()
  }

  /** The `local[cpus]` session of the dev and bench mains. `aqe = false`
    * keeps plans static for tools that read the compile-time plan. */
  def localSession(cpus: String, aqe: Boolean = true,
      logLevel: String = "WARN"): SparkSession = {
    val s = builder(s"local[$cpus]", cpus, aqe).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Session with the graft SQL functions + optimizer rules active. */
  def registeredSession(): SparkSession = {
    val s = session()
    graft.functions.GraftExtensions.register(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val args =
      try parseArgs(argv.toSeq)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage); sys.exit(2)
      }
    val iniText =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(args.config)))
      catch {
        case e: java.io.IOException =>
          System.err.println(s"cannot read config ${args.config}: ${e.getMessage}")
          sys.exit(2)
      }
    val archivers =
      try Config.archivers(Ini.parse(iniText), dryRun = args.dryRun)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"config error: ${e.getMessage}"); sys.exit(2)
      }
    if (archivers.isEmpty) {
      System.err.println("no enabled [archiver:*] section in config; nothing to do")
      sys.exit(0)
    }
    val logWriter = args.logFile.map(p =>
      new java.io.PrintWriter(new java.io.FileWriter(p, true)))
    def log(msg: String): Unit = {
      println(msg)
      logWriter.foreach { w => w.println(msg); w.flush() }
    }
    val spark = registeredSession()
    spark.sparkContext.setLogLevel(args.logLevel)
    var failed = false
    try {
      archivers.foreach { conf =>
        log(s"[graft] archiver '${conf.name}' starting " +
          s"(dry-run=${conf.dryRun}, archive=${conf.archiveData}, delete=${conf.deleteData})")
        // Live-store delete-back for the parquet testbed (shared with the
        // flagship entry; see Archiver.parquetLiveStore).
        val liveStore = Archiver.parquetLiveStore(spark, conf.source.dir)
        val parallelism = sys.env.getOrElse("SPARK_GRAFT_TABLE_PARALLELISM", "1").toInt
        val results = new Archiver(spark, conf)
          .run(if (conf.deleteData && !conf.dryRun) Some(liveStore) else None,
            parallelism = parallelism)
        results.foreach { r =>
          log(f"[graft]   ${r.table}%-12s archived=${r.archivedCount}%-8d " +
            f"deleted=${r.deletedCount}%-8d vetoed=${r.vetoed}")
          if (r.vetoed) failed = true
        }
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[graft] run failed: ${e.getMessage}")
        failed = true
    } finally {
      // clean_exit equivalent (main.py:92-102): always release the session
      spark.stop()
      logWriter.foreach(_.close())
    }
    sys.exit(if (failed) 1 else 0)
  }
}
