package graftbench

import scala.collection.mutable

import graft.Tables.TableSpec
import graft.sinks.Sink

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Spark counters for one measured window, from a listener the
  * benchmark registers itself (no hooks in the program). */
final class SparkCounters extends SparkListener {
  /** Per job: start and end (ms since epoch) and sums over its tasks. */
  final class Job(val start: Long) {
    var end = -1L
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val jobOfStage = mutable.Map.empty[Int, Job]
  private val persisted = mutable.Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(jobOfStage(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    persisted ++= e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOfStage.get(e.stageId).foreach { j =>
      val s = j.sums
      s("tasks") += 1
      s("task_s") += (e.taskInfo.finishTime - e.taskInfo.launchTime) / 1e3
      val m = e.taskMetrics
      if (m != null) {
        s("cpu_s") += m.executorCpuTime / 1e9
        s("gc_s") += m.jvmGCTime / 1e3
        s("input_bytes") += m.inputMetrics.bytesRead
        s("input_records") += m.inputMetrics.recordsRead
        s("output_bytes") += m.outputMetrics.bytesWritten
        s("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        s("shuffle_fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        s("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def mark(): (Int, Set[Int]) = synchronized((jobs.size, persisted.toSet))

  /** The jobs started since `from` and the ids of the persisted RDDs that
    * stages computed since then (memo builds). */
  def since(from: (Int, Set[Int])): (Seq[Map[String, Any]], Int) = synchronized {
    (jobs.values.drop(from._1).map(j =>
      j.sums.toMap ++ Map("start_ms" -> j.start, "end_ms" -> j.end)).toSeq,
      (persisted -- from._2).size)
  }
}

/** In-memory spans (name, start, end, parent, run id), written as JSON
  * when the benchmark ends. Used only in the traced run. */
final class Tracer {
  final case class Span(id: Int, parent: Int, run: Int, name: String,
      startNs: Long, startMs: Long, var endNs: Long = -1L)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var run = 0

  def newRun(): Unit = run += 1

  def apply[A](name: String)(f: => A): A = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), run, name,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s.id :: stack
    try f finally { s.endNs = System.nanoTime(); stack = stack.tail }
  }

  def json: Seq[Map[String, Any]] = spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
    "run" -> s.run, "name" -> s.name, "start_ms" -> s.startMs,
    "dur_s" -> (s.endNs - s.startNs) / 1e9)).toSeq
}

/** One sink write as the benchmark saw it. */
final case class SinkCall(kind: String, table: String, seconds: Double, ok: Boolean)

/** Times a sink from outside, through `Archiver`'s `sinkOverride`. A
  * `failTable` makes the sink throw for that table (the benchmark's own
  * tests use it to show a vetoed table is a failed operation). */
final class TimedSink(val kind: String, inner: Sink, calls: mutable.Buffer[SinkCall],
    tracer: Option[Tracer], failTable: Option[String] = None) extends Sink {
  override def name: String = inner.name
  override def write(db: String, spec: TableSpec, df: DataFrame, dryRun: Boolean): Unit = {
    val t0 = System.nanoTime()
    var ok = false
    try {
      def body(): Unit = {
        if (failTable.contains(spec.name))
          throw new java.io.IOException(s"injected failure for ${spec.name}")
        inner.write(db, spec, df, dryRun)
      }
      tracer.fold(body())(t => t(s"sinks:$kind")(body()))
      ok = true
    } finally calls += SinkCall(kind, spec.name, (System.nanoTime() - t0) / 1e9, ok)
  }
}

/** Local file system that counts directory listings of `*.parquet`
  * paths, so the traced run can tell how many schema probes table
  * election makes. Installed only in the traced run, through
  * `spark.hadoop.fs.file.impl`. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (p.getName.endsWith(".parquet")) CountingLocalFs.listings.incrementAndGet()
    super.listStatus(p)
  }
}

object CountingLocalFs {
  val listings = new java.util.concurrent.atomic.AtomicLong()
}
