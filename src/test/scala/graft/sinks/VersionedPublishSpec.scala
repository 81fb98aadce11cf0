package graft.sinks

import graft.TestSpark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VersionedPublishSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def base(): String = TestSpark.tmpDir("graft-vp") + "/ds"

  test("publish commits atomically; readers resolve the pointer") {
    val b = base()
    assert(VersionedPublish.resolve(spark, b).isEmpty)
    val v1 = VersionedPublish.publish((1L to 10L).toDF("id"), b)
    assert(v1 === 1L)
    assert(VersionedPublish.readLatest(spark, b).count() === 10)
    val v2 = VersionedPublish.publish((1L to 25L).toDF("id"), b)
    assert(v2 === 2L)
    assert(VersionedPublish.resolve(spark, b).map(_._1).contains(2L))
    assert(VersionedPublish.readLatest(spark, b).count() === 25)
  }

  test("retention keeps the newest K complete versions, never the resolved one") {
    val b = base()
    (1 to 5).foreach(i => VersionedPublish.publish(
      (1L to i.toLong).toDF("id"), b, keep = 2))
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(b))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(dirs.toSeq === Seq("v=4", "v=5"))
    assert(VersionedPublish.readLatest(spark, b).count() === 5)
  }

  test("a torso without _SUCCESS is invisible and its version id is never reused") {
    val b = base()
    VersionedPublish.publish((1L to 7L).toDF("id"), b)
    // simulate a writer that died mid-write of v=2: dir exists, no _SUCCESS
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torso = new org.apache.hadoop.fs.Path(b + "/v=2")
    fs.mkdirs(torso)
    // readers still see v=1
    assert(VersionedPublish.resolve(spark, b).map(_._1).contains(1L))
    assert(VersionedPublish.readLatest(spark, b).count() === 7)
    // the next publish skips the torso's id (no clobber) and commits v=3
    val v3 = VersionedPublish.publish((1L to 3L).toDF("id"), b)
    assert(v3 === 3L)
    assert(VersionedPublish.readLatest(spark, b).count() === 3)
  }

  test("a crash between pointer delete and rename falls back to the newest complete version") {
    val b = base()
    VersionedPublish.publish((1L to 4L).toDF("id"), b)
    VersionedPublish.publish((1L to 9L).toDF("id"), b)
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the unlucky window: pointer gone, both versions complete
    fs.delete(new org.apache.hadoop.fs.Path(b + "/_LATEST"), false)
    assert(VersionedPublish.resolve(spark, b).map(_._1).contains(2L))
    assert(VersionedPublish.readLatest(spark, b).count() === 9)
    // and the system heals on the next publish
    val v3 = VersionedPublish.publish((1L to 2L).toDF("id"), b)
    assert(v3 === 3L)
    assert(VersionedPublish.resolve(spark, b).map(_._1).contains(3L))
  }

  test("readVersion time-travels to an immutable historical version") {
    val b = base()
    VersionedPublish.publish((1L to 10L).toDF("id"), b)
    VersionedPublish.publish((1L to 25L).toDF("id"), b)
    // latest moved on; v=1 reads back exactly what was published
    assert(VersionedPublish.readLatest(spark, b).count() === 25)
    val v1 = VersionedPublish.readVersion(spark, b, 1L)
    assert(v1.count() === 10)
    assert(v1.agg(max(col("id"))).head().getLong(0) === 10L)
  }

  test("readVersion fails loudly on unknown, pruned, or torso versions") {
    val b = base()
    (1 to 4).foreach(i => VersionedPublish.publish(
      (1L to i.toLong).toDF("id"), b, keep = 2))
    // v=1 and v=2 were pruned by keep=2; v=9 never existed
    intercept[java.util.NoSuchElementException] {
      VersionedPublish.readVersion(spark, b, 1L)
    }
    intercept[java.util.NoSuchElementException] {
      VersionedPublish.readVersion(spark, b, 9L)
    }
    // a torso (dir without _SUCCESS) is not readable either
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(b + "/v=7"))
    intercept[java.util.NoSuchElementException] {
      VersionedPublish.readVersion(spark, b, 7L)
    }
  }

  test("snapshot publish: cross-table atomicity, torso invisibility, " +
      "retention, per-table consistent reads") {
    val b = base()
    assert(VersionedPublish.resolveSnapshot(spark, b).isEmpty)
    def pair(n: Int) = Seq(
      "parent" -> (1L to n.toLong).toDF("k"),
      "child" -> (1L to n.toLong).flatMap(k => Seq(k, k)).toDF("k"))
    val v1 = VersionedPublish.publishSnapshot(pair(3), b)
    assert(v1 === 1L)
    assert(VersionedPublish.readSnapshotTable(spark, b, "parent").count() === 3)
    assert(VersionedPublish.readSnapshotTable(spark, b, "child").count() === 6)
    // a torso snapshot (tables written, NO marker) is invisible: readers
    // keep resolving v1 for EVERY table — no mixed-version observation
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (5L to 9L).toDF("k").write.parquet(s"$b/v=2/parent")
    (5L to 9L).toDF("k").write.parquet(s"$b/v=2/child")
    assert(VersionedPublish.resolveSnapshot(spark, b).map(_._1) === Some(1L))
    assert(VersionedPublish.readSnapshotTable(spark, b, "parent").count() === 3)
    // next publish skips the torso id (3) and commits both tables at once
    val v3 = VersionedPublish.publishSnapshot(pair(10), b)
    assert(v3 === 3L)
    assert(VersionedPublish.readSnapshotTable(spark, b, "parent").count() === 10)
    assert(VersionedPublish.readSnapshotTable(spark, b, "child").count() === 20)
    // retention with keep=1 prunes v1; the committed snapshot survives
    VersionedPublish.publishSnapshot(pair(4), b, keep = 1)
    assert(VersionedPublish.readSnapshotTable(spark, b, "parent").count() === 4)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$b/v=1")))
    // duplicate table names rejected
    intercept[IllegalArgumentException] {
      VersionedPublish.publishSnapshot(
        Seq("t" -> (1L to 2L).toDF("k"), "t" -> (1L to 2L).toDF("k")), b)
    }
  }

  test("snapshot publish with two failing tables throws the first, the other " +
      "suppressed, and commits nothing") {
    val b = base()
    val v1 = VersionedPublish.publishSnapshot(Seq("ok" -> (1L to 3L).toDF("k")), b)
    def failing(msg: String) = (1L to 3L).toDF("k")
      .withColumn("k", when(col("k") > 1L, raise_error(lit(msg))).otherwise(col("k")))
    val e = intercept[Exception] {
      VersionedPublish.publishSnapshot(Seq(
        "ok" -> (1L to 5L).toDF("k"),
        "bad1" -> failing("boom-one"),
        "bad2" -> failing("boom-two")), b)
    }
    def text(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString
    assert(text(e).contains("boom-one"), text(e))
    // Spark may attach its own suppressed errors; the second table's must be there
    assert(e.getSuppressed.exists(t => text(t).contains("boom-two")),
      e.getSuppressed.map(text).mkString("\n"))
    assert(VersionedPublish.resolveSnapshot(spark, b).map(_._1) === Some(v1))
    assert(VersionedPublish.readSnapshotTable(spark, b, "ok").count() === 3)
  }
}
