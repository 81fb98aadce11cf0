package graft.operators

import java.time.Instant

import graft.{Tables, TestSpark}
import graft.Tables.TableSpec
import graft.config._
import graft.sinks.Sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ArchiverSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val now = Instant.parse("2002-01-01T00:00:00Z")

  private def conf(dir: String, dsts: Seq[DestinationConfig] = Nil,
      delete: Boolean = false) =
    ArchiverConfig("test", SourceConfig("src", dir, retention = "12 MONTH"),
      dsts, archiveData = dsts.nonEmpty, deleteData = delete)

  test("archivable + remaining partition the table exactly") {
    val a = new Archiver(spark, conf(TestSpark.sf0001), now)
    val spec = Tables.byName("orders")
    val live = Tables.load(spark, TestSpark.sf0001, "orders")
    val archived = a.archivable(live, spec)
    val remaining = a.remaining(live, archived, spec)
    val total = live.count()
    assert(archived.count() + remaining.count() === total)
    // disjoint on PK
    assert(archived.join(remaining, "o_orderkey").count() === 0)
    // cutoff semantics: everything archived is <= now - 12 months
    val cutoff = java.sql.Timestamp.from(Instant.parse("2001-01-01T00:00:00Z"))
    assert(archived.filter(col("o_orderdate") > lit(cutoff)).count() === 0)
    assert(remaining.filter(col("o_orderdate") <= lit(cutoff)).count() === 0)
  }

  test("NULL retention column rows are never archived") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(java.sql.Timestamp.valueOf("1999-01-01 00:00:00"))),
      (2L, None),
      (3L, Some(java.sql.Timestamp.valueOf("2001-12-31 00:00:00")))
    ).toDF("id", "deleted_at")
    val spec = TableSpec("t", Seq("id"), Some("deleted_at"), Nil)
    val a = new Archiver(spark, conf("/unused"), now)
    val got = a.archivable(df, spec).select("id").as[Long].collect().toSet
    assert(got === Set(1L)) // 2 is NULL (live), 3 is within retention
  }

  test("failing sink vetoes the delete") {
    val failing = new Sink {
      def name = "boom"
      def write(db: String, spec: TableSpec, df: DataFrame, dryRun: Boolean): Unit =
        throw new RuntimeException("sink down")
    }
    var deleteRan = false
    val a = new Archiver(spark,
      conf(TestSpark.sf0001, Seq(ParquetDestination("x", "/unused")), delete = true),
      now, sinkOverride = Some(Seq(failing)))
    val r = a.runTable(Tables.byName("orders"),
      liveStore = Some((_, _) => deleteRan = true))
    assert(r.vetoed)
    assert(r.deletedCount === 0)
    assert(!deleteRan, "delete must not run when archiving failed")
  }

  test("successful sinks allow delete; counts line up") {
    val out = TestSpark.tmpDir("arch-ok")
    var deletedRows = -1L
    val a = new Archiver(spark,
      conf(TestSpark.sf0001,
        Seq(ParquetDestination("x", s"$out/parquet")), delete = true), now)
    val r = a.runTable(Tables.byName("orders"),
      liveStore = Some((_, rest) => deletedRows = rest.count()))
    assert(!r.vetoed)
    assert(r.archivedCount > 0)
    assert(r.deletedCount === r.archivedCount)
    assert(deletedRows === 1500 - r.archivedCount)
  }

  test("full run elects and orders tables child-first") {
    val a = new Archiver(spark, conf(TestSpark.sf0001), now)
    val results = a.run()
    // only tables with a retention column are elected
    assert(results.map(_.table).toSet === Set("lineitem", "orders", "events"))
    // child (lineitem) before parent (orders)
    val names = results.map(_.table)
    assert(names.indexOf("lineitem") < names.indexOf("orders"))
  }

  test("delete-only mode (archive_data=false) deletes without sinks (D2)") {
    var deleteRan = false
    val c = ArchiverConfig("del-only", SourceConfig("src", TestSpark.sf0001,
      retention = "12 MONTH"), Nil, archiveData = false, deleteData = true)
    val r = new Archiver(spark, c, now)
      .runTable(Tables.byName("orders"), liveStore = Some((_, _) => deleteRan = true))
    assert(!r.vetoed && r.deletedCount > 0 && deleteRan)
  }

  test("property: archive + remaining partition exactly for many cutoffs") {
    val spec = Tables.byName("orders")
    val live = Tables.load(spark, TestSpark.sf0001, "orders")
    val total = live.count()
    for (year <- Seq(1994, 1996, 1998, 2000, 2003)) {
      val a = new Archiver(spark, conf(TestSpark.sf0001),
        Instant.parse(s"$year-01-01T00:00:00Z"))
      val archived = a.archivable(live, spec)
      val remaining = a.remaining(live, archived, spec)
      assert(archived.count() + remaining.count() === total, s"year=$year")
      assert(archived.join(remaining, "o_orderkey").count() === 0, s"year=$year")
    }
  }

  test("same-location destination forces the _archive db suffix (W5)") {
    val src = TestSpark.writableCopy()
    val c = conf(src, Seq(ParquetDestination("x", src))) // dst == src dir!
    val r = new Archiver(spark, c, now).runTable(Tables.byName("orders"))
    assert(!r.vetoed)
    assert(new java.io.File(s"$src/src_archive/orders").exists(),
      "archive must land under <db>_archive when sharing the source location")
  }

  test("wave-parallel run matches the sequential run and respects FK order") {
    val out1 = TestSpark.tmpDir("seq"); val out2 = TestSpark.tmpDir("par")
    def results(out: String, par: Int) = new Archiver(spark,
      conf(TestSpark.sf0001, Seq(ParquetDestination("x", s"$out/p")), delete = true),
      now).run(liveStore = Some((_, _) => ()), parallelism = par)
    val seq = results(out1, 1)
    val par = results(out2, 4)
    assert(par.map(r => r.table -> r.archivedCount).toMap ===
      seq.map(r => r.table -> r.archivedCount).toMap)
    // lineitem (child) must complete no later than its parent orders:
    // waves guarantee it structurally — verify both were processed
    assert(par.map(_.table).toSet === Set("lineitem", "orders", "events"))
  }

  test("config-driven JDBC destination archives end-to-end and re-runs idempotently") {
    val url = "jdbc:derby:memory:archdst;create=true"
    val c = ArchiverConfig("test",
      SourceConfig("src", TestSpark.sf0001, retention = "12 MONTH"),
      Seq(JdbcDestination("arch", url)), archiveData = true, deleteData = false)
    val results = new Archiver(spark, c, now).run()
    val orders = results.find(_.table == "orders").get
    assert(orders.archivedCount > 0 && !orders.vetoed)
    def countIn(table: String): Long = {
      val conn = graft.sinks.Jdbc.connect(graft.sinks.JdbcSinkConfig(url))
      try {
        val rs = conn.createStatement().executeQuery(s"SELECT count(*) FROM $table")
        rs.next(); rs.getLong(1)
      } finally graft.sinks.Jdbc.close(conn)
    }
    assert(countIn("orders") === orders.archivedCount)
    // re-run: PK upsert semantics make the whole archival idempotent
    val again = new Archiver(spark, c, now).run()
    assert(again.find(_.table == "orders").get.archivedCount === orders.archivedCount)
    assert(countIn("orders") === orders.archivedCount)
  }

  test("dry run executes reads but writes nothing") {
    val out = TestSpark.tmpDir("arch-dry")
    val c = conf(TestSpark.sf0001,
      Seq(ParquetDestination("x", s"$out/parquet")), delete = true)
      .copy(dryRun = true)
    val r = new Archiver(spark, c, now).runTable(Tables.byName("orders"))
    assert(r.archivedCount > 0 && r.deletedCount === 0)
    assert(!new java.io.File(s"$out/parquet/src/orders").exists())
  }

  private def ordersOnly(src: String, out: String) =
    conf(src, Seq(ParquetDestination("x", s"$out/parquet")), delete = true)
      .copy(source = SourceConfig("src", src, tables = "orders", retention = "12 MONTH"))

  test("a live table stranded at its delete-back backup is restored, then archived") {
    val src = TestSpark.writableCopy()
    val live = new java.io.File(s"$src/orders.parquet")
    val backup = new java.io.File(s"$src/orders.parquet.__old__")
    val rows = Tables.load(spark, src, "orders").count()
    // a crash between the two swap renames left the table only at its backup
    assert(live.renameTo(backup))
    val results = new Archiver(spark, ordersOnly(src, TestSpark.tmpDir("arch-strand")), now)
      .run(Some(Archiver.parquetLiveStore(spark, src)))
    val r = results.find(_.table == "orders").getOrElse(fail("orders not elected"))
    assert(!r.vetoed && r.archivedCount > 0 && r.deletedCount === r.archivedCount)
    assert(!backup.exists())
    assert(Tables.load(spark, src, "orders").count() === rows - r.archivedCount)
  }

  test("a stale delete-back backup beside a live table is deleted, not restored") {
    val src = TestSpark.writableCopy()
    val backup = new java.io.File(s"$src/orders.parquet.__old__")
    val rows = Tables.load(spark, src, "orders").count()
    // a crash after the swap, before the backup was deleted: the backup
    // holds rows the live table no longer has
    spark.range(3).toDF("stale").write.parquet(backup.toString)
    val r = new Archiver(spark, ordersOnly(src, TestSpark.tmpDir("arch-stale")), now)
      .run(Some(Archiver.parquetLiveStore(spark, src)))
      .find(_.table == "orders").getOrElse(fail("orders not elected"))
    assert(!backup.exists())
    assert(Tables.load(spark, src, "orders").count() === rows - r.archivedCount)
    assert(Tables.load(spark, src, "orders").columns.contains("o_orderkey"))
  }
}
