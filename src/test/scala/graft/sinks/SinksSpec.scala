package graft.sinks

import graft.{Tables, TestSpark}
import graft.Tables.TableSpec

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("sqldump escapes quotes/backslashes/newlines and renders NULL") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("it's a 'test'")),
      (2L, Some("back\\slash and\nnewline\ttab")),
      (3L, None)
    ).toDF("id", "payload")
    val spec = TableSpec("t", Seq("id"), None, Nil)
    val stmts = SqlDump.statements(df, "db", spec).as[String].collect().sorted
    assert(stmts(0) ===
      "INSERT INTO `db`.`t` (`id`, `payload`) VALUES (1, 'it\\'s a \\'test\\'') " +
        "ON DUPLICATE KEY UPDATE `id` = `id`;")
    assert(stmts(1).contains("'back\\\\slash and\\nnewline\\ttab'"))
    assert(stmts(2).contains("VALUES (3, NULL)"))
  }

  test("parquet upsert sink is idempotent and appends only new keys") {
    val root = TestSpark.tmpDir("upsert")
    val sink = new ParquetUpsertSink(root)
    val spec = Tables.byName("orders")
    val orders = Tables.load(spark, TestSpark.sf0001, "orders")
    val first = orders.filter(col("o_orderkey") < 100)
    sink.write("db", spec, first, dryRun = false)
    assert(sink.read(spark, "db", "orders").count() === first.count())
    // re-write same rows: no dupes
    sink.write("db", spec, first, dryRun = false)
    assert(sink.read(spark, "db", "orders").count() === first.count())
    // overlapping + new rows: only new keys added
    val second = orders.filter(col("o_orderkey") < 200)
    sink.write("db", spec, second, dryRun = false)
    assert(sink.read(spark, "db", "orders").count() === second.count())
    val keys = sink.read(spark, "db", "orders")
      .agg(countDistinct("o_orderkey")).head.getLong(0)
    assert(keys === second.count())
  }

  test("sinks resolve object-store-style URIs through the Hadoop FS layer (W10)") {
    // W10: the reference ships an object-store uploader; here any remote
    // store is a Hadoop FileSystem URI (s3a://, gs://, wasbs://, ...).
    // Exercise the scheme-resolution path with an explicit file:// URI —
    // the sink must go through Path.getFileSystem, not java.io —
    // including the upsert merge and the backup-rename swap.
    val root = "file://" + TestSpark.tmpDir("uriroot")
    val sink = new ParquetUpsertSink(root)
    val spec = Tables.byName("orders")
    val orders = Tables.load(spark, TestSpark.sf0001, "orders")
    sink.write("db", spec, orders.filter(col("o_orderkey") < 100), dryRun = false)
    sink.write("db", spec, orders.filter(col("o_orderkey") < 150), dryRun = false)
    assert(sink.read(spark, "db", "orders").count() ===
      orders.filter(col("o_orderkey") < 150).count())
    val csv = new CsvSink(root + "/csv", compression = Some("gzip"))
    csv.write("db", spec, orders.limit(10), dryRun = false)
    assert(spark.read.option("header", "true").csv(s"$root/csv/db.orders.csv")
      .count() === 10)
  }

  test("W10: full sink round-trip through a NON-file Hadoop FS scheme " +
      "(mockstore:// object-store stand-in)") {
    // The file:// test above proves scheme RESOLUTION; this proves the
    // sinks work end-to-end through a scheme that is not the local
    // default — the same FileSystem.get dispatch, authority handling,
    // and create/rename/list calls an s3a:// or swift:// deployment
    // exercises, with only the transport swapped for local disk.
    val mockRoot = TestSpark.tmpDir("mockstore-root")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockstore.impl", classOf[MockStoreFileSystem].getName)
    val root = s"mockstore://archive-bucket$mockRoot/graft"
    val sink = new ParquetUpsertSink(root)
    val spec = Tables.byName("orders")
    val orders = Tables.load(spark, TestSpark.sf0001, "orders")
    sink.write("db", spec, orders.filter(col("o_orderkey") < 100),
      dryRun = false)
    // the upsert merge (read existing + union + backup-rename swap) must
    // also run through the remote scheme
    sink.write("db", spec, orders.filter(col("o_orderkey") < 150),
      dryRun = false)
    assert(sink.read(spark, "db", "orders").count() ===
      orders.filter(col("o_orderkey") < 150).count())
    // the bytes physically landed under the mock root, written through
    // the mockstore scheme (the authority rides the URI, the path maps
    // identically — the file:/-like layout an object-store FS presents)
    val physical = new java.io.File(s"$mockRoot/graft")
    assert(physical.exists() && physical.isDirectory,
      s"expected data under the mock bucket at $physical")
    def anyParquet(f: java.io.File): Boolean =
      if (f.isDirectory) f.listFiles().exists(anyParquet)
      else f.getName.endsWith(".parquet")
    assert(anyParquet(physical), "no parquet files under the mock bucket")
    // CSV sink through the same scheme
    val csv = new CsvSink(root + "/csv", compression = None)
    csv.write("db", spec, orders.limit(10), dryRun = false)
    assert(spark.read.option("header", "true")
      .csv(s"$root/csv/db.orders.csv").count() === 10)
  }

  test("upsert sink recovers an archive stranded at the backup path") {
    val root = TestSpark.tmpDir("crash")
    val sink = new ParquetUpsertSink(root)
    val spec = Tables.byName("orders")
    val orders = Tables.load(spark, TestSpark.sf0001, "orders")
    sink.write("db", spec, orders.filter(col("o_orderkey") < 100), dryRun = false)
    // simulate a crash between the two swap renames: archive sits at __old__
    val dir = new java.io.File(s"$root/db/orders")
    assert(dir.renameTo(new java.io.File(s"$root/db/orders.__old__")))
    sink.write("db", spec, orders.filter(col("o_orderkey") < 120), dryRun = false)
    assert(sink.read(spark, "db", "orders").count() === 120)
    assert(!new java.io.File(s"$root/db/orders.__old__").exists())
  }

  test("schema drift is rejected") {
    val root = TestSpark.tmpDir("drift")
    val sink = new ParquetUpsertSink(root)
    val spec = Tables.byName("orders")
    val orders = Tables.load(spark, TestSpark.sf0001, "orders")
    sink.write("db", spec, orders.limit(10), dryRun = false)
    val drifted = orders.withColumn("o_totalprice", col("o_totalprice").cast("string"))
    assertThrows[SchemaDriftException](
      sink.write("db", spec, drifted.limit(10), dryRun = false))
  }

  test("csv sink writes header + codec") {
    val root = TestSpark.tmpDir("csv")
    val sink = new CsvSink(root, compression = Some("gzip"))
    val spec = Tables.byName("region")
    sink.write("db", spec, Tables.load(spark, TestSpark.sf0001, "region"), dryRun = false)
    val files = new java.io.File(s"$root/db.region.csv").listFiles()
    assert(files.exists(_.getName.endsWith(".csv.gz")))
    val back = spark.read.option("header", "true").csv(s"$root/db.region.csv")
    assert(back.count() === 5)
    assert(back.columns.toSeq === Seq("r_regionkey", "r_name"))
  }

  test("sinks write a delivery manifest: rows + file inventory, idempotent") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val spec = TableSpec("t", Seq("id"), None, Nil)
    val df = (1L to 500L).map(i => (i, s"p$i")).toDF("id", "payload").persist()
    val sink = new ParquetUpsertSink(root)
    sink.write("db", spec, df, dryRun = false)
    def manifest(): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/db/t/${Manifest.ManifestName}")), "UTF-8")
    val m1 = manifest()
    assert(m1.contains("\"rows\":500"), s"manifest rows wrong: $m1")
    assert(m1.contains("\"table\":\"t\""))
    // the inventory lists the real part files (and never the manifest itself)
    val parts = new java.io.File(s"$root/db/t").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(m1.contains(s"\"n_files\":${parts.length}"))
    assert(!m1.contains(Manifest.ManifestName))
    // re-running the idempotent upsert refreshes the manifest, same rows
    sink.write("db", spec, df, dryRun = false)
    assert(manifest().contains("\"rows\":500"))
    // the manifest never pollutes reads (underscore-prefixed)
    assert(sink.read(spark, "db", "t").count() === 500)
    // an upsert that adds keys reports the whole archive's rows, counted on
    // the merge write
    sink.write("db", spec, (1L to 520L).map(i => (i, s"p$i")).toDF("id", "payload"),
      dryRun = false)
    assert(manifest().contains("\"rows\":520"))
    // the CSV sink's manifest counts the rows it wrote
    new CsvSink(s"$root/csv").write("db", spec, df, dryRun = false)
    val csvManifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/csv/db.t.csv/${Manifest.ManifestName}")), "UTF-8")
    assert(csvManifest.contains("\"rows\":500"), s"manifest rows wrong: $csvManifest")
    assert(csvManifest.contains("\"table\":\"t\""))
    df.unpersist()
  }

  test("manifest escapes quotes/backslashes/control chars in names") {
    // a hostile table name must still yield parseable JSON
    assert(Manifest.jstr("""ta"ble\x""") === """"ta\"ble\\x"""")
    assert(Manifest.jstr("a\nb\tc") === "\"a\\u000ab\\u0009c\"")
    assert(Manifest.jstr("plain") === "\"plain\"")
  }

  test("evolve mode merges added and dropped columns; type drift still fails (W4+)") {
    import spark.implicits._
    val root = TestSpark.tmpDir("evolve")
    val sink = new ParquetUpsertSink(root, evolveSchema = true)
    val spec = Tables.TableSpec("t", Seq("id"), None, Nil)
    sink.write("db", spec,
      Seq((1L, "a1"), (2L, "a2")).toDF("id", "a"), dryRun = false)
    // source gained a column: old rows backfill NULL
    sink.write("db", spec,
      Seq((3L, "a3", 30L)).toDF("id", "a", "b"), dryRun = false)
    val afterAdd = sink.read(spark, "db", "t")
    assert(afterAdd.columns.toSet === Set("id", "a", "b"))
    assert(afterAdd.filter(col("id") === 1L).head().isNullAt(2))
    assert(afterAdd.filter(col("id") === 3L).head().getLong(2) === 30L)
    // source dropped a column: archive keeps it, new rows backfill NULL
    sink.write("db", spec, Seq((4L, 40L)).toDF("id", "b"), dryRun = false)
    val afterDrop = sink.read(spark, "db", "t")
    assert(afterDrop.count() === 4)
    assert(afterDrop.filter(col("id") === 4L).head()
      .isNullAt(afterDrop.columns.indexOf("a")))
    // a TYPE change on a shared column is still a hard drift
    assertThrows[SchemaDriftException](
      sink.write("db", spec,
        Seq((5L, "oops-string")).toDF("id", "b"), dryRun = false))
    // and with evolution OFF an additive batch drifts as before
    val strict = new ParquetUpsertSink(root)
    assertThrows[SchemaDriftException](
      strict.write("db", spec,
        Seq((6L, "a6", 60L, true)).toDF("id", "a", "b", "c"), dryRun = false))
  }
}
