package graft.operators

import graft.{Tables, TestSpark}

import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.scalatest.funsuite.AnyFunSuite

class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("compaction collapses many small files without changing the data") {
    val out = TestSpark.tmpDir("compact") + "/orders"
    val orders = Tables.load(spark, TestSpark.sf0001, "orders")
    orders.repartition(40).write.parquet(out) // 40 tiny files
    val before = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before === 40)
    Compaction.compact(spark, out) // everything fits one 128MB target
    val after = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after === 1)
    val back = spark.read.parquet(out)
    assert(back.count() === orders.count())
    assert(back.exceptAll(orders).count() === 0)
  }

  test("clustered write yields files with disjoint key ranges (scan skipping)") {
    val out = TestSpark.tmpDir("clustered") + "/orders"
    val orders = Tables.load(spark, TestSpark.sf0001, "orders")
    Compaction.clusteredWrite(orders, out, Seq("o_orderdate"), parts = 4)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length === 4)
    // each file owns a disjoint o_orderdate range — the property parquet
    // min/max stats need for file- and row-group-level skipping
    import org.apache.spark.sql.functions.{col, max, min}
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("o_orderdate").cast("string")),
          max(col("o_orderdate").cast("string"))).head()
      (r.getString(0), r.getString(1)) // ISO strings: ordering = time order
    }.sorted
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"file ranges overlap: $hi vs $lo — clustering broken")
      case _ => ()
    }
    // nothing lost in the layout rewrite
    val back = spark.read.parquet(out)
    assert(back.count() === orders.count())
    assert(back.exceptAll(orders).count() === 0)
  }

  test("zorderKey2 interleaves bits exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // x=0b101 (5), y=0b011 (3): z = x on even bits, y on odd bits
    // = 1·1 + 1·2 + 0·4 + 1·8 + 1·16 + 0·32 = 0b011011 = 27
    val got = Seq((5L, 3L)).toDF("x", "y")
      .select(Compaction.zorderKey2(col("x"), col("y"), 3)).head().getLong(0)
    assert(got === 27L)
  }

  test("zorder write clusters BOTH dimensions for file skipping") {
    val out = TestSpark.tmpDir("zorder") + "/pts"
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max, min}
    // a 64x64 grid: every (x, y) combination once
    val pts = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    Compaction.zorderWrite(pts, out, "x", "y", bits = 6, parts = 16)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length === 16)
    // Z-order locality: each file's bounding box covers a small fraction
    // of the full grid in BOTH dims, so a point/range predicate on EITHER
    // column prunes most files via parquet min/max stats. A 1-D sort on x
    // would leave every file spanning the full y range (area share ~1/16
    // in x but 1 in y); the Morton layout bounds both.
    val boxes = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // every file: neither dimension spans the full grid (range-partition
    // boundaries are sample-based, so a file can straddle one high-order
    // Morton boundary — but never unbounded like a 1-D sort's dead dim)
    boxes.foreach { case (xlo, xhi, ylo, yhi) =>
      assert(xhi - xlo <= 48, s"file spans x [$xlo,$xhi] — no x locality")
      assert(yhi - ylo <= 48, s"file spans y [$ylo,$yhi] — no y locality")
    }
    // and a bounded predicate on y ALONE skips at least half the files
    // (with a plain x sort it would have to open every file)
    val hit = boxes.count { case (_, _, ylo, yhi) => ylo <= 5 && 5 <= yhi }
    assert(hit <= files.length / 2,
      s"y=5 touches $hit of ${files.length} files — no 2-D skipping")
    // layout rewrite loses nothing
    val back = spark.read.parquet(out)
    assert(back.count() === pts.count())
    assert(back.exceptAll(pts).count() === 0)
  }

  test("dynamic partition overwrite replaces only the partitions present " +
      "in the incoming frame") {
    import spark.implicits._
    val out = graft.TestSpark.tmpDir("graft-dpo") + "/t"
    val base = (1L to 90L).map(i => (i, (i % 3).toString, i * 10))
      .toDF("id", "p", "v")
    Compaction.overwritePartitions(base, out, Seq("p"))
    def filesUnder(p: String): Set[String] = {
      val d = new java.io.File(s"$out/p=$p")
      d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val before1 = filesUnder("1")
    val before2 = filesUnder("2")
    // rerun ONLY partition 0 with corrected values
    Compaction.overwritePartitions(
      base.filter($"p" === "0").withColumn("v", $"v" * 2), out, Seq("p"))
    // untouched partitions keep their exact physical files
    assert(filesUnder("1") === before1)
    assert(filesUnder("2") === before2)
    // content: partition 0 corrected, others original
    val got = spark.read.parquet(out).select("id", "v")
      .as[(Long, Long)].collect().toMap
    (1L to 90L).foreach { i =>
      assert(got(i) === (if (i % 3 == 0) i * 20 else i * 10))
    }
  }

  test("coalesce plan: contiguous date groups by exclusive running total, " +
      "nulls excluded, overshoot bounded by one partition") {
    val spark2 = spark; import spark2.implicits._
    // 5 days x (3, 5, 4, 9, 2) rows, target 8:
    // cb = 0, 3, 8, 12, 21 -> grp = 0, 0, 1, 1, 2
    val rows = Seq("01" -> 3, "02" -> 5, "03" -> 4, "04" -> 9, "05" -> 2)
      .flatMap { case (dd, n) => (1 to n).map(_ => s"2024-03-$dd 10:00:00") }
    val df = (rows.map(Option(_)) :+ None).toDF("raw")
      .select(col("raw").cast("timestamp").as("ts"))
    val got = Compaction.coalescePlan(df, "ts", targetRows = 8L)
      .as[(Long, Long, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (0L, 2L, "2024-03-01", "2024-03-02", 8L),
      (1L, 2L, "2024-03-03", "2024-03-04", 13L),
      (2L, 1L, "2024-03-05", "2024-03-05", 2L)), got)
    // every group but the last reaches the target; overshoot < one day
    assert(got.init.forall(_._5 >= 8L))
  }

  test("dayGroups: monotone contiguous group ids that aggregate exactly " +
      "to the plan (the w17 executor's join key)") {
    val spark2 = spark; import spark2.implicits._
    val rows = Seq("01" -> 3, "02" -> 5, "03" -> 4, "04" -> 9, "05" -> 2)
      .flatMap { case (dd, n) => (1 to n).map(_ => s"2024-03-$dd 10:00:00") }
    val df = rows.toDF("raw").select(col("raw").cast("timestamp").as("ts"))
    val g = Compaction.dayGroups(df, "ts", targetRows = 8L)
      .orderBy("d").as[(java.sql.Date, Long, Long)].collect().toSeq
    assert(g.map(_._2) === Seq(0L, 0L, 1L, 1L, 2L), "grp per day")
    assert(g.map(_._2) === g.map(_._2).sorted, "calendar-monotone groups")
    assert(g.map(_._3).sum === rows.length.toLong, "every row accounted")
    val fromGroups = Compaction.dayGroups(df, "ts", 8L)
      .groupBy("grp").agg(count(lit(1)).as("n_days"),
        min(col("d")).cast("string").as("d_from"),
        max(col("d")).cast("string").as("d_to"),
        sum(col("nr")).as("total_rows"))
    val plan = Compaction.coalescePlan(df, "ts", 8L)
    assert(fromGroups.exceptAll(plan).count() === 0)
    assert(plan.exceptAll(fromGroups).count() === 0)
  }

  test("compaction restores an archive a crashed swap stranded at its backup") {
    import spark.implicits._
    val out = TestSpark.tmpDir("compact-strand") + "/t"
    val rows = (1L to 50L).map(i => (i, s"r$i")).toDF("id", "v")
    rows.repartition(5).write.parquet(out)
    // a sink merge or compaction died between its two renames
    assert(new java.io.File(out).renameTo(new java.io.File(out + ".__old__")))
    assert(Compaction.compact(spark, out) === 1)
    assert(!new java.io.File(out + ".__old__").exists())
    val back = spark.read.parquet(out)
    assert(back.count() === 50)
    assert(back.exceptAll(rows).count() === 0)
  }
}
