package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration => ScalaDuration}

import graft.TestSpark

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The memo store's staleness and lock discipline. Every concurrency case
  * runs under `failAfter`, so a deadlock fails in seconds instead of
  * hanging the suite. */
class MemoStoreSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  implicit val signaler: Signaler = ThreadSignaler

  private def stamp(m: Long) = Map("/src" -> m)
  private def stat(c: LruFrameCache, name: String): Long =
    c.stats.toMap.apply(name)

  /** Run `n` requests on their own daemon threads; each yields its value
    * or the exception it got. */
  private def concurrently[A](n: Int)(request: Int => A)
      : Seq[Future[Either[Throwable, A]]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n, r => {
      val t = new Thread(r); t.setDaemon(true); t
    })
    val ec = ExecutionContext.fromExecutor(pool)
    val fs = (0 until n).map(i => Future {
      try Right(request(i)) catch { case e: Throwable => Left(e) }
    }(ec))
    pool.shutdown()
    fs
  }
  private def await[A](f: Future[A]): A = Await.result(f, ScalaDuration.Inf)
  private def until(cond: => Boolean): Unit =
    while (!cond) Thread.sleep(5)

  test("PlanPersist serves the rewritten rows after its source dir is " +
      "rewritten") {
    // rewritten by a rename, as the archiver's live-store swap does:
    // Spark re-caches plans over a path its own writer overwrites
    // (recacheByPath), but a swap it does not see leaves the persisted
    // pre-rewrite rows in place — only the entry's stamp catches it
    val dir = TestSpark.tmpDir("graft-memo-rewrite") + "/t.parquet"
    def write(ids: Seq[Long], bump: Long): Unit = {
      val staging = dir + ".staging"
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(staging)
      graft.LocalFiles.deleteTree(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(java.nio.file.Paths.get(staging),
        java.nio.file.Paths.get(dir))
      val d = new java.io.File(dir)
      d.setLastModified(d.lastModified() + bump)
    }
    write(Seq(1L, 2L), 1000L)
    val df = spark.read.parquet(dir)
    assert(PlanPersist("t", df).count() === 2L)
    write(Seq(7L, 8L, 9L), 5000L)
    val df2 = spark.read.parquet(dir)
    assert(PlanPersist("t", df2).as[Long].collect().sorted.toSeq ===
      Seq(7L, 8L, 9L),
      "a rewritten input must not be served the pre-rewrite persisted rows")
    LruFrameCache.clearAll()
  }

  test("a new stamp replaces the entry and releases the old value once") {
    val cache = new LruFrameCache(maxEntries = 4)
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    def get(m: Long, v: String) =
      cache.memo[String](("s", "fixture", "dir"), stamp(m), released += _)(v)
    assert(get(1L, "old") === "old")
    assert(get(1L, "unused") === "old", "same stamp is a hit")
    assert(get(2L, "new") === "new")
    assert(get(2L, "unused") === "new")
    assert(released.toSeq === Seq("old"),
      "the superseded value is released exactly once")
    cache.clear()
    assert(released.toSeq === Seq("old", "new"))
  }

  test("a hit on another key returns while a build is blocked") {
    failAfter(30.seconds) {
      val cache = new LruFrameCache(maxEntries = 4)
      cache.memo[String](("s", "b", "x"), Map.empty, _ => ())("B")
      val inBuild, gate = new CountDownLatch(1)
      val a = concurrently(1) { _ =>
        cache.memo[String](("s", "a", "x"), Map.empty, _ => ()) {
          inBuild.countDown()
          gate.await()
          "A"
        }
      }.head
      assert(inBuild.await(20, TimeUnit.SECONDS))
      assert(cache.memo[String](("s", "b", "x"), Map.empty, _ => ())("?")
        === "B")
      gate.countDown()
      assert(await(a) === Right("A"))
    }
  }

  test("concurrent requests for one key run exactly one build") {
    failAfter(30.seconds) {
      val cache = new LruFrameCache(maxEntries = 4)
      val n = 6
      val builds = new AtomicInteger
      val got = concurrently(n) { _ =>
        cache.memo[String](("s", "one", "x"), Map.empty, _ => ()) {
          builds.incrementAndGet()
          until(stat(cache, "hits") == n - 1) // every other request waits
          "built"
        }
      }.map(await)
      assert(got.forall(_ == Right("built")))
      assert(builds.get === 1)
      assert(cache.stats.toMap === Map("hits" -> (n - 1L), "misses" -> 1L,
        "builds" -> 1L, "evictions" -> 0L))
    }
  }

  test("a failed build is not cached; every waiter gets its exception") {
    failAfter(30.seconds) {
      val cache = new LruFrameCache(maxEntries = 4)
      val key = ("s", "fails", "x")
      val boom = new IllegalStateException("build failed")
      val inBuild, gate = new CountDownLatch(1)
      val owner = concurrently(1) { _ =>
        cache.memo[String](key, Map.empty, _ => ()) {
          inBuild.countDown()
          gate.await()
          throw boom
        }
      }.head
      assert(inBuild.await(20, TimeUnit.SECONDS))
      val waiters = concurrently(3) { _ =>
        cache.memo[String](key, Map.empty, _ => ())(
          sys.error("a waiter must not build"))
      }
      until(stat(cache, "hits") == 3)
      gate.countDown()
      (owner +: waiters).map(await).foreach(r => assert(r === Left(boom)))
      assert(cache.memo[String](key, Map.empty, _ => ())("rebuilt") ===
        "rebuilt", "the next request rebuilds")
      assert(stat(cache, "misses") === 2L && stat(cache, "builds") === 1L)
    }
  }

  test("a build that requests another key completes") {
    failAfter(30.seconds) {
      val cache = new LruFrameCache(maxEntries = 4)
      def inner = cache.memo[String](("s", "inner", "x"), Map.empty,
        _ => ())("in")
      val outer = concurrently(2) { i =>
        cache.memo[String](("s", "outer", "x"), Map.empty, _ => ())(
          inner + "+out")
      }.map(await)
      assert(outer.forall(_ == Right("in+out")))
      assert(inner === "in")
    }
  }
}
