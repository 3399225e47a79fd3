package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Packing, Similarity, Sketches, TextAnalysis, TokenPipeline}

class CachesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("GraftCache: concurrent callers of one key share a single build") {
    val c = GraftCache[String]("CachesSpec.singleFlight", GraftCache.Result)
    val builds = new AtomicInteger(0)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val first = Future(c.fill("k") {
        builds.incrementAndGet(); started.countDown()
        assert(release.await(30, TimeUnit.SECONDS)); "built"
      })
      assert(started.await(30, TimeUnit.SECONDS))
      // the second caller arrives while the build is held in flight
      val second = Future(c.fill("k") { builds.incrementAndGet(); "duplicate" })
      Thread.sleep(200)
      assert(!second.isCompleted, "the second caller did not wait")
      release.countDown()
      assert(Await.result(first, 30.seconds) === "built")
      assert(Await.result(second, 30.seconds) === "built")
      assert(builds.get === 1)
      // a build may fill other keys while its own is in flight
      assert(c.fill("outer")(c.fill("inner")("i") + "o") === "io")
    } finally pool.shutdownNow()
    c.evict(_ => true)
  }

  test("GraftCache: a throwing build leaves no entry and the next call rebuilds") {
    val c = GraftCache[String]("CachesSpec.retry", GraftCache.Index)
    val e = intercept[IllegalStateException] {
      c.fill("k")(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage === "boom")
    assert(!c.keys.contains("k"))
    assert(c.fill("k")("second") === "second")
    assert(c.keys.contains("k"))
    c.evict(_ => true)
  }

  test("registry eviction: each clear drops exactly its kind, session and dir") {
    // initializing the owners declares their caches
    assert(Seq(TokenPipeline, Dedup, Similarity, Sketches, TextAnalysis, Packing)
      .forall(_ != null))
    val caches = Caches.all
    val ops = caches.filterNot(_.name.startsWith("CachesSpec."))
    assert(ops.size === 35)
    assert(ops.map(_.name).distinct.size === ops.size)
    assert(ops.filter(_.kind == GraftCache.Result).map(_.name).toSet === Set(
      "Dedup.clusterCache", "Dedup.pairsCache", "Dedup.embPairsCache",
      "Similarity.knnMemo", "Sketches.bloomMemo", "Sketches.multiBloomMemo",
      "Sketches.multiBenchFpMemo", "TextAnalysis.verdictCache",
      "TextAnalysis.mergeMemo"))

    val me = GraftBridge.sessionKey(spark)
    val (dirA, dirAParam, dirB) = (s"$me#stubA", s"$me#stubA#7", s"$me#stubB")
    val mine = Seq(dirA, dirAParam, dirB)
    val others = Seq("othersession#stubA", "othersession#stubA#7")
    val stub = spark.range(1).toDF()
    def put(keys: Seq[String]): Unit = caches.foreach { c =>
      keys.foreach(k => c.asInstanceOf[GraftCache[Any]].fill(k)(stub))
    }
    def check(what: String)(present: (GraftCache[_], String) => Boolean): Unit =
      caches.foreach { c =>
        (mine ++ others).foreach { k =>
          assert(c.keys.contains(k) === present(c, k), s"${c.name} $k after $what")
        }
      }
    try {
      put(mine ++ others)
      Caches.clearResultMemos(spark)
      check("clearResultMemos")((c, k) =>
        c.kind == GraftCache.Index || others.contains(k))
      put(mine)
      Caches.clearDir(spark, "stubA")
      check("clearDir")((_, k) => k == dirB || others.contains(k))
      Caches.clear(spark)
      check("clear")((_, k) => others.contains(k))
    } finally caches.foreach(_.evict(k => mine.contains(k) || others.contains(k)))
  }
}
