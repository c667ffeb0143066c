package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.Scope

/** [[Scope]] is the one owner of what graft persists: a closed scope
  * releases its own intermediates and nobody else's. */
class ScopeSpec extends SparkSpec {
  private def held(ds: DataFrame): Boolean = ds.storageLevel != StorageLevel.NONE

  test("nothing in src/main persists or unpersists outside Scope.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val call = """(?<!\bScope)\.persist\(|\.cache\(\)|\.unpersist\(""".r
    val walk = Files.walk(root)
    val offenders = try walk.iterator.asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Scope.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }
    finally walk.close()
    if (offenders.nonEmpty) fail(offenders.mkString(
      "persist/cache/unpersist outside Scope.scala (use Scope.persist):\n", "\n", ""))
  }

  test("an inner Scope releases only its own intermediates") {
    val outer = spark.range(7).toDF("x")
    val inner = spark.range(8).toDF("x")
    Scope {
      Scope.persist(outer)
      Scope {
        Scope.persist(inner)
        assert(held(inner) && held(outer))
      }
      assert(!held(inner), "the inner scope must release its own intermediate")
      assert(held(outer), "the inner scope must not release its parent's")
    }
    assert(!held(outer))
  }

  test("outside any Scope a thread's root scope keeps its newest 64 intermediates") {
    val frames = (1 to 65).map(i => spark.range(i).toDF("x"))
    try {
      // a fresh thread starts from an empty root scope
      val t = new Thread(() => frames.foreach(Scope.persist(_)))
      t.start(); t.join()
      assert(!held(frames.head), "the oldest of 65 must be released")
      assert(frames.tail.forall(held))
    } finally spark.catalog.clearCache()
  }

  // one query per module that persists through Scope
  for (q <- Seq("q_ann_ivfpq", "q_rfm", "q_prune_sim", "q_unigram_vocab", "q_graph_cc", "q_dsir"))
    test(s"Scope { Bench.run($q) } leaves the cache manager empty") {
      val cache = spark.sharedState.cacheManager
      spark.catalog.clearCache()
      Scope {
        Bench.run(SparkEntry.queries(q)(spark, sf()))
        assert(!cache.isEmpty, s"$q should persist an intermediate")
      }
      assert(cache.isEmpty)
    }

  test("two queries on two threads of one session never release each other's intermediates") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    def rows(q: String): Seq[Seq[Any]] =
      SparkEntry.queries(q)(spark, sf()).collect().toSeq.map(_.toSeq)
    val soloA = Scope(rows("q_rfm"))
    val soloB = Scope(rows("q_ann_ivfpq"))

    // A materializes its intermediates, B runs and closes its scope,
    // then A checks its intermediates and runs its terminal action
    val aMaterialized = new CountDownLatch(1)
    val bClosed = new CountDownLatch(1)
    def await(l: CountDownLatch): Unit =
      assert(l.await(5, TimeUnit.MINUTES), "the other thread never arrived")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val a = Future(Scope {
        val before = sc.getPersistentRDDs.keySet
        val df = SparkEntry.queries("q_rfm")(spark, sf())
        Bench.run(df)
        val ids = sc.getPersistentRDDs.keySet -- before
        aMaterialized.countDown()
        await(bClosed)
        val still = ids.filter(sc.getPersistentRDDs.contains)
        (ids, still, df.collect().toSeq.map(_.toSeq))
      })
      val b = Future {
        await(aMaterialized)
        try Scope(rows("q_ann_ivfpq")) finally bClosed.countDown()
      }
      val (ids, still, gotA) = Await.result(a, 10.minutes)
      val gotB = Await.result(b, 10.minutes)
      assert(ids.nonEmpty, "q_rfm should have materialized a persisted intermediate")
      assert(still === ids, "B's closed scope released A's intermediates")
      assert(gotA === soloA)
      assert(gotB === soloB)
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
  }
}
