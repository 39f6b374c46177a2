package graft.core

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch,
  Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.ml.{ModelRegistry, MultiModel}
import graft.serve.GraftServer

/** Concurrency hardening for the shared session caches and the serving
  * path: the single-build-per-key guarantee must hold under a thread
  * hammer (no duplicate persisted frames / duplicate model fits leaking
  * in executor memory), a build of one key must not block hits on other
  * keys (the per-bin-locking upgrade over the round-6 coarse lock), live
  * entries must never be evicted by other keys' traffic, and the HTTP
  * /predict path must stay consistent when N clients race a cold cache.
  */
class ConcurrencySpec extends SparkSpec {

  private def labeled() =
    Tables.load(spark, sf0001, "lineitem").select(
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("label"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"))

  /** Run `body` against a started server over the model dir `dir`. */
  private def withServer[T](dir: String)(body: GraftServer => T): T = {
    val server = new GraftServer(spark, () => labeled(),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), dir)
    server.start()
    try body(server) finally server.stop()
  }

  private val http = HttpClient.newHttpClient()

  private def post(server: GraftServer, path: String, body: String = "")
      : (Int, String) = {
    val req = HttpRequest.newBuilder()
      .uri(new URI(s"http://127.0.0.1:${server.boundPort}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def testScore(body: String): String =
    """"test_score":([0-9.Ee-]+)""".r.findFirstMatchIn(body)
      .getOrElse(fail(s"no test_score in $body")).group(1)

  private def hammer[T](nThreads: Int, nCalls: Int)(body: Int => T)
      : Seq[T] = {
    val pool = Executors.newFixedThreadPool(nThreads)
    try {
      val futures = (0 until nCalls).map(i =>
        pool.submit(new java.util.concurrent.Callable[T] {
          override def call(): T = body(i)
        }))
      futures.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("FrameCache: 24 racing callers of one key -> exactly ONE build, " +
      "all see the same materialized frame") {
    val builds = new AtomicInteger(0)
    val frames = hammer(12, 24) { _ =>
      FrameCache.cached(spark, "conc:same-key") {
        builds.incrementAndGet()
        spark.range(10000).toDF("v")
      }
    }
    assert(builds.get() === 1, "duplicate materialization under race")
    assert(frames.forall(_.count() === 10000L))
  }

  test("FrameCache: racing callers over 6 distinct keys -> one build " +
      "each; later keys' traffic never evicts live entries") {
    val builds = new ConcurrentCounter
    hammer(12, 36) { i =>
      val k = s"conc:multi-${i % 6}"
      FrameCache.cached(spark, k) {
        builds.inc(k)
        spark.range(100 + i % 6).toDF("v")
      }.count()
    }
    assert(builds.all.values.toSet === Set(1),
      s"per-key build counts: ${builds.all}")
    // re-request every key: all must still be cached (zero new builds) —
    // live-context entries are never evicted by other keys' traffic
    (0 until 6).foreach { j =>
      FrameCache.cached(spark, s"conc:multi-$j") {
        builds.inc(s"conc:multi-$j")
        spark.range(1).toDF("v")
      }
    }
    assert(builds.all.values.toSet === Set(1), "live entry was evicted")
  }

  test("FrameCache: a slow build on one key does NOT block hits on " +
      "other keys (per-bin locking, not a coarse lock)") {
    // pre-build 8 hit keys (8 so at least one surely lands outside the
    // slow key's hash bin)
    (0 until 8).foreach(j => FrameCache.cached(spark, s"conc:hit-$j") {
      spark.range(10).toDF("v")
    })
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = Executors.newSingleThreadExecutor()
    val slowF = slow.submit(new Runnable {
      override def run(): Unit =
        FrameCache.cached(spark, "conc:slow-key") {
          entered.countDown()
          release.await(60, TimeUnit.SECONDS)
          spark.range(5).toDF("v")
        }
    })
    try {
      assert(entered.await(30, TimeUnit.SECONDS), "slow build never ran")
      // while the slow build is in flight, hits must return FAST: the
      // elapsed-time bound (well under the 60 s builder fallback) is the
      // actual non-blocking assertion — without it, hits that parked
      // behind the slow key's bin would still "pass" once the fallback
      // released them (round-7 advice)
      val t0 = System.nanoTime()
      val hits = hammer(4, 8) { j =>
        FrameCache.cached(spark, s"conc:hit-$j") {
          fail(s"hit key conc:hit-$j rebuilt"); spark.range(0).toDF("v")
        }
        true
      }
      val hitSecs = (System.nanoTime() - t0) / 1e9
      assert(hits.count(identity) === 8)
      assert(release.getCount === 1,
        "slow build finished before hits ran — test proves nothing")
      assert(hitSecs < 10.0,
        s"hits took ${hitSecs}s while a build was in flight — blocked")
    } finally {
      release.countDown()
      slowF.get(60, TimeUnit.SECONDS)
      slow.shutdownNow()
    }
  }

  test("FrameCache: a builder may request a DIFFERENT key mid-build " +
      "(no map lock held during builds); a failed build is retried, " +
      "never cached") {
    // reentrancy: the promise-based cache runs builds outside the map's
    // bin locks, so a prerequisite frame can be obtained from INSIDE a
    // dependent build (the old computeIfAbsent form forbade this)
    val outer = FrameCache.cached(spark, "conc:reentrant-outer") {
      val inner = FrameCache.cached(spark, "conc:reentrant-inner") {
        spark.range(7).toDF("v")
      }
      inner.union(spark.range(3).toDF("v"))
    }
    assert(outer.count() === 10L)
    // failure path: the throwing build's promise must be removed so the
    // next caller retries (and racing waiters see the failure, not a hang)
    val attempts = new AtomicInteger(0)
    intercept[RuntimeException] {
      FrameCache.cached(spark, "conc:fail-key") {
        attempts.incrementAndGet()
        throw new RuntimeException("boom")
      }
    }
    val ok = FrameCache.cached(spark, "conc:fail-key") {
      attempts.incrementAndGet()
      spark.range(4).toDF("v")
    }
    assert(ok.count() === 4L)
    assert(attempts.get() === 2, "failed build was cached or retried twice")
  }

  test("ModelCache: 16 racing fitters of one tag -> exactly one fit; " +
      "distinct tags fit once each") {
    val fits = new ConcurrentCounter
    def fit(tag: String) =
      graft.ml.ModelCache.fitted(spark, "conc-dir", tag) {
        fits.inc(tag)
        new org.apache.spark.ml.feature.Binarizer()
          .setInputCol("v").setOutputCol("b").setThreshold(0.5)
      }
    hammer(8, 16)(_ => fit("TAG_A"))
    hammer(8, 16)(i => fit(s"TAG_${i % 4}"))
    assert(fits.all.values.toSet === Set(1),
      s"per-tag fit counts: ${fits.all}")
  }

  test("two real FrameCache consumers (shared sessionization frame) " +
      "race from 8 threads: results identical to the serial run") {
    FrameCache.clear()
    val serialA = graft.SparkEntry.queries("q_sessionize_batch")(
      spark, sf0001).collect().map(_.toString).toSeq
    val serialB = graft.SparkEntry.queries("q_max_concurrency")(
      spark, sf0001).collect().map(_.toString).toSeq
    FrameCache.clear() // cold cache again: the hammer must rebuild once
    val results = hammer(8, 16) { i =>
      val name =
        if (i % 2 == 0) "q_sessionize_batch" else "q_max_concurrency"
      name -> graft.SparkEntry.queries(name)(spark, sf0001)
        .collect().map(_.toString).toSeq
    }
    results.foreach { case (name, rows) =>
      val expect = if (name == "q_sessionize_batch") serialA else serialB
      assert(rows === expect, s"$name diverged under concurrency")
    }
  }

  test("/predict hammered by 16 racing clients on a cold cache: every " +
      "response 200 with the SAME score; cache converges to hits") {
    withServer(Files.createTempDirectory("graft-conc").toString) { server =>
      val (tc, tb) = post(server, "/train/?model_type=D_TREE&name=conc_model")
      assert(tc === 200, tb)
      val responses = hammer(16, 16)(_ =>
        post(server, "/predict/?mode=smoke&name=conc_model"))
      assert(responses.forall(_._1 === 200),
        responses.filter(_._1 != 200).map(_._2).mkString("; "))
      // deterministic model + deterministic test split: every racer must
      // report the identical score whether it computed or hit the cache
      val scores = responses.map(r => testScore(r._2))
      assert(scores.toSet.size === 1, s"divergent scores: ${scores.toSet}")
      // after the stampede the cache must serve hits
      val (c2, b2) = post(server, "/predict/?mode=smoke&name=conc_model")
      assert(c2 === 200)
      assert(b2.contains("\"from_cache\":true"), b2)
    }
  }

  test("/train/ re-saving an existing name while 8 clients hit " +
      "/predict/: every reply 2xx; afterwards the newest entry is served") {
    val dir = Files.createTempDirectory("graft-retrain").toString
    val registry = new ModelRegistry(s"$dir/registry.jsonl")
    withServer(dir) { server =>
      val (tc, tb) =
        post(server, "/train/?model_type=D_TREE&max_depth=2&name=race")
      assert(tc === 200, tb)
      val first = registry.latest("race").get
      // clients keep asking until the retrain has returned; distinct
      // upload bodies keep missing the response cache
      val retrained = new CountDownLatch(1)
      val replies = new ConcurrentLinkedQueue[(Int, String)]()
      val clients = Executors.newFixedThreadPool(8)
      val done = (0 until 8).map { c =>
        clients.submit(new Runnable {
          override def run(): Unit = {
            var i = 0
            do {
              replies.add(
                if (i % 2 == 0) post(server, "/predict/?mode=smoke&name=race")
                else post(server, "/predict/?mode=upload&name=race",
                  "l_quantity,l_extendedprice,l_discount,l_tax\n" +
                    s"$c,$i.5,0.05,0.02\n"))
              i += 1
            } while (!retrained.await(0, TimeUnit.SECONDS))
          }
        })
      }
      val (rc, rb) =
        post(server, "/train/?model_type=D_TREE&max_depth=6&name=race")
      retrained.countDown()
      done.foreach(_.get(120, TimeUnit.SECONDS))
      clients.shutdown()
      assert(rc === 200, rb)
      val bad = replies.asScala.filter(_._1 / 100 != 2)
      assert(bad.isEmpty, bad.mkString("; "))
      val newest = registry.latest("race").get
      assert(newest.path != first.path)
      assert(Files.isDirectory(Paths.get(first.path)),
        "the retrain removed the model it replaced")
      val (sc, sb) = post(server, "/predict/?mode=smoke&name=race")
      assert(sc === 200, sb)
      val (_, te) = MultiModel.split(labeled())
      assert(testScore(sb).toDouble ===
        MultiModel.accuracy(MultiModel.load(newest.path), te))
    }
  }

  /** Tiny thread-safe per-key counter for build/fit accounting. */
  private class ConcurrentCounter {
    private val m =
      new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    def inc(k: String): Unit =
      m.computeIfAbsent(k, _ => new AtomicInteger(0)).incrementAndGet()
    def all: Map[String, Int] =
      m.asScala.map { case (k, v) => k -> v.get() }.toMap
  }
}
