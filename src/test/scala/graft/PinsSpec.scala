package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import graft.core.Pins
import org.apache.spark.storage.StorageLevel

/** The session pin registry's build and eviction rules: builds run
  * outside the map lock (nested pins, independent keys), once per key,
  * retried after a failure; eviction scopes by dir and releases blocks.
  */
class PinsSpec extends SparkSpec {

  private val pool = Executors.newFixedThreadPool(8)
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(pool)

  override def afterAll(): Unit = {
    pool.shutdownNow()
    super.afterAll()
  }

  test("a builder that reads another pin returns (no Recursive update, no deadlock)") {
    val dir = Some("pins-spec-nested")
    val outer = Future {
      Pins.value(spark, dir, "outer") {
        Pins.value(spark, dir, "inner")(20) + 1
      }
    }
    assert(Await.result(outer, 30.seconds) == 21)
    assert(Pins.value[Int](spark, dir, "inner")(fail("inner must stay pinned")) == 20)
    Pins.evict(spark, dir)
  }

  test("eight threads asking for the same key run the build once") {
    val dir = Some("pins-spec-once")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val gets = (1 to 8).map(_ => Future {
      start.await()
      Pins.value(spark, dir, "once") {
        builds.incrementAndGet()
        Thread.sleep(50)
        42
      }
    })
    start.countDown()
    assert(gets.map(Await.result(_, 30.seconds)) == Seq.fill(8)(42))
    assert(builds.get == 1)
    Pins.evict(spark, dir)
  }

  test("a build of key A blocked on a latch does not block a get of key B") {
    val dir = Some("pins-spec-independent")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val a = Future {
      Pins.value(spark, dir, "A") { entered.countDown(); release.await(); 1 }
    }
    try {
      assert(entered.await(30, TimeUnit.SECONDS), "the build of A never started")
      val b = Future(Pins.value(spark, dir, "B")(2))
      assert(Await.result(b, 10.seconds) == 2)
    } finally release.countDown()
    assert(Await.result(a, 30.seconds) == 1)
    Pins.evict(spark, dir)
  }

  test("a build that throws is retried on the next get") {
    val dir = Some("pins-spec-retry")
    val calls = new AtomicInteger()
    def get(): Int = Pins.value(spark, dir, "flaky") {
      if (calls.incrementAndGet() == 1) throw new IllegalStateException("transient")
      7
    }
    intercept[IllegalStateException](get())
    assert(get() == 7)
    assert(get() == 7)
    assert(calls.get == 2)
    Pins.evict(spark, dir)
  }

  test("evict(s, Some(dir)) drops that dir's and the dir-less pins, keeps other dirs'") {
    val (dirA, dirB) = (Some("pins-spec-a"), Some("pins-spec-b"))
    val a = Pins.frame(spark, dirA, "f")(spark.range(101).toDF())
    val b = Pins.frame(spark, dirB, "f")(spark.range(102).toDF())
    val noDir = Pins.frame(spark, None, "pins-spec-f")(spark.range(103).toDF())
    Seq(a, b, noDir).foreach(_.count())
    Seq(a, b, noDir).foreach(f => assert(f.storageLevel == StorageLevel.MEMORY_AND_DISK))
    Pins.evict(spark, dirA)
    assert(a.storageLevel == StorageLevel.NONE, "the evicted dir's frame must be released")
    assert(noDir.storageLevel == StorageLevel.NONE, "a dir-less frame goes with any eviction")
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK, "another dir's frame stays")
    assert(Pins.frame(spark, dirB, "f")(fail("a resident pin must not rebuild")) eq b)
    val rebuilt = Pins.frame(spark, dirA, "f")(spark.range(101).toDF())
    assert(!(rebuilt eq a), "an evicted entry must rebuild")
    Pins.evict(spark, dirA)
    Pins.evict(spark, dirB)
    assert(b.storageLevel == StorageLevel.NONE)
  }
}
