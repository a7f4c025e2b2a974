package graft

import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** [[SessionMemo]]: one build per (session, key), no entry left by a failed
  * build. Eviction on context stop is not covered here: it needs the shared
  * test context stopped. */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("8 concurrent callers on one (session, key) run the build once and get its value") {
    val built = new java.util.concurrent.ConcurrentLinkedQueue[Object]()
    val memo = new SessionMemo[String, Object]((_, _) => {
      Thread.sleep(50); val v = new Object; built.add(v); v
    })
    val pool = Executors.newFixedThreadPool(8)
    try {
      val start = new CountDownLatch(1)
      val got = (1 to 8).map(_ => pool.submit(() => { start.await(); memo(spark, "k") }))
      start.countDown()
      val values = got.map(_.get(30, TimeUnit.SECONDS))
      assert(built.size === 1)
      assert(values.forall(_ eq built.peek))
    } finally pool.shutdown()
  }

  test("a second session and a second key each build their own value") {
    val built = scala.collection.mutable.ArrayBuffer.empty[(AnyRef, String)]
    val memo = new SessionMemo[String, (AnyRef, String)]((s, k) => {
      val v = (s, k); built.synchronized(built += v); v
    })
    val other = spark.newSession()
    assert(memo(spark, "k") === ((spark, "k")))
    assert(memo(other, "k") === ((other, "k")))
    assert(memo(spark, "k2") === ((spark, "k2")))
    assert(memo(spark, "k") eq memo(spark, "k"))
    assert(built.size === 3)
  }

  test("a build that throws leaves no entry; the next call builds again") {
    val calls = new AtomicInteger()
    val memo = new SessionMemo[Unit, Int]((_, _) =>
      if (calls.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      else 42)
    assertThrows[IllegalStateException](memo(spark))
    assert(memo(spark) === 42)
    assert(memo(spark) === 42)
    assert(calls.get() === 2)
  }
}
