package graft

import org.scalatest.concurrent.TimeLimits
import org.scalatest.time.{Seconds, Span}

/** Pins the two r21 seam hardenings (r20 verdict item 7 / ADVICE):
  * [[graft.core.Par]]'s reentrancy guard (a nested `jobs` call must run
  * inline, never deadlock the fixed pool) and tolerant conf parsing,
  * and [[graft.ops.Widen.forHeavyRows]]'s size budget (an over-budget
  * frame must be left alone). */
class ParWidenSpec extends SparkSpec with TimeLimits {

  test("Par.jobs: nested calls run inline instead of deadlocking the pool") {
    // 7 outer closures (> pool size 6), each nesting another Par.jobs:
    // without the reentrancy guard every pool thread blocks on inner
    // tasks the same pool can never schedule — a deadlock. failAfter
    // turns a regression into a failure, not a hung suite.
    val r = failAfter(Span(120, Seconds)) {
      graft.core.Par.jobs(spark)((1 to 7).map(i => () =>
        graft.core.Par.jobs(spark)(() => i, () => 10 * i).sum): _*)
    }
    assert(r == (1 to 7).map(i => 11 * i))
  }

  test("Par.jobs: the first failure cancels its siblings' running Spark jobs") {
    import ParWidenSpec._
    // interrupt a hung body, so a regression fails instead of hanging
    implicit val signaler: org.scalatest.concurrent.Signaler =
      org.scalatest.concurrent.ThreadSignaler
    // the sibling's only task blocks on `release` until the test ends:
    // its job can only end early by being cancelled. The failing
    // closure throws once that task runs, so the cancel always meets a
    // live job — ordered by latches, not by sleeps or timeouts.
    val sibling = scala.concurrent.Promise[Throwable]()
    try {
      val e = failAfter(Span(120, Seconds)) {
        intercept[IllegalStateException] {
          graft.core.Par.jobs(spark)(
            () => {
              try spark.sparkContext.parallelize(Seq(1), 1)
                .map { x => started.countDown(); release.await(); x }.collect().sum
              catch { case t: Throwable => sibling.success(t); -1 }
            },
            () => { started.await(); throw new IllegalStateException("boom") })
        }
      }
      assert(e.getMessage == "boom", "the original failure must propagate")
      // a regression leaves the sibling job running: this never
      // completes and failAfter reports it
      val ended = failAfter(Span(120, Seconds)) {
        scala.concurrent.Await.result(sibling.future, scala.concurrent.duration.Duration.Inf)
      }
      assert(ended.isInstanceOf[org.apache.spark.SparkException] &&
        ended.getMessage.contains("cancelled"), s"sibling job must end cancelled: $ended")
    } finally release.countDown()
  }

  test("Par.jobs: malformed graft.par.gates value means enabled, not a crash") {
    spark.conf.set("graft.par.gates", "garbage")
    try {
      val r = graft.core.Par.jobs(spark)(() => 1, () => 2)
      assert(r == Seq(1, 2))
    } finally spark.conf.unset("graft.par.gates")
  }

  test("Widen.forHeavyRows: applies the size budget; bad conf falls back") {
    val df = spark.range(1000).toDF("id")
    try {
      // over budget -> left alone (same object, no exchange added)
      spark.conf.set("graft.widen.maxInputBytes", "1")
      assert(graft.ops.Widen.forHeavyRows(df) eq df)
      // within the default budget -> widened to defaultParallelism
      spark.conf.unset("graft.widen.maxInputBytes")
      val widened = graft.ops.Widen.forHeavyRows(df)
      assert(widened.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
      // malformed value -> default budget, no crash
      spark.conf.set("graft.widen.maxInputBytes", "not-a-number")
      assert(graft.ops.Widen.forHeavyRows(df).rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
    } finally spark.conf.unset("graft.widen.maxInputBytes")
  }
}

object ParWidenSpec {
  // reached from a task closure: local-mode executors share this JVM
  val started = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
}
