package graft.core

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark actions from driver threads (optimization
  * guide §2.6): a multi-check gate that runs its counts sequentially
  * leaves the cluster idle through each job's tail and pays the
  * driver's per-job planning latency serially. Submitting them from a
  * small pool lets the next job's tasks back-fill freed cores; FIFO
  * scheduling keeps the earlier job ahead, which is exactly the
  * back-fill behaviour wanted.
  *
  * Only for actions with NO data dependency (each closure must read
  * already-materialized inputs or independent plans). Results come
  * back in argument order; the first failure propagates and cancels
  * the call's other closures (each call tags its Spark jobs with its
  * own job tag; the caller's job group and description are kept).
  * Kill switch:
  * `graft.par.gates=false` runs the closures sequentially (A/B seam —
  * same results either way, by construction).
  *
  * NESTING: a closure that itself calls [[jobs]] would block a pool
  * thread on `fu.get()` of tasks starved by the same fixed pool — a
  * deadlock once 6 waiters occupy it (r20 ADVICE). No call site nests
  * today; the guard below ENFORCES that this stays safe: a call from a
  * `graft-par` thread runs its closures inline on that thread instead
  * of re-entering the pool. */
object Par {
  private val PoolThreadName = "graft-par"

  // small daemon pool, shared: gates overlap 2-6 jobs; more in flight
  // than that just fights for executors (guide §2.6)
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
    6,
    (r: Runnable) => {
      val t = new Thread(r, PoolThreadName)
      t.setDaemon(true)
      t
    })

  private val calls = new java.util.concurrent.atomic.AtomicLong

  def jobs[T](spark: SparkSession)(fs: (() => T)*): Seq[T] = {
    // tolerant conf parse: anything other than an explicit "false"
    // (case-insensitive) means enabled — a malformed value must not
    // crash a gate with an uninformative IllegalArgumentException
    val enabled = !spark.conf.getOption("graft.par.gates")
      .exists(_.trim.equalsIgnoreCase("false"))
    // reentrancy guard: never block a pool thread on the pool
    val nested = Thread.currentThread().getName == PoolThreadName
    if (!enabled || nested || fs.size <= 1) fs.map(_()).toSeq
    else {
      val sc = spark.sparkContext
      val tag = s"$PoolThreadName-${calls.incrementAndGet()}"
      val done = new java.util.concurrent.ExecutorCompletionService[T](pool)
      val futs = fs.map(f => done.submit(new java.util.concurrent.Callable[T] {
        def call(): T = {
          // pool threads are created lazily on FIRST submit and would
          // otherwise inherit whatever session was active on the thread
          // that created them (stale in a multi-session JVM — tests,
          // session restart); pin the CALLER's session for the closure
          SparkSession.setActiveSession(spark)
          sc.addJobTag(tag)
          try f() finally { sc.removeJobTag(tag); SparkSession.clearActiveSession() }
        }
      }))
      // wait in COMPLETION order, so the first failure is seen while its
      // siblings still run: closures not yet started never start, and
      // the call's Spark jobs RUNNING at that moment are cancelled
      // through its tag. A sibling still in driver-side code submits its
      // next job after the cancel, and that job runs to completion.
      // The original failure is rethrown (ExecutionException unwrapped).
      try fs.indices.foreach { _ =>
        try done.take().get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      } catch {
        case e: Throwable =>
          futs.foreach(_.cancel(false))
          sc.cancelJobsWithTag(tag)
          throw e
      }
      futs.map(_.get()).toSeq
    }
  }
}
