package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: the op wrapper every workload goes through, the
  * latency samples, set-up timing and failure accounting.
  *
  * Ops are closed-loop and single-client: the next op starts when the
  * previous one returns. An op that throws, or whose output an oracle
  * later rejects, counts as failed; nothing is retried. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traceMode: Boolean, val work: String, val smoke: Boolean) {

  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer: Option[Tracer] = if (traceMode) Some(new Tracer(spark)) else None
  private val rng = new java.util.SplittableRandom(seed ^ 0x5eed5eedL)

  /** Every measured op, in order. */
  val opLog = mutable.ArrayBuffer.empty[Run.Sample]
  /** Seconds spent inside measured ops. */
  var busyS = 0.0
  var attempted = 0L
  private val failedIds = mutable.Set.empty[Int]
  private var nextId = 0
  private var traced = false
  private val post = mutable.ArrayBuffer.empty[() => Unit]
  private var warmS = 0.0

  /** Stored bytes per input byte, set by the workload. */
  var stored = Double.NaN
  /** Verified near-dup pairs per LSH candidate pair (traced runs). */
  var pairYield = 0.0

  /** Runs one op. Warm-up ops are excluded from the timed metrics; their
    * time counts as set-up. In a traced run every measured op is traced. */
  def op[T](kind: String, cls: String, warm: Boolean = false)(body: => T): (Int, Option[T]) = {
    val id = nextId; nextId += 1
    attempted += 1
    traced = traceMode && !warm
    if (traced) tracer.foreach(_.beginOp(id, kind, cls))
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $id ($kind) failed: $e")
        failedIds += id
        None
    }
    val dt = (System.nanoTime() - t0) / 1e9
    try post.foreach(f => f()) finally post.clear()
    if (traced) tracer.foreach(_.endOp())
    if (warm) warmS += dt
    else {
      opLog += Run.Sample(kind, cls, dt)
      busyS += dt
    }
    traced = false
    (id, r)
  }

  /** Work a traced op wants done after its timing stops (e.g. listing
    * fragments for a per-layer count); skipped in untraced ops. */
  def afterTiming(f: => Unit): Unit = if (traced) post += (() => f)

  def span[T](name: String)(body: => T): T =
    if (traced) tracer.get.span(name)(body) else body
  def note(key: String, v: Double): Unit = if (traced) tracer.foreach(_.note(key, v))
  def phases(df: DataFrame): Unit = if (traced) tracer.foreach(_.phases(df))

  /** Marks an op as failed after the fact (oracle mismatch). */
  def fail(id: Int, why: String): Unit = {
    System.err.println(s"[perfbench] op $id rejected by oracle: $why")
    failedIds += id
  }
  /** A check not tied to one op (e.g. the final state): attempted once. */
  def check(name: String)(ok: => Boolean): Unit = {
    val id = nextId; nextId += 1
    attempted += 1
    scala.util.Try(ok) match {
      case scala.util.Success(true) =>
      case scala.util.Success(false) => fail(id, name)
      case scala.util.Failure(e) => fail(id, s"$name threw $e")
    }
  }
  def failed: Long = failedIds.size.toLong

  /** Seeded coin for picking which outputs the oracles check. */
  def pick(p: Double): Boolean = rng.nextDouble() < p

  // ------------------------------------------------------------ set-up
  private val setupReps = mutable.ArrayBuffer.empty[Double]
  /** Times one repetition of the workload's set-up: building the state
    * its ops start from, afresh each time. */
  def setupRep[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupReps += (System.nanoTime() - t0) / 1e9
    r
  }
  /** Median set-up repetition plus the warm-up ops. */
  def setupS: Double = Run.median(setupReps.toSeq) + warmS

  // ------------------------------------------------------------ window
  /** Live heap (MB) measured when the window closes. */
  var liveHeapMb = Double.NaN

  /** Runs the measured window: whole cycles of the workload, each with
    * an op of every class an end-to-end metric reads, until the run's
    * seconds are used. Ending between cycles, not between ops, keeps
    * the op mix of a window the same from run to run. */
  def window(cycle: => Unit): Unit = {
    mark("setup")
    println(s"[perfbench] setup repetitions ${setupReps.map(t => f"$t%.2f").mkString(" ")} " +
      f"warm-up $warmS%.2f")
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while ({ cycle; System.nanoTime() < end }) ()
    liveHeapMb = LiveHeap.mb()
    mark("window")
  }

  private var lastMark = System.nanoTime()
  /** Prints how long the run spent in the phase that just ended. */
  def mark(phase: String): Unit = {
    val t = System.nanoTime()
    println(f"[perfbench] phase $phase ${(t - lastMark) / 1e9}%.1fs")
    lastMark = t
  }

  /** Latency of an op class: each kind's median, weighted by the kind's
    * share of the class's ops. A class mixes kinds of different cost
    * (a point read and a full scan); the median of the pooled samples
    * would jump between their modes from run to run, the per-kind
    * medians do not. */
  def classS(cls: String): Double = {
    val ops = opLog.filter(_.cls == cls).toSeq
    if (ops.isEmpty) Double.NaN
    else ops.groupBy(_.kind).values.map(k => Run.median(k.map(_.seconds)) * k.size).sum / ops.size
  }
}

object Run {
  /** One measured op: its kind, class (read, write, dedup — fragment
    * consolidation or near-duplicate filtering — or maint, index
    * compaction) and duration. */
  final case class Sample(kind: String, cls: String, seconds: Double)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Heap the program still holds at the end of the measured window:
  * used heap after full collections. Unlike the peak occupancy, which
  * depends on when the collector happens to run, this is the live set:
  * index tiers, caches and broadcasts the engine kept. */
object LiveHeap {
  def mb(): Double = {
    val rt = Runtime.getRuntime
    // the first collection lets Spark's ContextCleaner see unreachable
    // checkpoints and broadcasts; the second frees what it released
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(100)
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }
}
