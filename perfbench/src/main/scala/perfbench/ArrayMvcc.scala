package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.query.{ArrayQuery, MultiIndex}
import graft.storage.ArrayTable

/** `array_mvcc`: a seeded mix of ~70% reads and ~30% small writes on one
  * array, with consolidation + vacuum after every `ConsolidateEvery`
  * writes. The fragment count climbs and resets, so reads alternate
  * between the single-fragment fast path and the shadowing/tombstone
  * resolution path. Latency here is driver planning, manifest listing
  * and MVCC resolution, not bytes. */
object ArrayMvcc {
  val ConsolidateEvery = 12
  val T0 = 1600000000000L
  val Span = 2000L // orderkeys touched by one range read or upsert

  sealed trait Op { def ts: Long; def kind: String; def cls: String }
  final case class Slice(ts: Long, lo: Long, hi: Long, q: Int, d: Int) extends Op {
    def kind = "slice"; def cls = "read" }
  final case class Points(ts: Long, keys: Seq[Long]) extends Op { def kind = "point"; def cls = "read" }
  final case class TimeTravel(ts: Long, at: Long, lo: Long, hi: Long) extends Op {
    def kind = "time_travel"; def cls = "read" }
  /** TPC-H Q6-shaped filtered scan of the whole array through the
    * `graft` DSv2 source. */
  final case class Scan(ts: Long, day: Long, disc: Long, qty: Long) extends Op {
    def kind = "scan"; def cls = "read"
    def filter = col("l_shipdate").between(day, day + 364) &&
      col("l_discount").between(disc - 1, disc + 1) && col("l_quantity") < qty
  }
  final case class Upsert(ts: Long, lo: Long, hi: Long) extends Op { def kind = "upsert"; def cls = "write" }
  final case class Delete(ts: Long, lo: Long, hi: Long, flag: String) extends Op {
    def kind = "delete"; def cls = "write"
    def cond = s"l_orderkey >= $lo and l_orderkey <= $hi and l_returnflag == '$flag'"
  }
  final case class Consolidate(ts: Long) extends Op { def kind = "consolidate"; def cls = "dedup" }

  /** The op sequence for a seed: one op of each kind first (warm-up),
    * then the seeded mix. Op i carries timestamp T0 + 1 + i. */
  def ops(seed: Long, orders: Long, n: Int): IndexedSeq[Op] = {
    val r = new java.util.SplittableRandom(seed * 7919 + 13)
    val out = scala.collection.mutable.ArrayBuffer.empty[Op]
    var writes = 0
    var writesAtConsolidate = 0
    var reads = 0
    var lastConsolidate = T0
    def clamp(lo: Long, w: Long) = { val l = math.min(math.max(1L, lo), math.max(1L, orders - w + 1))
      (l, math.min(orders, l + w - 1)) }
    def range(w: Long) = clamp(1 + r.nextLong(orders), w)
    var lastUpsert = range(Span)
    // range reads land within half a span of the latest upsert (reads
    // follow writes), so they meet the fragment overlap of the moment
    // whatever the seed; a time-travel read sees the state three ops ago
    def nearWrite() = clamp(lastUpsert._1 - Span / 2 + r.nextLong(Span), Span)
    def read(ts: Long, k: Int): Op = k match {
      case 0 => val (lo, hi) = nearWrite(); Slice(ts, lo, hi, 10 + r.nextInt(41), r.nextInt(6))
      case 1 => Points(ts, Seq.fill(20)(1 + r.nextLong(orders)).distinct.sorted)
      case 3 => Scan(ts, 8000 + r.nextInt(2000), 2 + r.nextInt(7), 20 + r.nextInt(10))
      case _ => val (lo, hi) = nearWrite(); TimeTravel(ts, math.max(lastConsolidate, ts - 4), lo, hi)
    }
    def write(ts: Long, del: Boolean): Op = {
      writes += 1
      if (del) { val (lo, hi) = nearWrite(); Delete(ts, lo, lo + Span / 4 - 1, Seq("A", "N", "R")(r.nextInt(3))) }
      else { lastUpsert = range(Span); Upsert(ts, lastUpsert._1, lastUpsert._2) }
    }
    def emit(op: Op): Unit = {
      out += op
      if (op.isInstanceOf[Consolidate]) { lastConsolidate = op.ts; writesAtConsolidate = writes }
    }
    def ts = T0 + 1 + out.size
    for (k <- 0 until 4) emit(read(ts, k))
    emit(write(ts, del = false)); emit(write(ts, del = true)); emit(Consolidate(ts))
    // blocks of 7 reads and 3 writes in a fixed order, read kinds in
    // turn, every seventh write a delete: the mix and the fragment state
    // each read meets are the same for every seed, which picks ranges,
    // keys, conditions, time-travel targets and values
    val block = Seq(true, true, false, true, true, false, true, true, false, true)
    while (out.size < n) {
      for (isRead <- block) {
        emit(if (isRead) { reads += 1; read(ts, reads % 4) } else write(ts, del = writes % 7 == 6))
        if (writes - writesAtConsolidate >= ConsolidateEvery) emit(Consolidate(ts))
      }
    }
    out.toIndexedSeq
  }

  def run(run: Run, data: Data): Unit = {
    val spark = run.spark
    val seed = run.seed
    val orders = data.orders
    val plan = ops(seed, orders, 6000)
    println(s"[perfbench] array_mvcc ops_digest=${Gen.digest(plan.iterator.map(_.toString))} generated=${plan.size}")
    val source = spark.read.parquet(data.lineitem)
    val uri = s"${run.work}/array_mvcc"

    // What a read returned, kept for the deferred oracle.
    val results = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Seq[String])]

    def exec(i: Int, warm: Boolean): Unit = {
      val op = plan(i)
      val (id, res) = run.op(op.kind, op.cls, warm) {
        if (op.cls == "read")
          run.afterTiming(run.note("fragments_at_read", ArrayTable.fragments(spark, uri).size))
        op match {
          case s: Slice =>
            aggRead(run, ArrayQuery(spark, uri)
              .multiIndex("l_orderkey" -> MultiIndex.RangeIncl(Some(s.lo), Some(s.hi)))
              .cond(s"l_quantity < ${s.q} and l_discount >= ${s.d}"))
          case p: Points =>
            val df = run.span("query.build")(
              ArrayQuery(spark, uri).multiIndex("l_orderkey" -> MultiIndex.Points(p.keys)).df)
            val rows = run.span("exec.collect")(df.collect())
            run.phases(df)
            run.note("rows_returned", rows.length)
            rows.map(canon).sorted.toSeq
          case t: TimeTravel =>
            aggRead(run, ArrayQuery(spark, uri).timestamp(0L, t.at)
              .multiIndex("l_orderkey" -> MultiIndex.RangeIncl(Some(t.lo), Some(t.hi))))
          case s: Scan =>
            val df = run.span("query.build")(
              sumsAndCount(spark.read.format("graft").load(uri).filter(s.filter)))
            val row = run.span("sources.scan")(df.collect()).head
            run.phases(df)
            run.note("rows_returned", row.getLong(2).toDouble)
            row.toSeq.map(_.toString)
          case u: Upsert =>
            val df = Gen.lineitem(spark, seed, u.ts, u.lo, u.hi)
            run.span("storage.write")(ArrayTable.write(spark, df, uri, Some(u.ts)))
            Nil
          case d: Delete =>
            run.span("storage.delete")(ArrayTable.delete(spark, uri, d.cond, Some(d.ts)))
            Nil
          case _: Consolidate =>
            run.span("storage.consolidate") {
              ArrayTable.consolidate(spark, uri)
              ArrayTable.vacuum(spark, uri)
            }
            Nil
        }
      }
      if (op.cls == "read") res.foreach(r => if (warm || run.pick(0.1)) results += ((id, i, r)))
    }

    // set-up: a fresh array holding the base table, built several times
    // (the last one is kept), then one op of each kind as warm-up
    for (rep <- 1 to (if (run.smoke) 1 else 3)) {
      if (rep > 1) Util.rmrf(uri)
      run.setupRep(ArrayTable.ingest(spark, source, uri, Gen.Dims, tsOpt = Some(T0)))
    }
    for (i <- 0 until 7) exec(i, warm = true)
    // a cycle: the ops up to and including the next consolidation
    var next = 7
    run.window {
      while (!plan(next).isInstanceOf[Consolidate]) { exec(next, warm = false); next += 1 }
      exec(next, warm = false); next += 1
    }
    val executed = next
    println(s"[perfbench] array_mvcc executed=$executed executed_digest=" +
      Gen.digest(plan.iterator.take(executed).map(_.toString)))

    // ----------------------------------------------------------- oracle
    val oracle = new Oracle(source, plan, seed)
    for ((id, i, got) <- results) {
      val want = scala.util.Try(oracle.answer(i)).fold(e => Seq(s"oracle threw $e"), identity)
      if (want != got) run.fail(id, s"${plan(i)}: engine=${got.take(3)} oracle=${want.take(3)}")
    }
    println(s"[perfbench] array_mvcc oracle checked ${results.size} reads")
    run.check("final consolidated state") {
      ArrayTable.consolidate(spark, uri)
      ArrayTable.vacuum(spark, uri)
      // the same multiset of rows: count plus two independent hash sums
      def digest(df: DataFrame) = {
        val cs = source.columns.toSeq.map(col)
        df.agg(count(lit(1)), sum(pmod(xxhash64(cs: _*), lit(1000000007L))),
          sum(pmod(hash(cs: _*).cast("long"), lit(1000000007L)))).head().toSeq
      }
      digest(ArrayTable.read(spark, uri)) == digest(oracle.state(executed, Long.MaxValue, None))
    }
    // per byte the same number of rows takes in the base parquet: the
    // rows the op log adds or deletes differ from seed to seed
    val perRow = Util.duBytes(data.lineitem).toDouble / source.count()
    run.stored = Util.duBytes(uri) / (perRow * ArrayTable.read(spark, uri).count())
  }

  private def aggRead(run: Run, q: ArrayQuery): Seq[String] = {
    val df = run.span("query.build")(q.agg(Map(
      "l_extendedprice" -> Seq("sum"), "l_quantity" -> Seq("sum", "count"))).df)
    val row = run.span("exec.collect")(df.collect()).head
    run.phases(df)
    val n = row.getAs[Long]("l_quantity_count")
    run.note("rows_returned", n.toDouble)
    Seq(row.getAs[Long]("l_extendedprice_sum"), row.getAs[Long]("l_quantity_sum"), n).map(_.toString)
  }

  private def canon(r: Row): String = r.toSeq.mkString("|")

  /** Plain Spark over the source parquet with the op log applied: last
    * writer wins per cell, then every tombstone issued after the
    * surviving version removes it when its condition holds. */
  final class Oracle(source: DataFrame, plan: IndexedSeq[Op], seed: Long) {
    private val spark = source.sparkSession
    private val cols = source.columns.toSeq

    def state(upTo: Int, at: Long, range: Option[(Long, Long)]): DataFrame = {
      def inRange(df: DataFrame) = range.fold(df) { case (lo, hi) =>
        df.filter(col("l_orderkey").between(lo, hi)) }
      val prefix = plan.take(upTo).filter(_.ts <= at)
      val writes = inRange(source).withColumn("__ts", lit(T0)) +: prefix.collect {
        case u: Upsert if range.forall { case (lo, hi) => u.lo <= hi && u.hi >= lo } =>
          inRange(Gen.lineitem(spark, seed, u.ts, u.lo, u.hi)).withColumn("__ts", lit(u.ts))
      }
      val latest = writes.reduce(_ unionByName _)
        .withColumn("__rn", row_number().over(
          Window.partitionBy(Gen.Dims.map(col): _*).orderBy(col("__ts").desc)))
        .filter(col("__rn") === 1)
      prefix.collect { case d: Delete => d }.foldLeft(latest) { (df, d) =>
        df.filter(!(col("l_orderkey").between(d.lo, d.hi) && col("l_returnflag") === d.flag &&
          col("__ts") <= d.ts))
      }.select(cols.map(col): _*)
    }

    def answer(i: Int): Seq[String] = plan(i) match {
      case s: Slice =>
        agg(state(i, Long.MaxValue, Some((s.lo, s.hi)))
          .filter(col("l_quantity") < s.q && col("l_discount") >= s.d))
      case t: TimeTravel => agg(state(i, t.at, Some((t.lo, t.hi))))
      case s: Scan => agg(state(i, Long.MaxValue, None).filter(s.filter))
      case p: Points =>
        state(i, Long.MaxValue, Some((p.keys.min, p.keys.max)))
          .filter(col("l_orderkey").isin(p.keys: _*)).collect().map(canon).sorted.toSeq
      case other => sys.error(s"not a read: $other")
    }

    private def agg(df: DataFrame): Seq[String] = sumsAndCount(df).head().toSeq.map(_.toString)
  }

  /** sum(price), sum(quantity), count: what every aggregate read returns. */
  def sumsAndCount(df: DataFrame): DataFrame = df.agg(coalesce(sum("l_extendedprice"), lit(0L)),
    coalesce(sum("l_quantity"), lit(0L)), count(lit(1)))
}
