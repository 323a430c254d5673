package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, DedupIndex, Search}

/** `text_serving`: persisted BM25 and MinHash indexes over the corpus
  * serve an interactive loop. Each cycle filters an incoming batch
  * against the MinHash index, appends the survivors to both indexes and
  * answers a batch of top-k queries; every few cycles both indexes get
  * a minor compaction. Index tiers, point probes, the scoring shuffle
  * and the text kernels dominate; array storage is absent. */
object TextServing {
  val CompactEvery = 2
  val Threshold = 0.7

  /** One cycle's inputs. `planted` maps each near copy in the batch to
    * its source: an indexed doc, or an earlier fresh doc of the batch. */
  final case class Cycle(i: Int, batch: IndexedSeq[(Long, String)], fresh: Set[Long],
      planted: Map[Long, Long], queries: IndexedSeq[(Long, String)])

  /** Incoming batches: ~30% near copies (one word replaced) of indexed
    * docs, ~10% near copies of other docs in the same batch, the rest
    * fresh docs; queries are 80-character prefixes of indexed docs, so
    * hot terms occur as often as they do in the text. */
  def cycles(seed: Long, corpus: IndexedSeq[(Long, String)], n: Int, batch: Int,
      queries: Int): IndexedSeq[Cycle] = {
    val r = new java.util.SplittableRandom(seed * 15485863L + 3)
    val known = scala.collection.mutable.ArrayBuffer.from(corpus)
    (0 until n).map { i =>
      val fresh = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      val planted = scala.collection.mutable.Map.empty[Long, Long]
      val docs = (0 until batch).map { j =>
        val id = (1L << 40) + i.toLong * 100000 + j
        val u = r.nextDouble()
        if (u < 0.3 || (u < 0.4 && fresh.nonEmpty)) {
          val (src, t) = if (u < 0.3) known(r.nextInt(known.size)) else fresh(r.nextInt(fresh.size))
          planted(id) = src
          (id, Gen.nearCopy(t, 1, r))
        } else { val d = (id, Gen.doc(r)); fresh += d; d }
      }
      val qs = (0 until queries).map { q =>
        val t = known(r.nextInt(known.size))._2
        val cut = if (t.length <= 80) t else t.substring(0, t.lastIndexOf(' ', 80))
        (i.toLong * 1000 + q, cut)
      }
      known ++= fresh
      Cycle(i, docs, fresh.map(_._1).toSet, planted.toMap, qs)
    }
  }

  def run(run: Run, data: Data): Unit = {
    val spark = run.spark
    import spark.implicits._
    val corpusDf = spark.read.parquet(data.corpus)
    val corpus = corpusDf.select("doc_id", "text").as[(Long, String)].collect().toIndexedSeq
    val texts = scala.collection.mutable.Map.from(corpus)
    val (batch, nq) = if (run.smoke) (40, 5) else (100, 20)
    val plan = cycles(run.seed, corpus, if (run.smoke) 6 else math.max(100, run.seconds.toInt), batch, nq)
    println(s"[perfbench] text_serving ops_digest=${Gen.digest(plan.iterator.flatMap(c =>
      c.batch.map(_.toString) ++ c.queries.map(_.toString)) ++ Iterator(data.corpusDigest))} generated=${plan.size}")
    plan.foreach(_.batch.foreach { case (id, t) => texts(id) = t })
    def df(rows: Seq[(Long, String)], id: String) = rows.toDF(id, "text")

    val bm = s"${run.work}/bm25"; val mh = s"${run.work}/minhash"
    val appended = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    // (op id, cycle, survivors) and (op id, cycle, docs appended so far, result rows)
    val filtered = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Set[Long])]
    val searched = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Seq[String])]

    var survivors = IndexedSeq.empty[(Long, String)]
    // one step of a cycle is one op
    def step(c: Cycle, k: Int, warm: Boolean): Unit = k match {
      case 0 =>
        val in = df(c.batch, "doc_id")
        // near-duplicates within the batch first, then against the index
        val (pid, kept) = run.op("filter", "dedup", warm) {
          val local = run.span("ops.dedup.neardup")(
            Dedup.dropNearDups(in, "doc_id", "text", Threshold).select("doc_id").as[Long].collect())
          run.span("ops.dedup.probe")(
            DedupIndex.dropAgainstIndex(in.filter(col("doc_id").isin(local: _*)), "doc_id", "text",
              mh, Threshold).select("doc_id").as[Long].collect().toSet)
        }
        kept.foreach(k => filtered += ((pid, c.i, k)))
        survivors = c.batch.filter(d => kept.exists(_(d._1)))
      case 1 =>
        run.op("append", "write", warm) {
          val s = df(survivors, "doc_id")
          run.span("ops.dedup.append")(DedupIndex.append(s, "doc_id", "text", mh))
          run.span("ops.search.append")(Search.appendBatchToIndex(s, "doc_id", "text", bm, s"c${c.i}"))
        }
        appended ++= survivors
      case 2 =>
        val (sid, got) = run.op("search", "read", warm) {
          val res = run.span("ops.search.topk")(Search.bm25IndexTopK(spark, bm,
            df(c.queries, "query_id"), "query_id", "text", k = 10).collect())
          run.note("queries", c.queries.size)
          res.map(r => s"${r.getAs[Long]("query_id")}|${r.getAs[Long]("doc_id")}|" +
            s"${r.getAs[Any]("rank")}|${r.getAs[Double]("score")}").sorted.toSeq
        }
        got.foreach(g => searched += ((sid, c.i, appended.size, g)))
      case _ =>
        run.op("compact", "maint", warm) {
          run.span("ops.search.compact")(Search.minorCompactIndex(spark, bm))
          run.span("ops.dedup.compact")(DedupIndex.minorCompact(spark, mh))
        }
    }
    // set-up: both indexes built once over the corpus (a second build
    // would cost the window more time than it steadies setup_s), then
    // one cycle as warm-up
    run.setupRep {
      Search.buildIndex(corpusDf, "doc_id", "text", bm)
      DedupIndex.build(corpusDf, "doc_id", "text", mh)
    }
    for (k <- 0 until 4) step(plan(0), k, warm = true)
    // compaction follows cycles 0 (the warm-up), 2, 4, ...: the clock
    // checks between cycles then fall after cycle 1 and after cycle 2
    // with its compaction, far apart, so a small change in speed does
    // not change how many cycles a window holds
    var next = 1
    run.window {
      for (k <- 0 until (if (next % CompactEvery == 0) 4 else 3)) step(plan(next), k, warm = false)
      next += 1
    }
    println(s"[perfbench] text_serving executed=$next executed_digest=" +
      Gen.digest(plan.iterator.take(next).flatMap(c => c.batch.map(_.toString) ++ c.queries.map(_.toString))))

    // ----------------------------------------------------------- oracle
    // the filter keeps every fresh doc and drops every near copy whose
    // exact Jaccard to its source is >= 0.9
    val sh = scala.collection.mutable.Map.empty[Long, Set[String]]
    def shingles(id: Long) = sh.getOrElseUpdate(id, Gen.shingles(texts(id)))
    for ((id, i, kept) <- filtered) {
      val c = plan(i)
      val lost = c.fresh.filterNot(kept)
      val leaked = c.planted.filter { case (d, src) => kept(d) && Gen.jaccard(shingles(d), shingles(src)) >= 0.9 }
      if (lost.nonEmpty || leaked.nonEmpty)
        run.fail(id, s"cycle $i: fresh docs dropped ${lost.take(3)}, near copies kept ${leaked.take(3)}")
    }
    // every verified pair clears the threshold exactly: within a batch
    // (minhashNearDups, which dropNearDups clusters) and against the
    // index (the probe, verified on the docs indexed by the end)
    val all = df(corpus ++ appended, "doc_id")
    var verified = 0L; var candidates = 0L
    for ((id, i, _) <- filtered if i == filtered.head._2 || run.pick(0.1)) {
      val in = df(plan(i).batch, "doc_id")
      val local = Dedup.minhashNearDups(in, "doc_id", "text", threshold = Threshold)
        .select("a", "b").as[(Long, Long)].collect()
      val probed = DedupIndex.probe(in, "doc_id", "text", mh, Threshold,
        verifyWith = Some(all)).select("id", "match_id").as[(Long, Long)].collect()
      val low = (local ++ probed).filter { case (a, b) => Gen.jaccard(shingles(a), shingles(b)) < Threshold }
      if (low.nonEmpty) run.fail(id, s"cycle $i: pairs below threshold ${low.take(3).toSeq}")
      if (run.traceMode) {
        verified += local.length
        candidates += Dedup.lshCandidates(in.select(col("doc_id"), Dedup.minhashSignatureFromHashes(
          graft.functions.ShingleHashes(col("text"), 5), 64).as("__sig")), "doc_id", "__sig", 16).count()
      }
    }
    if (candidates > 0) run.pairYield = verified.toDouble / candidates
    // the index answers equal inline BM25 over the docs indexed by then
    // the warm-up batch and the last one, which sees every append and
    // compaction of the window
    val checked = searched.take(1) ++ searched.drop(1).takeRight(1)
    for ((id, i, n, got) <- checked) {
      val want = Search.bm25TopK(df(corpus ++ appended.take(n), "doc_id"), "doc_id", "text",
        df(plan(i).queries, "query_id"), "query_id", "text", k = 10).collect()
        .map(r => s"${r.getAs[Long]("query_id")}|${r.getAs[Long]("doc_id")}|" +
          s"${r.getAs[Any]("rank")}|${r.getAs[Double]("score")}").sorted.toSeq
      if (want != got) run.fail(id, s"cycle $i: index top-k ${got.diff(want).take(3)} " +
        s"inline ${want.diff(got).take(3)}")
    }
    println(s"[perfbench] text_serving oracle checked ${filtered.size} filters, ${checked.size} searches")
    // per byte the indexed docs take in the corpus parquet: how many
    // docs survive the filters differs from seed to seed
    val perDoc = Util.duBytes(data.corpus).toDouble / corpus.size
    run.stored = (Util.duBytes(bm) + Util.duBytes(mh)) / (perDoc * (corpus.size + appended.size))
  }
}
