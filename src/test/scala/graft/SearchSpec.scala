package graft

import graft.ops.Search
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat on the log"),
    (2L, "cats and dogs and cats"),
    (3L, "an entirely unrelated sentence about spark"),
    (4L, "")).toDF("doc_id", "text")

  test("termsOf: lowercases, splits on non-word runs, drops empties") {
    val t = Seq("The CAT, sat!  on %% the mat.").toDF("x")
      .select(Search.termsOf($"x")).as[Seq[String]].head()
    assert(t == Seq("the", "cat", "sat", "on", "the", "mat"))
    val empty = Seq("", "  ,,, ").toDF("x")
      .select(Search.termsOf($"x")).as[Seq[String]].collect()
    assert(empty.forall(_.isEmpty))
  }

  test("postings: tf and dl from one grouping; empty docs emit nothing") {
    val p = Search.postings(docs, "doc_id", "text")
    val row = p.filter($"doc_id" === 0L && $"term" === "the").head()
    assert(row.getAs[Long]("tf") == 2L && row.getAs[Long]("dl") == 6L)
    assert(p.filter($"doc_id" === 4L).count() == 0L)
    // one row per (doc, term)
    assert(p.groupBy("doc_id", "term").count().filter($"count" > 1).count() == 0L)
  }

  test("bm25: exact hand-computed score for a single-term query") {
    // corpus: N=5 docs, sum dl = 6+6+5+6+0 = 23, avgdl = 23/5
    // term "cat": df=1 (doc 0), tf=1, dl=6
    val q = Seq((100L, "cat")).toDF("qid", "qtext")
    val got = Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext")
      .select($"query_id", $"doc_id", $"score").as[(Long, Long, Double)].collect()
    assert(got.length == 1 && got(0)._1 == 100L && got(0)._2 == 0L)
    val n = 5.0; val df = 1.0; val tf = 1.0; val dl = 6.0; val avgdl = 23.0 / 5
    val idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    val expect = idf * tf * 2.25 / (tf + 1.25 * (0.25 + 0.75 * dl / avgdl))
    assert(math.abs(got(0)._3 - expect) < 1e-12, s"got ${got(0)._3} want $expect")
  }

  test("bm25: rarer terms outscore common ones; tf saturates sublinearly") {
    val q = Seq((1L, "spark"), (2L, "sat")).toDF("qid", "qtext")
    val s = Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext")
      .select($"query_id", $"score").as[(Long, Double)].collect().toMap
    assert(s(1L) > s(2L), s"idf of df=1 'spark' ${s(1L)} must beat df=2 'sat' ${s(2L)}")
    // doc 2 has tf=2 for "cats": score grows with tf but less than 2x
    val q2 = Seq((9L, "cats")).toDF("qid", "qtext")
    val tf2 = Search.bm25Scores(docs, "doc_id", "text", q2, "qid", "qtext")
      .select($"score").as[Double].head()
    val oneTf = Search.bm25Scores(
      docs.withColumn("text", regexp_replace($"text", "and cats$", "")),
      "doc_id", "text", q2, "qid", "qtext").select($"score").as[Double].head()
    assert(tf2 > oneTf && tf2 < 2 * oneTf)
  }

  test("bm25TopK: multi-term queries rank, k bounds, deterministic ties") {
    val q = Seq((0L, "cat dog sat")).toDF("qid", "qtext")
    val top = Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 2)
      .orderBy($"rank").select($"doc_id", $"rank").as[(Long, Long)].collect()
    assert(top.length == 2 && top.map(_._2).toSeq == Seq(1L, 2L))
    // docs 0 and 1 are symmetric for this query (cat vs dog, same tf/dl):
    // equal rounded scores must tie-break to the smaller doc_id first
    assert(top(0)._1 == 0L || top(0)._1 == 1L)
    val both = Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 4)
      .orderBy($"rank").select($"doc_id", $"score").as[(Long, Double)].collect()
    assert(both(0)._2 == both(1)._2, "symmetric docs score identically")
    assert(both(0)._1 == 0L && both(1)._1 == 1L, "equal scores order by doc_id")
  }

  test("requireAllTerms: AND semantics over corpus-present terms") {
    def top(qtext: String) = Search.bm25TopK(docs, "doc_id", "text",
        Seq((1L, qtext)).toDF("qid", "qtext"), "qid", "qtext", k = 10,
        requireAllTerms = true)
      .select($"doc_id").as[Long].collect().toSet
    assert(top("cat mat") == Set(0L), "only doc 0 has both terms")
    assert(top("cat dog") == Set.empty[Long], "no doc has both")
    // a term absent from the corpus can't be required of any doc
    assert(top("cat zzzqqq") == Set(0L))
    // scores are unchanged from OR mode for surviving docs
    val andScore = Search.bm25TopK(docs, "doc_id", "text",
      Seq((1L, "cat mat")).toDF("qid", "qtext"), "qid", "qtext", k = 10,
      requireAllTerms = true).select($"score").as[Double].head()
    val orScore = Search.bm25TopK(docs, "doc_id", "text",
      Seq((1L, "cat mat")).toDF("qid", "qtext"), "qid", "qtext", k = 10)
      .filter($"doc_id" === 0L).select($"score").as[Double].head()
    assert(andScore == orScore)
  }

  test("maxDfFraction: high-df terms elide; rare terms keep exact scores") {
    // "sat" has df 2/5 = 0.4; "cat" df 1/5 = 0.2
    val q = Seq((1L, "sat cat")).toDF("qid", "qtext")
    val full = Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext")
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    val elided = Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext",
        maxDfFraction = 0.3)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    val catOnly = Search.bm25Scores(docs, "doc_id", "text",
        Seq((1L, "cat")).toDF("qid", "qtext"), "qid", "qtext")
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    assert(elided == catOnly, "eliding 'sat' must leave exactly the 'cat' scores")
    assert(full.keySet == Set(0L, 1L) && elided.keySet == Set(0L))
  }

  test("tfidfKeywords: distinctive terms outrank ubiquitous ones") {
    // "the" is in every doc (idf = ln(1) = 0 -> score 0, never a top
    // keyword over positive scores); each doc's unique word wins
    val corpus = Seq(
      (0L, "the zebra zebra runs the field"),
      (1L, "the quasar shines in the field"),
      (2L, "the fossil sits in the field")).toDF("doc_id", "text")
    val kw = Search.tfidfKeywords(corpus, "doc_id", "text", k = 2)
      .select($"doc_id", $"term", $"rank").as[(Long, String, Long)]
      .collect().toSeq
    val first = kw.filter(_._3 == 1L).map(r => r._1 -> r._2).toMap
    assert(first == Map(0L -> "zebra", 1L -> "quasar", 2L -> "fossil"), first)
    // exactly k rows per doc, ranked 1..k
    assert(kw.groupBy(_._1).forall(_._2.map(_._3).sorted == Seq(1L, 2L)))
    // "the" never outranks a positive-idf term
    assert(!kw.exists(r => r._2 == "the" && r._3 == 1L))
  }

  test("elision and hot-term probes are counted, never silent") {
    graft.core.Stats.reset()
    // "the" df 2/5 = 0.4 > HotTermDfFraction: a hot-term probe even
    // with elision off
    val q = Seq((1L, "the cat")).toDF("qid", "qtext")
    Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext").count()
    assert(graft.core.Stats.counterValue("bm25.hot_terms_probed") == 1L)
    assert(graft.core.Stats.counterValue("bm25.query_terms_elided") == 0L)
    // with elision on, the same term is counted as elided
    graft.core.Stats.reset()
    Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext",
      maxDfFraction = 0.3).count()
    assert(graft.core.Stats.counterValue("bm25.query_terms_elided") == 1L)
    // a cool query touches no counter
    graft.core.Stats.reset()
    Search.bm25Scores(docs, "doc_id", "text",
      Seq((1L, "cat")).toDF("qid", "qtext"), "qid", "qtext").count()
    assert(graft.core.Stats.counterValue("bm25.hot_terms_probed") == 0L)
  }

  test("bm25 index: probe equals inline pair-for-pair; append equals rebuild") {
    val uri = s"target/test-bm25-idx-${System.nanoTime()}"
    val q = Seq((0L, "cat dog sat"), (1L, "spark sentence")).toDF("qid", "qtext")
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      val inline = Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 5)
      val idx = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
      assert(idx.select(cols: _*).exceptAll(inline.select(cols: _*)).count() == 0L &&
        inline.select(cols: _*).exceptAll(idx.select(cols: _*)).count() == 0L)
      // append shifts df/avgdl for EVERYONE, exactly like a rebuild
      val batch = Seq((50L, "a freshly appended cat sentence")).toDF("doc_id", "text")
      Search.appendToIndex(batch, "doc_id", "text", uri)
      val inlineAll = Search.bm25TopK(docs.unionByName(batch), "doc_id", "text",
        q, "qid", "qtext", k = 5)
      val idxAll = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      assert(idxAll.select(cols: _*).exceptAll(inlineAll.select(cols: _*)).count() == 0L &&
        inlineAll.select(cols: _*).exceptAll(idxAll.select(cols: _*)).count() == 0L)
      // the appended doc is actually retrievable
      assert(idxAll.filter($"doc_id" === 50L).count() > 0)
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("bm25 batch appends: idempotent replay, compact folds, probes stay exact") {
    val uri = s"target/test-bm25-inc-${System.nanoTime()}"
    val q = Seq((0L, "cat dog sat"), (1L, "appended spark")).toDF("qid", "qtext")
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    def same(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.select(cols: _*).exceptAll(y.select(cols: _*)).count() == 0L &&
        y.select(cols: _*).exceptAll(x.select(cols: _*)).count() == 0L
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      val b1 = Seq((50L, "an appended cat doc")).toDF("doc_id", "text")
      val b2 = Seq((51L, "another appended spark doc")).toDF("doc_id", "text")
      Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
      // REPLAY of the same tag must be a no-op in effect
      Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
      Search.appendBatchToIndex(b2, "doc_id", "text", uri, "batch-2")
      val full = docs.unionByName(b1).unionByName(b2)
      val inline = Search.bm25TopK(full, "doc_id", "text", q, "qid", "qtext", k = 5)
      val probed = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      assert(same(probed, inline), "probe over base+batches must equal inline")
      Search.compactIndex(spark, uri)
      val compacted = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      assert(same(compacted, inline), "probe after compact must equal inline")
      // the folded generation carries its own stats; a crashed
      // not-yet-deleted inc dir with a folded tag must not double-count
      graft.storage.VFS(spark).writeString(
        s"$uri/postings_inc/batch-1/_stats.json", "{\"nDocs\":1,\"sumDl\":4}")
      val ghost = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      assert(same(ghost, inline), "re-materialized folded tag must be ignored")
      // compact with nothing pending is a no-op
      Search.compactIndex(spark, uri)
      assert(same(Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5), inline))
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("minorCompactIndex: bounded fold — base untouched, pending dirs " +
    "collapse to one fold dir, probes stay exact through every transition") {
    val uri = s"target/test-bm25-minor-${System.nanoTime()}"
    val q = Seq((0L, "cat dog sat"), (1L, "appended spark")).toDF("qid", "qtext")
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    def same(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.select(cols: _*).exceptAll(y.select(cols: _*)).count() == 0L &&
        y.select(cols: _*).exceptAll(x.select(cols: _*)).count() == 0L
    val fs = graft.storage.VFS(spark)
    def incTags() = fs.ls(s"$uri/postings_inc")
      .map(p => p.substring(p.lastIndexOf('/') + 1))
    def probed() = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      val basePath = graft.storage.VersionedDir.resolve(fs, uri, "postings")
      val batches = (1 to 4).map(i => Seq((50L + i,
        s"appended cat doc number $i mentioning spark too")).toDF("doc_id", "text"))
      batches.zipWithIndex.foreach { case (b, i) =>
        Search.appendBatchToIndex(b, "doc_id", "text", uri, s"batch-${i + 1}") }
      val full = batches.foldLeft(docs)(_ unionByName _)
      val inline = Search.bm25TopK(full, "doc_id", "text", q, "qid", "qtext", k = 5)
      assert(same(probed(), inline))
      Search.minorCompactIndex(spark, uri)
      // bounded: the base generation did not move; the pending set
      // collapsed to one fold dir (sources linger one grace cycle)
      assert(graft.storage.VersionedDir.resolve(fs, uri, "postings") == basePath,
        "minor fold must not touch the base generation")
      assert(incTags().exists(_.startsWith("fold-")), incTags().toString)
      assert(same(probed(), inline), "probe after minor fold diverged")
      // a crash-replayed FOLDED tag re-materializes its dir: excluded
      // via the fold's subsumed-tags list, never double-counted
      Search.appendBatchToIndex(batches.head, "doc_id", "text", uri, "batch-1")
      assert(same(probed(), inline), "re-materialized folded tag double-counted")
      // the next maintenance pass retires the grace sources
      Search.minorCompactIndex(spark, uri)
      assert(!incTags().exists(_.startsWith("batch-")),
        s"grace dirs must retire on the next pass: ${incTags()}")
      assert(same(probed(), inline))
      // new appends land NEXT TO the fold; a second fold subsumes both
      // (fold-of-fold — exclusion is transitive, not chain-dependent)
      val b5 = Seq((60L, "a fifth appended doc about spark cats")).toDF("doc_id", "text")
      Search.appendBatchToIndex(b5, "doc_id", "text", uri, "batch-5")
      val inline2 = Search.bm25TopK(full.unionByName(b5), "doc_id", "text",
        q, "qid", "qtext", k = 5)
      assert(same(probed(), inline2))
      Search.minorCompactIndex(spark, uri)
      assert(same(probed(), inline2))
      // a MAJOR after minors folds everything into a new base; pending
      // fold dirs grace one cycle, then a follow-up pass empties the tier
      Search.compactIndex(spark, uri)
      assert(same(probed(), inline2), "probe after major diverged")
      Search.compactIndex(spark, uri)
      assert(incTags().isEmpty, s"inc tier must drain after grace: ${incTags()}")
      assert(same(probed(), inline2))
      // fold tags are maintenance-owned
      val e = intercept[IllegalArgumentException] {
        Search.appendBatchToIndex(b5, "doc_id", "text", uri, "fold-000009")
      }
      assert(e.getMessage.contains("reserved"))
      // empty batches append nothing (no tag-dir churn from idle streams)
      Search.appendBatchToIndex(docs.limit(0), "doc_id", "text", uri, "batch-9")
      assert(incTags().isEmpty)
    } finally fs.delete(uri)
  }

  test("major compact: retired grace dirs stay excluded by the NEW " +
    "genstats, and fold numbers are monotonic across majors") {
    val uri = s"target/test-bm25-retired-${System.nanoTime()}"
    val q = Seq((0L, "cat dog sat"), (1L, "appended spark")).toDF("qid", "qtext")
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    def same(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.select(cols: _*).exceptAll(y.select(cols: _*)).count() == 0L &&
        y.select(cols: _*).exceptAll(x.select(cols: _*)).count() == 0L
    val fs = graft.storage.VFS(spark)
    def incTags() = fs.ls(s"$uri/postings_inc")
      .map(p => p.substring(p.lastIndexOf('/') + 1))
    def probed() = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
    def genstats() = fs.readString(
      s"${graft.storage.VersionedDir.resolve(fs, uri, "postings")}/_genstats.json")
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      val b1 = Seq((50L, "an appended cat doc")).toDF("doc_id", "text")
      val b2 = Seq((51L, "another appended spark doc")).toDF("doc_id", "text")
      Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
      Search.compactIndex(spark, uri) // major #1: batch-1 folded, lingers as grace
      Search.appendBatchToIndex(b2, "doc_id", "text", uri, "batch-2")
      // major #2: batch-1 is RETIRED here (excluded only via the OLD
      // genstats) — the rewritten genstats must still carry its tag,
      // or a crash/probe between the flip and the delete re-exposes it
      Search.compactIndex(spark, uri)
      assert(genstats().contains("batch-1"),
        s"retired grace tag dropped from the new genstats: ${genstats()}")
      val inline = Search.bm25TopK(docs.unionByName(b1).unionByName(b2),
        "doc_id", "text", q, "qid", "qtext", k = 5)
      assert(same(probed(), inline))
      // simulate the crash window: the retired dir re-materializes
      // (same tag, same rows) AFTER the major that retired it — it
      // must stay excluded from stats and scans
      Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
      assert(same(probed(), inline),
        "re-materialized retired grace dir double-counted after major")
      Search.compactIndex(spark, uri) // cleanup pass retires the ghost
      assert(incTags().isEmpty, incTags().toString)

      // fold-number monotonicity: fold-000001, then majors that strip
      // every fold tag from the live snapshot — the persisted
      // high-water mark must keep the next fold from reusing 000001
      val mk = (i: Long) => Seq((60L + i, s"fold numbering doc $i spark cat"))
        .toDF("doc_id", "text")
      Search.appendBatchToIndex(mk(1), "doc_id", "text", uri, "nb-1")
      Search.appendBatchToIndex(mk(2), "doc_id", "text", uri, "nb-2")
      Search.minorCompactIndex(spark, uri)
      assert(incTags().contains("fold-000001"), incTags().toString)
      Search.compactIndex(spark, uri) // folds fold-000001 into the base
      Search.compactIndex(spark, uri) // drain: deletes the grace fold dir
      // a major whose snapshot holds NO fold tags rewrites genstats;
      // only the high-water mark remembers 000001 now
      Search.appendBatchToIndex(mk(3), "doc_id", "text", uri, "nb-3")
      Search.compactIndex(spark, uri)
      Search.appendBatchToIndex(mk(4), "doc_id", "text", uri, "nb-4")
      Search.appendBatchToIndex(mk(5), "doc_id", "text", uri, "nb-5")
      Search.minorCompactIndex(spark, uri)
      val folds = incTags().filter(_.startsWith("fold-"))
      assert(folds.nonEmpty && !folds.contains("fold-000001"),
        s"fold counter restarted after majors: $folds")
      val inline2 = Search.bm25TopK(
        (1L to 5L).map(mk).foldLeft(docs.unionByName(b1).unionByName(b2))(_ unionByName _),
        "doc_id", "text", q, "qid", "qtext", k = 5)
      assert(same(probed(), inline2), "probe diverged after numbering sequence")
    } finally fs.delete(uri)
  }

  test("maintenanceAdvice: needsMajor flips as the inc tier outgrows " +
    "the base, resets after a major") {
    val uri = s"target/test-bm25-advice-${System.nanoTime()}"
    try {
      Search.buildIndex(docs.limit(2), "doc_id", "text", uri, buckets = 8)
      val a0 = Search.maintenanceAdvice(spark, uri)
      assert(a0.incFiles == 0 && a0.incBytes == 0L)
      assert(!a0.needsMajor(0.25, 1L), "no inc tier, no major")
      // appends make the inc tier a large fraction of the tiny base
      (1 to 3).foreach(i => Search.appendBatchToIndex(
        docs, "doc_id", "text", uri, s"batch-$i"))
      val a1 = Search.maintenanceAdvice(spark, uri)
      assert(a1.incFiles > 0 && a1.incBytes > 0L)
      assert(a1.needsMajor(0.25, 1L), a1.toString)
      // the absolute floor vetoes ratio-only triggers
      assert(!a1.needsMajor(0.0, Long.MaxValue))
      Search.compactIndex(spark, uri)
      val a2 = Search.maintenanceAdvice(spark, uri)
      assert(!a2.needsMajor(0.25, 1L), a2.toString)
      assert(a2.baseBytes >= a1.baseBytes, "major must grow the base tier")
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("bm25 index probe plan: bucket partitions prune, terms push down") {
    val uri = s"target/test-bm25-plan-${System.nanoTime()}"
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      // driver-side bucket hash must equal the writer's pmod(xxhash64)
      val sqlTb = docs.select(explode(Search.termsOf($"text")).as("t")).distinct()
        .select($"t", pmod(xxhash64($"t"), lit(8L)).cast("int").as("tb"))
        .as[(String, Int)].collect()
      val m = sqlTb.toMap
      assert(m.nonEmpty)
      val got = Search.bm25IndexTopK(spark, uri,
        Seq((0L, "cat")).toDF("qid", "qtext"), "qid", "qtext", k = 3)
      assert(got.count() >= 1)
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [") && plan.contains("term"),
        s"term filter must reach the parquet scan:\n$plan")
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("bm25 index scans plan from the driver's listing: no Spark listing " +
      "job over > 32 bucket dirs in build, probe, minor or major fold") {
    val uri = s"target/test-bm25-listed-${System.nanoTime()}"
    // 97 distinct terms land in most of the 64 buckets
    def mk(ids: Range, salt: Int) = ids.map(i => (i.toLong,
      (0 until 8).map(j => s"t${(i * 7 + j * 13 + salt) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val base = mk(0 until 60, 0)
    val b1 = mk(100 until 110, 5)
    val b2 = mk(200 until 210, 11)
    val q = (0 until 4).map(k => (k.toLong,
      (0 until 20).map(j => s"t${k * 20 + j}").mkString(" "))).toDF("qid", "qtext")
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    val inline = Search.bm25TopK(base.unionByName(b1).unionByName(b2),
      "doc_id", "text", q, "qid", "qtext", k = 5).select(cols: _*).collect().toSet
    // Spark's path-based read lists > 32 paths with a job of this name
    val listings = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files"))) listings.incrementAndGet()
    }
    def listingJobs[A](body: => A): (A, Int) = {
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      listings.set(0)
      val a = body
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      (a, listings.get)
    }
    def probe(): (Set[org.apache.spark.sql.Row], Int) = {
      val ((top, dirs), n) = listingJobs {
        val df = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
        (df.select(cols: _*).collect().toSet,
          df.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length)
      }
      assert(dirs > 32, s"the probe must select > 32 bucket dirs, got $dirs")
      (top, n)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(listingJobs(Search.buildIndex(base, "doc_id", "text", uri, buckets = 64))._2 == 0)
      Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
      Search.appendBatchToIndex(b2, "doc_id", "text", uri, "batch-2")
      graft.core.Stats.reset()
      val (top, n) = probe()
      assert(n == 0 && top == inline, s"listing jobs $n")
      assert(graft.core.Stats.counterValue("search.postings_files_scanned") > 32)
      assert(listingJobs(Search.minorCompactIndex(spark, uri))._2 == 0)
      assert(probe() == (inline, 0))
      assert(listingJobs(Search.compactIndex(spark, uri))._2 == 0)
      assert(probe() == (inline, 0))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.storage.VFS(spark).delete(uri)
    }
  }

  test("bm25 index probe above maxProbeTerms: semi-join fallback, same answer") {
    val uri = s"target/test-bm25-fallback-${System.nanoTime()}"
    val q = Seq((0L, "cat dog sat"), (1L, "spark sentence")).toDF("qid", "qtext")
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      val pushed = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      graft.core.Stats.reset()
      // force the over-cap path: 2 allowed probe terms, batch has more
      val fb = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5,
        maxProbeTerms = 2)
      assert(fb.select(cols: _*).exceptAll(pushed.select(cols: _*)).count() == 0L &&
        pushed.select(cols: _*).exceptAll(fb.select(cols: _*)).count() == 0L,
        "fallback probe must answer exactly like the pushed probe")
      // the degradation is counted, and the plan carries the semi-join
      assert(graft.core.Stats.counterValue("bm25.index_probe_semi_join") >= 1L)
      val plan = fb.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("leftsemi"),
        s"over-cap probe must go through the broadcast semi-join:\n$plan")
      // beyond 16x the pushable cap even the fallback refuses — loudly,
      // with the split-the-batch remedy, instead of an unbounded
      // driver-side broadcast of the term set
      val wide = Seq((0L, (1 to 40).map(i => s"uniqterm$i").mkString(" ")))
        .toDF("qid", "qtext")
      val e = intercept[IllegalArgumentException] {
        Search.bm25IndexTopK(spark, uri, wide, "qid", "qtext", k = 5,
          maxProbeTerms = 1).count()
      }
      assert(e.getMessage.contains("split the query batch"),
        s"hard-cap failure must name the remedy: ${e.getMessage}")
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("bm25 plan: postings build map-side-combines; queries broadcast") {
    val q = Seq((0L, "cat dog")).toDF("qid", "qtext")
    val plan = Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian products:\n$plan")
  }

  test("rrfFuse: reciprocal-rank fusion semantics and tie-breaks") {
    // ranking A: doc 1 first, doc 2 second; ranking B: doc 2 first,
    // doc 3 second. Fused: doc2 = 1/62 + 1/61 tops doc1 = 1/61.
    val a = Seq((0L, 1L, 1L), (0L, 2L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 2L, 1L), (0L, 3L, 2L)).toDF("query_id", "doc_id", "rank")
    val fused = Search.rrfFuse(Seq(a, b), k = 3)
      .orderBy("rank").as[(Long, Long, Double, Long)].collect().toSeq
    assert(fused.map(_._2) == Seq(2L, 1L, 3L), fused)
    val s2 = BigDecimal(1.0 / 62 + 1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(BigDecimal(fused.head._3) == s2, fused.head)
    // a doc present in only one ranking still scores; equal fused
    // scores break by doc_id (docs 1 and 3 at rank 1 in one list each)
    val c = Seq((0L, 3L, 1L)).toDF("query_id", "doc_id", "rank")
    val tied = Search.rrfFuse(Seq(a.filter($"doc_id" === 1L), c), k = 2)
      .orderBy("rank").as[(Long, Long, Double, Long)].collect().toSeq
    assert(tied.map(_._2) == Seq(1L, 3L), tied)
    assert(tied.map(_._3).distinct.size == 1) // same score, id tie-break
  }
}
