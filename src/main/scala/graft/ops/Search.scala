package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Full-text retrieval over the document corpus: an inverted index
  * (postings) plus BM25 scoring and top-k search. A training-data
  * pipeline uses this for eval-set contamination lookup, quality
  * retrieval ("find the docs most similar to this prompt") and
  * source triage — the reference has no search surface at all
  * (SURVEY §2.12: no scalar function library, computation happens in
  * numpy), so this is extension surface in the BASELINE.json
  * north-star sense.
  *
  * Scale design (the 100 TB story):
  *  - the postings build is SHUFFLE-FREE: term frequency and document
  *    length are row-local facts, counted inside the row by the
  *    [[graft.functions.TermCounts]] kernel — no corpus-sized exchange
  *    at all (previously one `groupBy(doc_id, term)` shuffle);
  *  - document-frequency (df) stays corpus-side; the query-term
  *    table (tiny by definition) is BROADCAST into it, so the
  *    vocabulary table never shuffles;
  *  - candidate generation is a broadcast join of postings against
  *    the (query, term, idf) table — postings stream, nothing
  *    corpus-sized shuffles on an unbounded key;
  *  - per-(query, doc) score assembly is one shuffle of MATCHING
  *    pairs only, and top-k uses [[Similarity.topKPerKey]]'s bounded
  *    per-partition heaps — no `row_number().over(partitionBy(query))`
  *    window, which would hash-partition every scored row onto
  *    |queries| reducers (the classic skew bomb when queries are few
  *    and the corpus is huge).
  */
object Search {

  /** Unicode-word terms, lowercased: split on any non-letter/digit
    * run, drop empties. Mirrors the tokenizer the perplexity oracle
    * already replays in DuckDB (`string_split_regex(lower(text),
    * '[^\p{L}\p{N}]+')`), so every Search oracle is value-exact.
    *
    * Kernel-backed ([[graft.functions.Tokens]]) like
    * [[NgramLm.lmTokens]]: corpusStats and the query-term splits paid
    * the regex NFA per document/query; the kernel is the same direct
    * character-class walk TermCounts uses (TokensSpec pins equality;
    * `graft.tokens.kernel=false` restores the expression form). */
  def termsOf(text: Column): Column =
    if (graft.functions.Tokens.enabled) graft.functions.Tokens(lower(text))
    else filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  /** Inverted index: one row per (doc, term) with the term frequency
    * and the document length riding along. Columns: doc_id, term,
    * tf (long), dl (long).
    *
    * Term frequency is a row-local fact, so it is counted INSIDE the
    * row by the [[graft.functions.TermCounts]] kernel — the old
    * `explode + groupBy(doc_id, term)` shape paid a full exchange of
    * one row per distinct (doc, term) per map partition plus the
    * Java-regex token split; this plan is a pure narrow
    * Project -> Generate with zero shuffles (guide §2.3/2.4).
    * Output rows are identical (kernel-vs-expression tokenization
    * equality pinned by TermCountsSpec). */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TermCounts(lower(col(textCol)))).as("__e"))
      .select(col("doc_id"), col("__e.term").as("term"),
        col("__e.tf").as("tf"), col("__e.dl").as("dl"))

  /** Exact integer corpus stats: (nDocs, sum of doc lengths). One
    * tiny job; division into avgdl happens ONCE on the driver so both
    * engines compute `sum/n` with a single rounding step. */
  def corpusStats(docs: DataFrame, idCol: String, textCol: String): (Long, Long) = {
    val r: Row = docs
      .select(size(termsOf(col(textCol))).cast("long").as("__dl"))
      .agg(count(lit(1)).as("n"), sum(col("__dl")).as("s"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** BM25 scores for every (query, doc) pair sharing at least one
    * term. Query terms are DISTINCT (standard for short queries —
    * query-side tf is ignored, documented). idf is the
    * Robertson/Lucene non-negative variant
    * `ln(1 + (N - df + 0.5)/(df + 0.5))`.
    *
    * Output: (query_id, doc_id, score raw double). Callers round for
    * presentation; [[bm25TopK]] ranks on the 6-decimal rounding so
    * ordering is reproducible across engines. */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k1: Double = 1.25, b: Double = 0.75,
      materializePostings: Boolean = true,
      maxDfFraction: Double = 1.0,
      requireAllTerms: Boolean = false): DataFrame = {
    // The postings frame feeds THREE consumers (df aggregation, the
    // scoring join, sumDl) — without materialization each one re-runs
    // the tokenize + count subtree (measured 23 s -> 8 s at the 10x
    // rehearsal, 50k docs). localCheckpoint, not cache, for the same
    // CacheManager-pinning reason as minhashNearDups; pass false on
    // long-lived clusters where executor loss must not fail the job
    // (or use buildIndex + bm25IndexTopK, the real at-scale path).
    val postPlan = postings(docs, idCol, textCol)
    val post = if (materializePostings) postPlan.localCheckpoint(true) else postPlan
    // exact-integer corpus stats WITHOUT extra text passes:
    // sum(dl over docs) = sum(tf over postings); empty docs hold no
    // postings but contribute 0 either way. nDocs counts all docs.
    val nDocs = docs.count()
    val sumDl = Option(post.agg(sum(col("tf"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    // vocabulary-sized df table streams; the tiny query-term table
    // broadcasts into it, then the (query, term, idf) result (still
    // tiny) broadcasts into the postings stream.
    val qterms = queries.select(col(qidCol).as("query_id"),
      explode(array_distinct(termsOf(col(qtextCol)))).as("term"))
    scoreFromPostings(post, qterms, nDocs, sumDl, k1, b, maxDfFraction,
      requireAllTerms)
  }

  /** Shared scoring core: joins a postings frame (doc_id, term, tf,
    * dl) against a broadcastable (query_id, term) table and produces
    * (query_id, doc_id, score raw). `df` (document frequency per term)
    * is computed FROM the given postings — exact whether those are the
    * whole corpus (inline path) or the pruned-but-complete postings of
    * the query terms (index path: a term's postings all live in its
    * bucket, so df over the pruned read is identical). */
  /** A probed term in more than this fraction of all docs triggers a
    * hot-term warning (and the `bm25.hot_terms_probed` counter) even
    * with elision off: its postings are a corpus-fraction scan for
    * near-zero idf, and at 100 TB the operator should KNOW they are
    * paying it. Warn-only — results never change without opt-in. */
  val HotTermDfFraction: Double = 0.2

  private def scoreFromPostings(post: DataFrame, qterms: DataFrame,
      nDocs: Long, sumDl: Long, k1: Double, b: Double,
      maxDfFraction: Double = 1.0,
      requireAllTerms: Boolean = false): DataFrame = {
    val spark = post.sparkSession
    val n = nDocs.toDouble
    val avgdl = if (nDocs == 0L) 1.0 else sumDl.toDouble / nDocs
    val dfAll = post.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    // Per-(query, term) df — QUERY-BATCH-sized, and ALREADY driver-
    // bounded by contract (the scoring path broadcasts qidf, and a
    // broadcast relation is built on the driver), so COLLECT it
    // outright instead of the old localCheckpoint: the df aggregation
    // still runs exactly once, but the hot-term / elision decisions
    // become free driver-side set ops instead of one-or-three extra
    // Spark jobs each (r21: QueryProfile showed ~60% of
    // bm25_index_topk's wall was between-job driver time — job count
    // is the cost at the floor, and the removed jobs are pure
    // bookkeeping at any scale). The rebuilt frame is a LocalRelation:
    // downstream broadcasts need no extra job either.
    val qdfJoined = dfAll.join(broadcast(qterms), "term")
    val qdfRows = qdfJoined.collect()
    val qdf = spark.createDataFrame(
      java.util.Arrays.asList(qdfRows: _*), qdfJoined.schema)
    val dfIdx = qdfJoined.schema.fieldIndex("__df")
    val termIdx = qdfJoined.schema.fieldIndex("term")
    // optional stopword elision — the production knob for the
    // worst-case term: a term in >maxDfFraction of all docs has
    // near-zero idf but corpus-fraction-sized postings, so scoring
    // it costs a full corpus pass for ~no ranking signal. Off by
    // default (1.0): elision changes results, callers opt in — but
    // every elision and every hot term probed is logged + counted
    // (Stats counters `bm25.query_terms_elided`,
    // `bm25.hot_terms_probed`) either way: no silent caps, and no
    // silent full-corpus rankings.
    val kept = qdf.filter(col("__df") <= lit(maxDfFraction) * lit(n))
    if (n > 0) {
      val log5 = org.slf4j.LoggerFactory.getLogger(getClass)
      val hot = qdfRows.filter(_.getDouble(dfIdx) > HotTermDfFraction * n)
        .map(_.getString(termIdx)).distinct.length.toLong
      if (hot > 0) {
        graft.core.Stats.counter(spark, "bm25.hot_terms_probed").add(hot)
        log5.warn(s"bm25: $hot probed term(s) appear in >" +
          s"${(HotTermDfFraction * 100).toInt}% of the $nDocs docs — " +
          "each costs a corpus-fraction ranking pass for near-zero " +
          "idf; consider maxDfFraction elision")
      }
      if (maxDfFraction < 1.0) {
        val elided = qdfRows.map(_.getString(termIdx)).distinct.length.toLong -
          qdfRows.filter(_.getDouble(dfIdx) <= maxDfFraction * n)
            .map(_.getString(termIdx)).distinct.length.toLong
        if (elided > 0) {
          graft.core.Stats.counter(spark, "bm25.query_terms_elided").add(elided)
          log5.info(s"bm25: elided $elided query term(s) with df > " +
            s"$maxDfFraction * $nDocs docs")
        }
      }
    }
    val qidf = kept
      .select(col("query_id"), col("term"),
        log(lit(1.0) + (lit(n) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
          .as("__idf"))
    val tfD = col("tf").cast("double")
    val scored = post.join(broadcast(qidf), "term")
      .select(col("query_id"), col("doc_id"),
        (col("__idf") * tfD * lit(k1 + 1.0) /
          (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl))))
          .as("__s"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__s")).as("score"), count(lit(1)).as("__nt"))
    if (!requireAllTerms) scored.drop("__nt")
    else {
      // conjunctive (AND) mode: keep docs matching EVERY non-elided
      // query term — the per-pair contribution count equals the
      // query's surviving-term count (postings rows are unique per
      // (doc, term), so count == distinct matched terms). The
      // per-query term counts are query-batch-sized and broadcast.
      val need = qidf.groupBy(col("query_id"))
        .agg(count(lit(1)).as("__need"))
      scored.join(broadcast(need), "query_id")
        .filter(col("__nt") === col("__need"))
        .select(col("query_id"), col("doc_id"), col("score"))
    }
  }

  /** Top-k docs per query by BM25, ranked on the 6-decimal-rounded
    * score with doc_id ascending as the tie-break (rounded ranking
    * keeps the order stable under last-ulp float differences between
    * engines; ties at 6 decimals are broken deterministically).
    * Output: (query_id, doc_id, score, rank). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int = 10, k1: Double = 1.25, b: Double = 0.75,
      maxDfFraction: Double = 1.0,
      requireAllTerms: Boolean = false,
      docFilter: Option[Column] = None): DataFrame = {
    // requireAllTerms = conjunctive (AND) retrieval: only docs
    // matching EVERY query term that exists in the corpus (and
    // survives elision) are ranked — absent terms can't be required
    // of any doc, matching standard AND-semantics over the indexable
    // vocabulary
    val scored = bm25Scores(docs, idCol, textCol, queries, qidCol, qtextCol,
        k1, b, materializePostings = true, maxDfFraction, requireAllTerms)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
    // docFilter = metadata-restricted retrieval (Lucene-style filtered
    // search): df/avgdl stay GLOBAL — a filter narrows the result
    // set, not the collection statistics — and ranks are assigned
    // after the restriction, so the top-k holds k ELIGIBLE docs. The
    // semi join moves only the candidate set (docs sharing a query
    // term), never the corpus.
    val restricted = docFilter match {
      case Some(f) => scored.join(
        docs.filter(f).select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")
      case None => scored
    }
    Similarity.topKPerKey(restricted, "query_id", "doc_id", "score", k)
  }

  /** Reciprocal-rank fusion (the RRF hybrid-retrieval combiner):
    * fused_score(q, d) = sum over input rankings of 1/(rrfK + rank),
    * top-k per query by (rounded score desc, doc_id asc). The
    * standard way to merge a lexical ([[bm25TopK]]) and a semantic
    * (ANN cosine) ranking without score calibration — ranks, not raw
    * scores, carry the signal, so the wildly different score scales
    * never meet. rrfK = 60 is the published default.
    *
    * Scale shape: every input is already top-k-bounded PER QUERY, so
    * the union + groupBy moves only queries x (sum of input k's) rows
    * — a candidate-set shuffle, never a corpus shuffle — and the
    * final rank rides the shared bounded-heap top-k. Inputs must
    * carry (query_id, doc_id, rank); rename upstream columns to fuse
    * heterogeneous id spaces deliberately, not accidentally. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    val tagged = rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
    // the per-pair contributions are summed through a SORTED left
    // fold, not sum(): with 3+ input rankings a double sum's
    // accumulation order is partition-nondeterministic and round(_, 6)
    // could flip at a boundary between runs. The sorted fold is
    // bit-deterministic for any ranking count, and for the 2-ranking
    // case it is bit-identical to the plain two-term sum (IEEE
    // addition of two doubles is order-insensitive and 0.0 + a == a),
    // so the DuckDB oracle needs no change. Lists are one element per
    // input ranking — candidate-set sized, never corpus-sized.
    val fused = tagged
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sort_array(collect_list(lit(1.0) / (lit(rrfK) + col("rank")))).as("__c"))
      .select(col("query_id"), col("doc_id"),
        round(aggregate(col("__c"), lit(0.0), (a, x) => a + x), 6).as("score"))
    graft.ops.Similarity.topKPerKey(fused, "query_id", "doc_id", "score", k)
  }

  /** Top-k TF-IDF keywords per document — the classic corpus-triage /
    * topic-labeling op (what "characterizes" each doc against the
    * corpus). score = tf * ln(N/df) with plain idf (df <= N keeps it
    * non-negative), ranked per doc by (6-decimal-rounded score desc,
    * term asc) — the same rounded-rank contract as [[bm25TopK]], so
    * ordering is engine-stable.
    *
    * Scale shape: ONE postings aggregation (tf per (doc, term) — the
    * [[postings]] pass), df aggregated FROM those postings
    * (vocabulary-sized, map-side combined), then one term-keyed join
    * postings-vs-df — df is NOT broadcast (a 100 TB corpus has a
    * billion-term vocabulary; the term join is the honest shuffle) —
    * and per-doc top-k on bounded heaps ([[Similarity.topKPerKey]]),
    * never a corpus-wide rank window. */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val nDocs = docs.count()
    // the postings materialize ONCE (two consumers: the df aggregation
    // and the score join) — pinned DISK_ONLY, not localCheckpoint:
    // the checkpoint's MEMORY_AND_DISK blocks compete with the join's
    // sort buffers inside one executor heap, and at the 100x rehearsal
    // (500k docs, ~50M posting rows) that OOMed an 8 GB heap. Posting
    // rows are corpus-token-scale — they belong on disk.
    val post = postings(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val df = post.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val scored = post.join(df, "term")
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double") *
          log(lit(nDocs.toDouble) / col("__df")), 6).as("__s"))
    Similarity.topKPerKey(scored, "doc_id", "term", "__s", k)
      .select(col("doc_id"), col("term"), col("__s").as("score"), col("rank"))
  }

  // -------------------------------------------------------------------
  // Persisted inverted index
  // -------------------------------------------------------------------

  /** Index layout: `postings/tb=NN/` term-hash-bucketed postings
    * (term, doc_id, tf, dl), each bucket's files SORTED by term so
    * parquet footer stats prune to the probed terms; `_stats.json`
    * holds the exact-integer corpus stats (nDocs, sumDl) that BM25
    * needs globally. There is NO separate document-frequency table:
    * a term's postings all live in its bucket, so a probe recomputes
    * exact df from the rows it reads anyway — which also makes
    * [[appendToIndex]] trivially correct (postings files + a stats
    * bump; no global table to rebuild).
    *
    * The 100 TB story mirrors [[DedupIndex]]: build once (one corpus
    * pass, one shuffle), then every query batch reads only the
    * buckets (static partition pruning on `tb`) and row groups
    * (term-range footer stats) its terms live in — steady-state cost
    * proportional to the query terms' postings, never the corpus. */
  case class IndexParams(buckets: Int)

  private def statsPath(uri: String) = s"$uri/_stats.json"
  private def paramsPath(uri: String) = s"$uri/_params.json"
  private def postingsPath(uri: String) = s"$uri/postings"

  /** Write options for every postings parquet write. NOTE (r21): a
    * parquet BLOOM FILTER on `term` was tried here (r20 verdict item
    * 4) and REVERTED after measurement: (a) the probe already reads
    * only matching row groups locally (QueryProfile: 0.2 MB input),
    * (b) parquet silently DROPS the bloom whenever a chunk is fully
    * dictionary-encoded — the dictionary is already exact membership,
    * and the in()-pushdown threshold raised in GraftSession lets the
    * reader prune on it — and (c) where it did materialize it added an
    * erratic ~66 KB/file footer that broke the tier-size monotonicity
    * [[maintenanceAdvice]] compares (a 2-doc base read LARGER than its
    * 4x-corpus major compaction). Term-sorted files + footer stats +
    * dictionary in() pruning are the honest layout. */
  private def postingsWriteOptions(spark: org.apache.spark.sql.SparkSession,
      uri: String): Map[String, String] =
    graft.storage.Encryption.dirWriteOptions(spark, uri)

  private def termBucket(term: Column, buckets: Int): Column =
    pmod(xxhash64(term), lit(buckets.toLong)).cast("int")

  /** Read a postings dir, tolerating the empty-corpus case: Spark
    * writes an EMPTY partitioned parquet dir with no schema footprint
    * (just _SUCCESS), which `read.parquet` then refuses to infer —
    * an index built over zero docs (the streaming bootstrap shape)
    * must still probe cleanly. doc_id falls back to long. */
  private def readPostingsOrEmpty(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = readPostingsMulti(spark, Seq(path), None)

  /** ONE flat scan over the base generation plus every pending batch
    * dir — never a union of per-dir reads, whose fixed listing/footer/
    * plan work per leg grew linearly with the pending dir count (a
    * probe at 100 pending dirs degraded 1.68 s → 45.7 s).
    *
    * The scan is planned from the driver's OWN listing: each root is
    * listed once, bucket pruning is PATH SELECTION of the `tb=` dirs in
    * `tbs` (None = all), only the selected dirs are listed (pruned
    * buckets never are), and the statuses of their files go straight
    * into the relation ([[graft.storage.ListedScan]]) with the explicit
    * data schema. Spark lists nothing a second time: `read.parquet`
    * over more than 32 selected dirs would, with a one-task-per-dir
    * Spark job — ~30% of a 20-query probe's wall on the text_serving
    * benchmark (4 cores).
    * No partition discovery runs either (multi-root discovery across
    * roots at different depths is a hard Spark error). The frame has
    * NO tb column; the writer-side value is `termBucket(term)`, a pure
    * function callers recompute when they need the layout. */
  private def readPostingsMulti(spark: org.apache.spark.sql.SparkSession,
      roots: Seq[String], tbs: Option[Array[Int]]): DataFrame = {
    val fs = graft.storage.VFS(spark)
    val want: Int => Boolean = tbs match {
      case Some(a) => a.toSet
      case None => _ => true
    }
    def sidecar(name: String) = name.startsWith("_") || name.startsWith(".")
    val entries = roots.flatMap(fs.ls)
    // loud, not silent: a postings root may contain ONLY tb= bucket
    // dirs and _/. sidecars (_SUCCESS, _genstats.json, .crc). Anything
    // else — flat data files, a different partition column, a foreign
    // layout — would otherwise be dropped from every probe and
    // compaction (readIndexStats never validates the layout)
    entries.find { e =>
      val name = e.substring(e.lastIndexOf('/') + 1)
      !name.startsWith("tb=") && !sidecar(name)
    }.foreach(f => sys.error(
      s"postings layout unrecognized: entry outside tb= bucket dirs " +
        s"at $f — rebuild the index with Search.buildIndex"))
    val dirs = entries.filter { d =>
      val name = d.substring(d.lastIndexOf('/') + 1)
      name.startsWith("tb=") &&
        scala.util.Try(name.substring(3).toInt).toOption.exists(want)
    }
    // _/. entries at any level inside a bucket dir are sidecars or
    // in-flight writes (.crc, a writer's _temporary)
    val files = dirs.flatMap(fs.listFilesRelative).collect {
      case (rel, st) if !rel.split('/').exists(sidecar) => st }
    graft.core.Stats.counter(spark, "search.postings_files_scanned").add(files.size.toLong)
    // an index built over zero docs (streaming bootstrap) writes only
    // _SUCCESS — no tb= dirs — and lands here on the empty frame; a
    // bucket selection matching no dirs (terms hashing to buckets this
    // index never wrote) is likewise a legitimate empty
    if (files.isEmpty) emptyPostings(spark)
    else graft.storage.ListedScan.parquet(spark, roots, files, PostingsSchema)
  }

  private val PostingsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "term string, doc_id bigint, tf bigint, dl bigint")

  private def emptyPostings(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], PostingsSchema)

  private def writeStats(spark: org.apache.spark.sql.SparkSession,
      uri: String, nDocs: Long, sumDl: Long, buckets: Int): Unit = {
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    graft.storage.Encryption.dirJsonWrite(spark, uri, statsPath(uri),
      render(JObj(Seq("nDocs" -> JLong(nDocs), "sumDl" -> JLong(sumDl)))))
    graft.storage.Encryption.dirJsonWrite(spark, uri, paramsPath(uri),
      render(JObj(Seq("buckets" -> JLong(buckets), "layout" -> JLong(1)))))
  }

  def readIndexStats(spark: org.apache.spark.sql.SparkSession,
      uri: String): (Long, Long, Int) = {
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    val s = parse(graft.storage.Encryption.dirJsonRead(spark, uri, statsPath(uri))).obj
    val p = parse(graft.storage.Encryption.dirJsonRead(spark, uri, paramsPath(uri))).obj
    def l(o: JObj, k: String): Long =
      o(k).getOrElse(sys.error(s"bm25 index missing $k")).long
    (l(s, "nDocs"), l(s, "sumDl"), l(p, "buckets").toInt)
  }

  /** Build (or rebuild) the BM25 index at `uri`. One corpus text pass
    * (the postings aggregation), one range write. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      uri: String, buckets: Int = 64,
      encryptionKey: Option[String] = None): Unit = {
    // probe-side plan size depends on this: bm25IndexTopK prunes with
    // `tb isin(<= buckets literals)`, so the bucket count is a PLAN
    // invariant, not just a layout knob. 4096 keeps the worst-case
    // isin list trivial; a corpus needing more buckets wants a
    // partitioned index per shard, not a wider literal list.
    require(buckets > 0 && buckets <= 4096,
      s"buckets must be in [1, 4096], got $buckets (the probe path " +
        "pushes one isin literal per bucket into every postings scan)")
    val spark = docs.sparkSession
    graft.storage.VFS(spark).delete(uri)
    // postings carry the corpus TERMS — an encrypted corpus needs an
    // encrypted index. The dir marker makes appends/compactions
    // inherit the key with no further plumbing.
    encryptionKey.foreach(id => graft.storage.Encryption.markDir(spark, uri, id))
    postings(docs, idCol, textCol)
      .withColumn("tb", termBucket(col("term"), buckets))
      .repartition(col("tb"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.options(postingsWriteOptions(spark, uri))
      .partitionBy("tb").parquet(postingsPath(uri))
    // stats from the JUST-WRITTEN postings (sum(dl) = sum(tf)) + a
    // metadata-only row count — no second corpus text pass
    val sumDl = Option(readPostingsOrEmpty(spark, postingsPath(uri))
      .agg(sum(col("tf"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    writeStats(spark, uri, docs.count(), sumDl, buckets)
  }

  /** Incrementally add docs: batch-sized postings files per touched
    * bucket + an exact stats bump. df needs no maintenance (recomputed
    * at probe time from the complete per-term postings); idf and the
    * length normalizer shift for ALL queries as the corpus grows —
    * exactly BM25's definition, and the index path stays equal to an
    * inline run over corpus ∪ batch.
    *
    * NOT idempotent (a replay double-appends) and writes the legacy
    * root stats that a compacted generation supersedes — for streaming
    * / retry-prone ingest use [[appendBatchToIndex]] + [[compactIndex]]
    * instead, and don't mix the two append styles on one index. */
  def appendToIndex(docs: DataFrame, idCol: String, textCol: String,
      uri: String): Unit = {
    val spark = docs.sparkSession
    val (n0, s0, buckets) = readIndexStats(spark, uri)
    val batch = postings(docs, idCol, textCol).localCheckpoint(true)
    batch.withColumn("tb", termBucket(col("term"), buckets))
      .repartition(col("tb"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.options(postingsWriteOptions(spark, uri))
      .mode("append").partitionBy("tb").parquet(postingsPath(uri))
    val s1 = Option(batch.agg(sum(col("tf"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    writeStats(spark, uri, n0 + docs.count(), s0 + s1, buckets)
  }

  // --- incremental batch appends (idempotent, streaming-safe) ---

  private def incPath(uri: String) = s"$uri/postings_inc"

  /** One committed inc dir: per-batch append (`tags` empty) or a MINOR
    * FOLD dir (`tags` = the batch/fold tags whose postings it
    * subsumes — transitively, so exclusion never depends on a chain of
    * still-present intermediate folds). */
  private case class IncDir(dir: String, tag: String, nDocs: Long,
      sumDl: Long, tags: Seq[String])

  /** All COMMITTED inc dirs (stats sidecar present — it doubles as the
    * commit marker) plus the base generation's already-folded tag set.
    * With `retireCrashed` (MAINTENANCE verbs only — never a read path),
    * also deletes stats-less `fold-` dirs: fold tags are
    * maintenance-owned (reserved in [[appendBatchToIndex]]) and
    * maintenance is single-writer, so a marker-less fold dir seen by a
    * maintenance verb can only be a CRASHED earlier fold — but the
    * same dir seen by a concurrent PROBE is the current fold's
    * in-flight write, which a read path must ignore, not delete. */
  private def incCommitted(spark: org.apache.spark.sql.SparkSession,
      uri: String, retireCrashed: Boolean = false)
      : (String, Set[String], Seq[IncDir]) = {
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    val base = graft.storage.VersionedDir.resolve(fs, uri, "postings")
    val genStatsPath = s"$base/_genstats.json"
    val folded =
      if (!fs.exists(genStatsPath)) Set.empty[String]
      else parse(graft.storage.Encryption.dirJsonRead(spark, uri, genStatsPath))
        .obj("tags").map(_.arr.map(_.str).toSet).getOrElse(Set.empty[String])
    // race injection: a major can be forced AFTER the base+genstats
    // resolution, BEFORE the inc listing — the old generation and its
    // grace dirs must still read as a consistent pre-flip view
    graft.storage.FlipHooks.at("search.read.afterBaseResolve")
    val dirs =
      if (!fs.exists(incPath(uri))) Seq.empty
      else fs.ls(incPath(uri)).sorted
    val committed = dirs.flatMap { d =>
      val tag = d.substring(d.lastIndexOf('/') + 1)
      if (!fs.exists(s"$d/_stats.json")) {
        if (retireCrashed && tag.startsWith(FoldTagPrefix)) fs.delete(d)
        None
      } else try {
        val o = parse(graft.storage.Encryption.dirJsonRead(spark, uri,
          s"$d/_stats.json")).obj
        Some(IncDir(d, tag, o("nDocs").get.long, o("sumDl").get.long,
          o("tags").map(_.arr.map(_.str)).getOrElse(Nil)))
      } catch {
        // the dir vanished between the listing and this read: a
        // RETIRED grace dir deleted by a concurrent maintenance verb.
        // It was excluded from scans and stats anyway — skipping is
        // the same decision, without surfacing the race as a probe
        // failure. (Only FileNotFound: malformed stats still throw.)
        case _: java.io.FileNotFoundException => None
      }
    }
    (base, folded, committed)
  }

  /** Exact base-generation stats (nDocs, sumDl): the generation's
    * `_genstats.json`, or the legacy root sidecar for pre-tiered
    * indexes (whole-index stats ARE base stats there — no inc tier
    * existed). */
  private def baseStats(spark: org.apache.spark.sql.SparkSession,
      uri: String, base: String): (Long, Long) = {
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    val genStatsPath = s"$base/_genstats.json"
    if (fs.exists(genStatsPath)) {
      val o = parse(graft.storage.Encryption.dirJsonRead(spark, uri, genStatsPath)).obj
      (o("nDocs").get.long, o("sumDl").get.long)
    } else {
      val (n, s, _) = readIndexStats(spark, uri)
      (n, s)
    }
  }

  /** Persisted fold-number high-water mark from the base generation's
    * `_genstats.json` (0 when absent — pre-r18 generations and fresh
    * indexes). Keeps minor-fold numbering monotonic across MAJOR
    * compacts, whose genstats rewrite resets the folded-tags set to
    * the compaction snapshot and would otherwise forget every earlier
    * fold number. */
  private def baseFoldHw(spark: org.apache.spark.sql.SparkSession,
      uri: String, base: String): Int = {
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    val genStatsPath = s"$base/_genstats.json"
    if (!fs.exists(genStatsPath)) 0
    else parse(graft.storage.Encryption.dirJsonRead(spark, uri, genStatsPath))
      .obj("foldHw").map(_.long.toInt).getOrElse(0)
  }

  /** The live index state: base postings generation (VersionedDir —
    * compaction flips reader-safely), the PENDING inc dirs — committed
    * batch/fold dirs not yet subsumed by the base generation's folded
    * tag set or by another committed fold's tag list — and the summed
    * exact stats. A batch dir only counts once its `_stats.json`
    * exists (written AFTER its postings — the sidecar doubles as the
    * commit marker); retired-but-not-yet-deleted grace dirs (one
    * maintenance cycle, for in-flight probes) are excluded from both
    * the scan roots and the stats, so a crash between any commit and
    * its source cleanup never double-counts. */
  private def liveState(spark: org.apache.spark.sql.SparkSession,
      uri: String): (String, Seq[String], Long, Long, Int) = {
    val (base, folded, committed) = incCommitted(spark, uri)
    val excluded = folded ++ committed.flatMap(_.tags)
    val pending = committed.filterNot(d => excluded(d.tag))
    val (n0, s0) = baseStats(spark, uri, base)
    val buckets = readIndexStats(spark, uri)._3
    (base, pending.map(_.dir),
      n0 + pending.map(_.nDocs).sum, s0 + pending.map(_.sumDl).sum, buckets)
  }

  /** IDEMPOTENT per-batch append — the streaming-safe form of
    * [[appendToIndex]]: the batch's postings land in their own
    * `postings_inc/<tag>/` directory with a per-batch stats sidecar
    * written last. Replaying the same tag (micro-batch retry, crash
    * replay) OVERWRITES the same directory — effectively-once, where
    * the plain parquet-append + global-stats-bump of [[appendToIndex]]
    * would double postings AND stats. Probes union the base
    * generation with pending batch dirs; [[compactIndex]] folds them
    * into a new base generation reader-safely. */
  def appendBatchToIndex(docs: DataFrame, idCol: String, textCol: String,
      uri: String, tag: String): Unit = {
    require(tag.nonEmpty && !tag.contains('/'), s"bad batch tag '$tag'")
    require(!tag.startsWith(FoldTagPrefix),
      s"batch tag '$tag' uses the reserved '$FoldTagPrefix' prefix " +
        "(minor-fold dirs are maintenance-owned)")
    import graft.core.Json._
    val spark = docs.sparkSession
    val fs = graft.storage.VFS(spark)
    // empty batch = nothing to index: an idle stream would otherwise
    // drip zero-row tag dirs that every probe lists and every fold
    // rewrites (replaying an empty batch re-skips — still idempotent)
    if (docs.isEmpty) return
    val buckets = readIndexStats(spark, uri)._3
    val dir = s"${incPath(uri)}/$tag"
    fs.delete(dir)
    val batch = postings(docs, idCol, textCol).localCheckpoint(true)
    batch.withColumn("tb", termBucket(col("term"), buckets))
      .repartition(col("tb"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.options(postingsWriteOptions(spark, uri))
      .partitionBy("tb").parquet(s"$dir/postings")
    val s1 = Option(batch.agg(sum(col("tf"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    graft.storage.Encryption.dirJsonWrite(spark, uri, s"$dir/_stats.json",
      render(JObj(Seq("nDocs" -> JLong(docs.count()), "sumDl" -> JLong(s1)))))
  }

  /** Reserved prefix of minor-fold inc dirs — maintenance-owned. */
  private val FoldTagPrefix = "fold-"

  private def foldNum(tag: String): Option[Int] =
    if (tag.startsWith(FoldTagPrefix))
      scala.util.Try(tag.substring(FoldTagPrefix.length).toInt).toOption
    else None

  /** BOUNDED maintenance (r17) — the search-index analogue of
    * [[graft.ops.DedupIndex.minorCompact]]: fold the PENDING inc batch
    * dirs into ONE `fold-NNNNNN` inc dir (re-bucketed `tb=` layout,
    * term-sorted — the same per-file pruning as the base), leaving the
    * base generation untouched. Cost is O(appends since the last MAJOR
    * compact), never O(corpus) — which is what makes this safe inside
    * a streaming foreachBatch at any index size (every pending dir adds
    * its files to each probe's one scan — files opened, footers read —
    * and its listing to the driver's; the fold resets the pending
    * count to 1). [[compactIndex]] (major, O(corpus))
    * remains the lull-time verb that folds everything into the base.
    *
    * Crash-safe without a VersionedDir flip of its own: the fold dir's
    * `_stats.json` (written LAST, carrying the merged nDocs/sumDl and
    * the subsumed source tags) is the commit marker — a crash before
    * it leaves a stats-less dir the next maintenance pass retires; a
    * crash after it leaves the sources on disk but EXCLUDED from every
    * read and stats sum (their tags are listed). Committed sources are
    * kept one maintenance cycle as grace for in-flight probes that
    * listed them pre-fold, then deleted by the NEXT maintenance verb —
    * so the probe-duration contract is: finish within one fold cadence
    * of resolving the pending list. Single-writer vs appends, like all
    * maintenance (the in-loop caller serializes by construction). */
  def minorCompactIndex(spark: org.apache.spark.sql.SparkSession,
      uri: String): Unit = {
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    val (base, folded, committed) = incCommitted(spark, uri, retireCrashed = true)
    val excluded = folded ++ committed.flatMap(_.tags)
    val (retired, pending) = committed.partition(d => excluded(d.tag))
    // retired dirs have had their one-cycle grace: clean them up even
    // when there is nothing new to fold
    if (pending.size <= 1) { retired.foreach(d => fs.delete(d.dir)); return }
    val buckets = readIndexStats(spark, uri)._3
    // fold numbers never reuse a LIVE number: max over every tag this
    // index still remembers (dirs present, their subsumed tags, the
    // base's folded set, AND the persisted high-water mark — a major
    // compact rewrites the folded set from its own snapshot, so
    // without the high-water carry a post-major fold counter would
    // restart at 1 and could collide with a stale grace dir), so a
    // probe holding a retired fold path can never see that path
    // re-materialize with different content within its grace window
    val nFold = ((committed.map(_.tag) ++ committed.flatMap(_.tags) ++ folded)
      .flatMap(foldNum).maxOption.getOrElse(0)
      .max(baseFoldHw(spark, uri, base))) + 1
    val dir = f"${incPath(uri)}/$FoldTagPrefix$nFold%06d"
    fs.delete(dir)
    readPostingsMulti(spark, pending.map(d => s"${d.dir}/postings"), None)
      .withColumn("tb", termBucket(col("term"), buckets))
      .repartition(col("tb"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.options(postingsWriteOptions(spark, uri))
      .partitionBy("tb").parquet(s"$dir/postings")
    val tags = (pending.map(_.tag) ++ pending.flatMap(_.tags)).distinct
    graft.storage.Encryption.dirJsonWrite(spark, uri, s"$dir/_stats.json",
      render(JObj(Seq("nDocs" -> JLong(pending.map(_.nDocs).sum),
        "sumDl" -> JLong(pending.map(_.sumDl).sum),
        "tags" -> JArr(tags.map(JStr))))))
    retired.foreach(d => fs.delete(d.dir))
  }

  /** Fold the base generation AND every pending inc dir into a NEW
    * base postings generation (re-bucketed, re-sorted — restores
    * footer-stat pruning globally), flipping generations through
    * [[graft.storage.VersionedDir]]: a concurrent probe always
    * resolves a complete generation, and a crash at any point leaves
    * a consistent index (the generation's folded-tags list — which
    * carries the pending dirs' tags AND their transitively subsumed
    * tags — excludes not-yet-deleted inc dirs from double-counting).
    * The folded inc dirs are kept ONE maintenance cycle as grace for
    * in-flight probes that listed them pre-flip (the r16 ADVICE race:
    * immediate deletion could yank a pending dir mid-scan), then
    * deleted by the next maintenance verb; dirs already retired by an
    * earlier fold are deleted here. O(corpus) — the lull-time verb;
    * [[minorCompactIndex]] is the bounded in-loop one. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, uri: String): Unit = {
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    // ONE listing drives the whole fold: the rows read, the stats
    // summed, and the tags recorded all come from the same snapshot
    // of the inc tier. (A second listing could see a batch the first
    // one missed — its rows and stats would land in the new
    // generation while its tag stayed off the folded list, and the
    // next read would double-count it.)
    val (base, folded, committed) = incCommitted(spark, uri, retireCrashed = true)
    val excluded = folded ++ committed.flatMap(_.tags)
    val (retired, pendingDirs) = committed.partition(d => excluded(d.tag))
    if (pendingDirs.isEmpty) { retired.foreach(d => fs.delete(d.dir)); return }
    val (n0, s0) = baseStats(spark, uri, base)
    val n = n0 + pendingDirs.map(_.nDocs).sum
    val sumDl = s0 + pendingDirs.map(_.sumDl).sum
    val buckets = readIndexStats(spark, uri)._3
    val target = graft.storage.VersionedDir.next(fs, uri, "postings")
    val all = readPostingsMulti(spark,
        base +: pendingDirs.map(d => s"${d.dir}/postings"), None)
      .withColumn("tb", termBucket(col("term"), buckets))
    all.repartition(col("tb"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.options(postingsWriteOptions(spark, uri))
      .partitionBy("tb").parquet(target)
    // the new folded set covers EVERY dir in the listing snapshot —
    // pending (now baked into the generation) AND retired grace dirs
    // (already excluded, but excluded via the OLD genstats: dropping
    // their entries would re-expose them as pending if a crash — or a
    // concurrent probe — lands between the commit below and the
    // trailing deletes, double-counting their stats and re-scanning
    // their postings)
    val tags = ((pendingDirs ++ retired).map(_.tag) ++
      (pendingDirs ++ retired).flatMap(_.tags)).distinct
    // fold-number high-water mark survives the genstats rewrite: the
    // folded set resets to this snapshot's tags, so numbers seen only
    // in the OLD set would otherwise be forgotten and reused by the
    // next minor fold
    val hw = ((committed.map(_.tag) ++ committed.flatMap(_.tags) ++ folded)
      .flatMap(foldNum).maxOption.getOrElse(0))
      .max(baseFoldHw(spark, uri, base))
    graft.storage.Encryption.dirJsonWrite(spark, uri, s"$target/_genstats.json",
      render(JObj(Seq("nDocs" -> JLong(n), "sumDl" -> JLong(sumDl),
        "tags" -> JArr(tags.map(JStr)), "foldHw" -> JLong(hw)))))
    graft.storage.VersionedDir.commit(fs, uri, "postings", target)
    // race injection: the commit → cleanup window (retired grace dirs
    // still on disk; the rewritten genstats must keep them excluded —
    // the r18 exclusion-carry fix, pinned deterministically)
    graft.storage.FlipHooks.at("search.compact.afterFlip")
    retired.foreach(d => fs.delete(d.dir))
  }

  /** Tier stats + major-compact advisory for a persisted BM25 index:
    * base = the live postings generation, inc = the PENDING batch/fold
    * dirs (grace dirs excluded — their bytes are already counted in
    * the fold that subsumed them). Listings only, no data read. */
  def maintenanceAdvice(spark: org.apache.spark.sql.SparkSession,
      uri: String): graft.storage.MaintenanceAdvice = {
    val fs = graft.storage.VFS(spark)
    val (base, incs, _, _, _) = liveState(spark, uri)
    graft.storage.MaintenanceAdvice.of(fs, Seq(base),
      incs.map(d => s"$d/postings"))
  }

  /** Top-k BM25 against a persisted index. The query batch's distinct
    * terms are collected (bounded: a query batch is small by
    * definition; `maxProbeTerms` guards the contract): their buckets
    * select the files of the postings scan, and a `term isin` filter
    * pushes into it — row groups prune on the sorted term column.
    * Scoring then reuses the inline core, so results match
    * [[bm25TopK]] pair-for-pair (pinned by the
    * `bm25_index_topk` oracle and `SearchSpec`). */
  def bm25IndexTopK(spark: org.apache.spark.sql.SparkSession, uri: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int = 10, k1: Double = 1.25, b: Double = 0.75,
      maxProbeTerms: Int = 1 << 15, maxDfFraction: Double = 1.0,
      requireAllTerms: Boolean = false): DataFrame = {
    val (base, incs, nDocs, sumDl, buckets) = liveState(spark, uri)
    // the probe pushes up to one isin literal PER BUCKET into every
    // postings scan; buildIndex enforces <= 4096 at write time, but the
    // cost is paid HERE from persisted params — re-validate so a
    // foreign or legacy index fails loudly instead of bloating plans
    require(buckets > 0 && buckets <= 4096,
      s"bm25IndexTopK: index at $uri declares $buckets term buckets " +
        "(outside [1, 4096]); rebuild it with buckets <= 4096")
    val qterms = queries.select(col(qidCol).as("query_id"),
      explode(array_distinct(termsOf(col(qtextCol)))).as("term"))
      .localCheckpoint(true)
    val terms = qterms.select("term").distinct()
      .limit(maxProbeTerms + 1).as[String](org.apache.spark.sql.Encoders.STRING)
      .collect()
    // Above maxProbeTerms the term list stops being pushable (32k+
    // string literals through isin bloat the plan), but the batch is
    // still servable: degrade to the broadcast left-semi probe shape
    // DedupIndex uses for oversized key sets. Bucket-dir pruning
    // survives (the distinct tb set is bounded by the bucket count and
    // computed executor-side); only the row-group term pruning is
    // given up, and the elision is counted, never silent.
    val overCap = terms.length > maxProbeTerms
    // Math.floorMod == Spark's pmod for signed longs (remainderUnsigned
    // would diverge for non-power-of-two bucket counts)
    val tbs =
      if (!overCap) terms.map(t =>
        java.lang.Math.floorMod(xxhash64Of(t), buckets.toLong).toInt).distinct
      else {
        // the degraded path still BROADCASTS the distinct query terms
        // for the left-semi probe, so it needs its own hard ceiling:
        // without one, a multi-million-term batch trades the old loud
        // require for a driver OOM. Beyond 16x the pushable cap
        // (~512k terms, tens of MB broadcast) the batch must be split
        // by the caller — fail with that message, never OOM.
        // clamp before limit(): an absurd maxProbeTerms (> MaxInt/16)
        // would overflow hardCap.toInt + 1 to a negative limit and die
        // with a confusing AnalysisException instead of this message
        val hardCap = math.min(maxProbeTerms.toLong * 16,
          Int.MaxValue.toLong - 1)
        // bounded over-cap probe (limit n+1, same idiom as the pushable
        // check above): never pay a full global distinct just to fail
        val nBounded = qterms.select("term").distinct()
          .limit(hardCap.toInt + 1).count()
        require(nBounded <= hardCap,
          s"bm25IndexTopK: query batch has > hard cap $hardCap distinct " +
            "terms; split the query batch into smaller chunks and union " +
            "the results")
        graft.core.Stats.counter(spark, "bm25.index_probe_semi_join").add(1L)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"bm25IndexTopK: query batch exceeds $maxProbeTerms distinct terms; " +
            "probing via broadcast semi-join (bucket pruning only)")
        qterms.select(pmod(xxhash64(col("term")), lit(buckets.toLong))
            .cast("int").as("tb"))
          .distinct().as[Int](org.apache.spark.sql.Encoders.scalaInt).collect()
      }
    // ONE scan over base + pending dirs, bucket-pruned by PATH
    // SELECTION inside readPostingsMulti (pruned buckets never enter
    // the scan's file list); term pruning pushes into the row groups
    // of the selected files exactly as before
    val byBucket = readPostingsMulti(spark,
      base +: incs.map(d => s"$d/postings"), Some(tbs))
    val byTerm =
      if (!overCap) byBucket.filter(col("term").isin(terms.toSeq: _*))
      else byBucket.join(broadcast(qterms.select("term").distinct()),
        Seq("term"), "left_semi")
    val post = byTerm.select("term", "doc_id", "tf", "dl")
    val scored = scoreFromPostings(post, qterms, nDocs, sumDl, k1, b,
        maxDfFraction, requireAllTerms)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
    Similarity.topKPerKey(scored, "query_id", "doc_id", "score", k)
  }

  /** Driver-side xxhash64 of a UTF-8 string with Spark's seed (42) —
    * must equal the `xxhash64(term)` the writer bucketed with. */
  private def xxhash64Of(s: String): Long = {
    val bytes = s.getBytes("UTF-8")
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      bytes.length, 42L)
  }
}
