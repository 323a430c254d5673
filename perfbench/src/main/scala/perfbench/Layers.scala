package perfbench

/** Per-layer metrics of a traced run. Layer names are the engine's
  * module names; `exec` is Spark task execution under the session.
  * Times are medians over the traced calls (s); counts and bytes are
  * per traced op unless the name says otherwise. A layer the workload
  * does not touch reports 0. See perfbench/RATIONALE.md for which
  * end-to-end metric each one should move, on which workload. */
object Layers {
  def metrics(run: Run): Seq[(String, Double, String)] = {
    val tr = run.tracer.get
    val all = tr.tracedOps
    val reads = tr.opsOf("slice", "point", "time_travel", "scan")
    val searches = tr.opsOf("search")
    val filters = tr.opsOf("filter")
    val writes = all.filter(_.cls == "write")
    val rewrites = tr.opsOf("consolidate", "compact")
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Run.median(xs)
    def mean(xs: Seq[Double]) = Run.mean(xs)
    def perOp(ops: Seq[tr.OpRec])(f: tr.OpRec => Double) = mean(ops.map(f))
    def ctr(ops: Seq[tr.OpRec], k: String) = perOp(ops)(_.counters.getOrElse(k, 0L).toDouble)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val ex = all.map(_.exec)
    val tier = Seq("hits", "misses", "refreshes").map(k => all.map(_.counters.getOrElse(s"tiercache.$k", 0L)).sum)
    Seq(
      ("storage.write_s", med(tr.spanS("storage.write")), "s"),
      ("storage.write_jobs", mean(tr.spanJobCounts("storage.write")), "count"),
      // bytes written by writes plus the consolidations/compactions that
      // rewrite them, per byte the writes themselves put down
      ("storage.bytes_written_per_user_byte", ratio((writes ++ rewrites).map(_.exec.bytesWritten.toDouble).sum,
        writes.map(_.exec.bytesWritten.toDouble).sum), "B/B"),
      ("storage.consolidate_s", med(tr.spanS("storage.consolidate")), "s"),
      ("storage.fragments_at_read", perOp(reads)(_.notes("fragments_at_read")), "count"),
      ("storage.rows_scanned_per_row_returned",
        ratio(reads.map(_.exec.recordsRead.toDouble).sum, reads.map(_.notes("rows_returned")).sum), "ratio"),
      ("storage.input_bytes_per_op", perOp(reads)(_.exec.bytesRead.toDouble), "B"),
      ("storage.tier_cache_hit_ratio", ratio(tier(0).toDouble, tier.sum.toDouble), "ratio"),
      ("storage.point_index_hits", ctr(filters, "pointindex.hits"), "count"),
      ("query.build_s", med(tr.spanS("query.build")), "s"),
      ("plans.analysis_s", med(reads.map(_.phases("analysis"))), "s"),
      ("plans.optimization_s", med(reads.map(_.phases("optimization"))), "s"),
      ("plans.planning_s", med(reads.map(_.phases("planning"))), "s"),
      ("sources.scan_s", med(tr.spanS("sources.scan")), "s"),
      ("exec.jobs_per_op", mean(ex.map(_.jobs.toDouble)), "count"),
      ("exec.stages_per_op", mean(ex.map(_.stages.toDouble)), "count"),
      ("exec.tasks_per_op", mean(ex.map(_.tasks.toDouble)), "count"),
      ("exec.driver_gap_s", med(all.map(o => math.max(0.0, o.wallS - o.exec.jobUnionS))), "s"),
      ("exec.task_s", mean(ex.map(_.taskS)), "s"),
      ("exec.cpu_s", mean(ex.map(_.cpuS)), "s"),
      ("exec.gc_s", mean(ex.map(_.gcS)), "s"),
      ("exec.core_busy_ratio", ratio(ex.map(_.taskS).sum, run.cores * ex.map(_.jobUnionS).sum), "ratio"),
      ("exec.shuffle_write_bytes", mean(ex.map(_.shuffleWrite.toDouble)), "B"),
      ("exec.shuffle_read_bytes", mean(ex.map(_.shuffleRead.toDouble)), "B"),
      ("exec.spill_bytes", mean(ex.map(_.spill.toDouble)), "B"),
      ("ops.search.topk_s", med(tr.spanS("ops.search.topk")), "s"),
      ("ops.search.append_s", med(tr.spanS("ops.search.append")), "s"),
      ("ops.search.compact_s", med(tr.spanS("ops.search.compact")), "s"),
      ("bm25.hot_terms_probed", ctr(searches, "bm25.hot_terms_probed"), "count"),
      ("bm25.query_terms_elided", ctr(searches, "bm25.query_terms_elided"), "count"),
      ("ops.search.postings_rows_per_query",
        ratio(searches.map(_.exec.recordsRead.toDouble).sum, searches.map(_.notes("queries")).sum), "count"),
      ("ops.dedup.probe_s", med(tr.spanS("ops.dedup.probe")), "s"),
      ("ops.dedup.append_s", med(tr.spanS("ops.dedup.append")), "s"),
      ("dedup_index.probe_groups_suppressed", ctr(filters, "dedup_index.probe_groups_suppressed"), "count"),
      ("ops.dedup.neardup_s", med(tr.spanS("ops.dedup.neardup")), "s"),
      ("dedup.lsh_buckets_dropped", ctr(filters, "dedup.lsh_buckets_dropped"), "count"),
      ("ops.dedup.pair_yield", run.pairYield, "ratio"))
  }
}
