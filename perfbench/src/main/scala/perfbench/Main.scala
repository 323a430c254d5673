package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Inputs of one run, written under the run's work directory. */
final case class Data(lineitem: String, orders: Long, corpus: String, corpusDigest: String)

/** Benchmark entry point:
  * {{{
  *   perfbench.Main --workload array_mvcc|text_serving --seed N
  *     --seconds S --trace 0|1 --work DIR [--smoke TPCH_DIR]
  *     [--trace-out FILE]
  * }}}
  * Prints one JSON result line last. `--smoke` runs a workload end to
  * end on the small TPC-H parquet directory it names (lineitem and
  * documents), with every oracle on. */
object Main {
  val Workloads = Seq("array_mvcc", "text_serving")

  def main(argv: Array[String]): Unit = {
    def parse(a: List[String]): Map[String, String] = a match {
      case k :: v :: rest if k.startsWith("--") => parse(rest) + (k -> v)
      case Nil => Map.empty
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    val args = parse(argv.toList)
    val workload = args.getOrElse("--workload", sys.error("--workload is required"))
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = args.getOrElse("--seed", "1").toLong
    val seconds = args.getOrElse("--seconds", "10").toDouble
    val trace = args.getOrElse("--trace", "0") == "1"
    val smoke = args.get("--smoke")
    val work = args.getOrElse("--work", sys.error("--work is required"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()

    val spark = graft.core.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    try {
      val run = new Run(spark, seed, seconds, trace, work, smoke.isDefined)
      val data = prepare(spark, workload, seed, smoke, work)
      run.mark("inputs")
      workload match {
        case "array_mvcc" => ArrayMvcc.run(run, data)
        case "text_serving" => TextServing.run(run, data)
      }
      run.mark("oracle")
      val e2e = endToEnd(run)
      val metrics = if (!trace) e2e else {
        run.tracer.get.finish()
        args.get("--trace-out").foreach { f =>
          val p = java.nio.file.Paths.get(f)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, run.tracer.get.toJson)
          println(s"[perfbench] spans written to $f")
        }
        // the traced run's own end-to-end figures, to set against an
        // untraced run of the same seed
        println(s"[perfbench] traced end_to_end ${render(e2e)}")
        Layers.metrics(run)
      }
      println("[perfbench] samples " + run.opLog.groupBy(_.cls).toSeq.sortBy(_._1)
        .map { case (c, xs) => s"$c=${xs.size}" }.mkString(" "))
      println("[perfbench] by kind " + run.opLog.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, xs) =>
        val ts = xs.map(_.seconds).toSeq
        f"$k n=${ts.size} p50=${Run.median(ts)}%.3f max=${ts.max}%.3f" }.mkString("; "))
      println(f"[perfbench] phases start=${(t1 - t0) / 1e9}%.1fs total=${(System.nanoTime() - t0) / 1e9}%.1fs")
      println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, """ +
        s""""failed": ${run.failed}, "metrics": ${render(metrics)}}""")
    } finally spark.stop()
  }

  def render(ms: Seq[(String, Double, String)]): String = ms.map { case (n, v, u) =>
    s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }.mkString("{", ", ", "}")

  def endToEnd(run: Run): Seq[(String, Double, String)] = Seq(
    ("setup_s", run.setupS, "s"),
    ("live_heap_mb", run.liveHeapMb, "MB"),
    ("read_s", run.classS("read"), "s"),
    ("write_s", run.classS("write"), "s"),
    ("dedup_s", run.classS("dedup"), "s"),
    ("ops_per_s", run.opLog.size / run.busyS, "1/s"),
    ("stored_bytes_per_input_byte", run.stored, "B/B"))

  /** Generates the inputs the workload needs, or in a smoke run takes
    * them from the TPC-H directory. */
  def prepare(spark: SparkSession, workload: String, seed: Long, smoke: Option[String],
      work: String): Data = {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val lineitem = s"$work/input/lineitem.parquet"
    val corpus = s"$work/input/corpus/documents.parquet"
    if (workload == "array_mvcc") {
      val n = 15000L
      val li = smoke.fold(Gen.lineitem(spark, seed, 0L, 1L, n))(d =>
        Gen.fromTpch(spark.read.parquet(s"$d/lineitem.parquet")))
      li.repartition(cores).write.parquet(lineitem)
      val orders = if (smoke.isEmpty) n
        else spark.read.parquet(lineitem).agg(max("l_orderkey")).head().getLong(0)
      Data(lineitem, orders, corpus, "")
    } else {
      // the corpus: `mult` scrambled copies of the base docs, written by
      // the engine's own scale synthesis
      val base = smoke.fold {
        val r = new java.util.SplittableRandom(seed * 31 + 7)
        (0 until 100).map(i => (i.toLong, Gen.doc(r)))
      }(d => spark.read.parquet(s"$d/documents.parquet").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().toIndexedSeq)
      base.toDF("doc_id", "text").write.parquet(s"$work/input/base/documents.parquet")
      graft.tools.ScaleRehearsal.synthesizeDocs(spark, s"$work/input/base", s"$work/input/corpus",
        if (smoke.isDefined) 3 else 10)
      Data(lineitem, 0L, corpus, Gen.digest(base.iterator.map(_.toString)))
    }
  }
}

object Util {
  def duBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(x => duBytes(x.getPath)).sum
    else if (f.exists()) f.length() else 0L
  }
  def rmrf(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(x => rmrf(x.getPath))
    f.delete()
  }
}

