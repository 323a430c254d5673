package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. One seed fixes every table, op sequence, query batch
  * and incoming document batch; the engine receives only what these
  * functions produce. */
object Gen {

  val Dims = Seq("l_orderkey", "l_linenumber")

  /** Lineitem-shaped rows for orderkeys [lo, hi]: 1-7 lines per order,
    * TPC-H value ranges, money in integer cents so sums are exact.
    * `version` 0 is the base table; an upsert with version v rewrites
    * the same keys (and a few new line numbers) with new values. */
  def lineitem(spark: SparkSession, seed: Long, version: Long, lo: Long, hi: Long): DataFrame = {
    def h(k: Int): Column =
      xxhash64(lit(seed), lit(version), col("l_orderkey"), col("l_linenumber"), lit(k))
    def pick(k: Int, n: Int): Column = pmod(h(k), lit(n.toLong))
    spark.range(lo, hi + 1).toDF("l_orderkey")
      .withColumn("l_linenumber", explode(sequence(lit(1),
        (pmod(xxhash64(lit(seed), lit(version), col("l_orderkey")), lit(7L)) + 1).cast("int"))))
      .select(col("l_orderkey"), col("l_linenumber"),
        (pick(2, 20000) + 1).as("l_partkey"),
        (pick(3, 1000) + 1).as("l_suppkey"),
        (pick(4, 50) + 1).as("l_quantity"),
        ((pick(4, 50) + 1) * (pick(5, 100000) + 90000)).as("l_extendedprice"),
        pick(6, 11).as("l_discount"),
        pick(7, 9).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), (pick(8, 3) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")), (pick(9, 2) + 1).cast("int")).as("l_linestatus"),
        (pick(10, 2500) + 8000).as("l_shipdate"))
  }

  /** A TPC-H lineitem file mapped onto the same schema (prices to
    * cents, dates to day numbers). */
  def fromTpch(df: DataFrame): DataFrame = df.select(
    col("l_orderkey").cast("long"), col("l_linenumber").cast("int"),
    col("l_partkey").cast("long"), col("l_suppkey").cast("long"),
    col("l_quantity").cast("long"),
    round(col("l_extendedprice") * 100).cast("long").as("l_extendedprice"),
    round(col("l_discount") * 100).cast("long").as("l_discount"),
    round(col("l_tax") * 100).cast("long").as("l_tax"),
    col("l_returnflag"), col("l_linestatus"),
    datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date")).cast("long").as("l_shipdate"))

  // -------------------------------------------------------------- text

  /** Fixed vocabulary; word i is a pronounceable string, so character
    * shingles behave like those of real text. */
  val Vocab: Array[String] = {
    val cons = "bcdfghjklmnprstvwz"; val vows = "aeiou"
    Array.tabulate(4000) { i =>
      var x = i; val sb = new StringBuilder
      val syll = 1 + (i % 3) + (if (i > 1000) 1 else 0)
      for (_ <- 0 until syll) {
        sb.append(cons(x % cons.length)); x /= cons.length
        sb.append(vows(x % vows.length)); x = x / vows.length + i * 7 + 3
      }
      sb.toString
    }
  }

  /** Zipf-like word choice (density ~1/rank), so a few terms occur in
    * most documents: the hot terms of BM25 probes. */
  def word(r: java.util.SplittableRandom): String = {
    val i = (math.pow(Vocab.length + 1.0, r.nextDouble()) - 1).toInt
    Vocab(math.min(i, Vocab.length - 1))
  }

  def doc(r: java.util.SplittableRandom): String =
    Seq.fill(40 + r.nextInt(60))(word(r)).mkString(" ")

  /** Near copy: `edits` words replaced. */
  def nearCopy(text: String, edits: Int, r: java.util.SplittableRandom): String = {
    val ws = text.split(' ')
    for (_ <- 0 until edits) ws(r.nextInt(ws.length)) = word(r)
    ws.mkString(" ")
  }

  // ------------------------------------------------- exact similarity

  /** Character 5-shingles of the normalized text (the inputs are lower
    * case with single spaces, so normalization is the identity). */
  def shingles(t: String, k: Int = 5): Set[String] =
    if (t.length <= k) Set(t) else (0 to t.length - k).map(i => t.substring(i, i + k)).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** SHA-256 over a canonical rendering of generated work. */
  def digest(items: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    items.foreach { s => md.update(s.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
