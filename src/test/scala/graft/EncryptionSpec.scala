package graft

import org.apache.spark.sql.functions._

import graft.storage.Encryption

/** At-rest encryption (reference: tiledb/array.py:304-305,398-431
  * `Array.create(key=)` — AES-256-GCM). Layer checks first (parquet
  * modular encryption round-trip, wrong key loud), then the
  * ArrayTable-level contract. */
class EncryptionSpec extends SparkSpec {

  private val keyA = "A" * 32
  private val keyB = "B" * 32

  test("parquet modular encryption: encrypted write round-trips, file is ciphertext") {
    Encryption.enable(spark, "k1", keyA)
    val dir = TestSession.tmpDir("enc-parquet")
    val df = spark.range(1000).select(col("id"),
      concat(lit("row-"), col("id")).as("s"))
    df.write.options(Encryption.writeOptions("k1")).parquet(dir)

    // footer must NOT be readable as plaintext parquet: the last 4
    // bytes of an encrypted-footer file are PARE, not PAR1
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val magic = new String(bytes.takeRight(4), "ISO-8859-1")
    assert(magic == "PARE", s"expected encrypted-footer magic PARE, got $magic")
    // and the column data must not contain the plaintext strings
    assert(!new String(bytes, "ISO-8859-1").contains("row-1"))

    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.filter(col("s") === "row-17").count() == 1)
  }

  test("parquet modular encryption: wrong key and missing key fail loudly") {
    Encryption.enable(spark, "k1", keyA)
    val dir = TestSession.tmpDir("enc-wrongkey")
    spark.range(100).write.options(Encryption.writeOptions("k1")).parquet(dir)

    // wrong key bytes under the same key id → GCM tag mismatch
    Encryption.enable(spark, "k1", keyB)
    val e1 = intercept[Exception] { spark.read.parquet(dir).count() }
    assert(e1.getMessage != null)

    // unknown key id → KeyAccessDenied with the remedy in the message
    Encryption.enable(spark, "other", keyB)
    val e2 = intercept[Exception] { spark.read.parquet(dir).count() }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e2).exists(c => String.valueOf(c.getMessage).contains("k1")),
      s"expected an error naming the missing key id, got: $e2")

    Encryption.enable(spark, "k1", keyA)
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("sidecar envelope: round-trip, AAD binding, wrong key loud") {
    val k = keyA.getBytes("UTF-8")
    val ct = Encryption.encryptString(k, """{"mbr":{"x":[1,9]}}""", "manifest")
    assert(Encryption.decryptString(k, ct, "manifest") == """{"mbr":{"x":[1,9]}}""")
    // role (AAD) is authenticated: a manifest ciphertext presented as
    // metadata must fail, not decode
    val eAad = intercept[RuntimeException] {
      Encryption.decryptString(k, ct, "meta") }
    assert(eAad.getMessage.contains("decryption failed"))
    val eKey = intercept[RuntimeException] {
      Encryption.decryptString(keyB.getBytes("UTF-8"), ct, "manifest") }
    assert(eKey.getMessage.contains("decryption failed"))
    // two encryptions of the same plaintext differ (random IV)
    val ct2 = Encryption.encryptString(k, """{"mbr":{"x":[1,9]}}""", "manifest")
    assert(!java.util.Arrays.equals(ct, ct2))
  }

  test("encrypted array: create/write/read round-trip, nothing plaintext on disk") {
    import graft.storage.{ArrayTable, Ingest}
    Encryption.enable(spark, "arrkey", keyA)
    val uri = TestSession.tmpDir("enc-array")
    val df = spark.read.parquet(s"$sf/nation.parquet")
    val schema = graft.core.ArraySchema.infer(df.schema, Seq("n_nationkey"))
    ArrayTable.create(spark, uri, schema, encryptionKey = Some("arrkey"))
    ArrayTable.write(spark, df, uri)

    // round-trip: decrypted read equals the plaintext source
    val back = ArrayTable.read(spark, uri)
    assert(back.count() == df.count())
    assert(back.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq ==
      df.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq)

    // the manifest carried real footer stats (MBR), proving the footer
    // reader decrypts rather than falling back to a data scan
    val frag = ArrayTable.fragments(spark, uri).head
    assert(frag.cellCount == df.count())

    // nothing under the array root leaks plaintext: every parquet file
    // has the PARE encrypted-footer magic, every sidecar the GFT1
    // envelope magic, and no file contains a nation name
    ArrayTable.putMeta(spark, uri, "owner", graft.core.Json.JStr("alice-secret"))
    val names = df.collect().map(_.getString(1)).toSeq :+ "alice-secret"
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(uri)).foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val text = new String(bytes, "ISO-8859-1")
      if (f.getName.endsWith(".parquet"))
        assert(text.endsWith("PARE"), s"${f.getName}: plaintext parquet footer")
      else if (f.getName != "_encryption.json" && !f.getName.startsWith("_SUCCESS") &&
          !f.getName.endsWith(".crc"))
        assert(text.startsWith("GFT1"), s"${f.getName}: sidecar not enveloped")
      names.foreach(nm => assert(!text.contains(nm), s"${f.getName} leaks '$nm'"))
      // and never the key material itself
      assert(!text.contains(keyA), s"${f.getName} leaks the key")
    }
    assert(ArrayTable.getMeta(spark, uri, "owner").get.str == "alice-secret")
  }

  test("encrypted array: delete condition + time travel + consolidate stay encrypted") {
    import graft.storage.ArrayTable
    Encryption.enable(spark, "arrkey", keyA)
    val uri = TestSession.tmpDir("enc-array-mvcc")
    val df = spark.read.parquet(s"$sf/nation.parquet")
    val schema = graft.core.ArraySchema.infer(df.schema, Seq("n_nationkey"))
    ArrayTable.create(spark, uri, schema, encryptionKey = Some("arrkey"))
    ArrayTable.write(spark, df, uri, tsOpt = Some(1000L))
    ArrayTable.delete(spark, uri, "n_regionkey == 0", tsOpt = Some(2000L))
    assert(ArrayTable.read(spark, uri).filter(col("n_regionkey") === 0).count() == 0)
    // time travel below the tombstone sees full history
    assert(ArrayTable.read(spark, uri, at = Some((0L, 1500L))).count() == df.count())
    // the delete-condition sidecar is enveloped (condition text = user data)
    val delFile = new java.io.File(s"$uri/__deletes").listFiles().head
    val delText = new String(java.nio.file.Files.readAllBytes(delFile.toPath), "ISO-8859-1")
    assert(delText.startsWith("GFT1") && !delText.contains("n_regionkey"))
    // consolidation rewrites through the same encrypted writer
    ArrayTable.consolidate(spark, uri)
    ArrayTable.vacuum(spark, uri)
    val dataFiles = ArrayTable.fragments(spark, uri).flatMap(f =>
      new java.io.File(s"${f.path.stripPrefix("file:")}/data").listFiles().toSeq
        .filter(_.getName.endsWith(".parquet")))
    assert(dataFiles.nonEmpty)
    dataFiles.foreach { f =>
      val b = java.nio.file.Files.readAllBytes(f.toPath)
      assert(new String(b.takeRight(4), "ISO-8859-1") == "PARE",
        s"consolidated ${f.getName} lost encryption")
    }
    assert(ArrayTable.read(spark, uri).filter(col("n_regionkey") === 0).count() == 0)
  }

  test("encrypted array: keyless or wrong-keyed session fails loudly, not garbage") {
    import graft.storage.ArrayTable
    Encryption.enable(spark, "arrkey", keyA)
    val uri = TestSession.tmpDir("enc-array-nokey")
    val df = spark.read.parquet(s"$sf/region.parquet")
    val schema = graft.core.ArraySchema.infer(df.schema, Seq("r_regionkey"))
    ArrayTable.create(spark, uri, schema, encryptionKey = Some("arrkey"))
    ArrayTable.write(spark, df, uri)

    // no such key registered → one-line remedy error before any read
    Encryption.enable(spark, "unrelated", keyB)
    val e1 = intercept[RuntimeException] { ArrayTable.read(spark, uri).count() }
    assert(e1.getMessage.contains("arrkey") && e1.getMessage.contains("enable"),
      s"unexpected: ${e1.getMessage}")

    // same key id, wrong bytes → authentication failure, not rows
    Encryption.enable(spark, "arrkey", keyB)
    val e2 = intercept[Exception] { ArrayTable.read(spark, uri).count() }
    assert(String.valueOf(e2.getMessage).contains("decryption failed"))

    // creating against an unregistered key also fails eagerly
    val e3 = intercept[RuntimeException] {
      ArrayTable.create(spark, TestSession.tmpDir("enc-nokey-create"),
        schema, encryptionKey = Some("ghost")) }
    assert(e3.getMessage.contains("ghost"))

    Encryption.enable(spark, "arrkey", keyA)
    assert(ArrayTable.read(spark, uri).count() == df.count())
  }

  test("encrypted array: profile sketches are ciphertext and still merge exactly") {
    import graft.storage.ArrayTable
    import graft.ops.Profile
    Encryption.enable(spark, "arrkey", keyA)
    val uri = TestSession.tmpDir("enc-sketches")
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    ArrayTable.create(spark, uri, graft.core.ArraySchema.infer(df.schema,
      Seq("o_orderkey")), encryptionKey = Some("arrkey"))
    ArrayTable.write(spark, df, uri, tsOpt = Some(1000L))
    ArrayTable.write(spark, df.limit(50), uri, tsOpt = Some(2000L))
    Profile.writeFragmentHistograms(spark, uri, "o_totalprice", 0.0, 600000.0)
    Profile.writeFragmentCms(spark, uri, "o_orderkey")

    // sketches carry aggregate user data — they must be ciphertext too
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val sketchFiles = walk(new java.io.File(uri))
      .filter(f => f.getPath.contains("__profile"))
      .filterNot(f => f.getName.startsWith("_SUCCESS") || f.getName.endsWith(".crc"))
    assert(sketchFiles.exists(_.getName.endsWith(".parquet")) &&
      sketchFiles.exists(_.getName.endsWith(".json")))
    sketchFiles.foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "ISO-8859-1")
      if (f.getName.endsWith(".parquet"))
        assert(text.endsWith("PARE"), s"${f.getName}: plaintext sketch parquet")
      else if (f.getName.endsWith(".json"))
        assert(text.startsWith("GFT1"), s"${f.getName}: sketch params not enveloped")
    }

    // the merge still answers exactly (decrypting reads end to end)
    val merged = Profile.mergedHistogram(spark, uri, "o_totalprice")
      .agg(sum("cnt")).head().getLong(0)
    assert(merged == df.count() + 50)
    // incremental call with matching params is a clean no-op
    assert(Profile.writeFragmentHistograms(spark, uri, "o_totalprice",
      0.0, 600000.0) == 0)
  }

  test("encrypted derived indexes: BM25 / dedup / IVF are ciphertext, answers unchanged") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Encryption.enable(spark, "idxkey", keyA)
    def walkFiles(uri: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(uri))
        .filterNot(f => f.getName.startsWith("_SUCCESS") ||
          f.getName.endsWith(".crc") || f.getName == "_encryption.json" ||
          f.getName == "_COMMITTED") // VersionedDir markers: empty
    }
    def assertCiphertext(uri: String, names: Seq[String]): Unit =
      walkFiles(uri).foreach { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "ISO-8859-1")
        if (f.getName.endsWith(".parquet"))
          assert(text.endsWith("PARE"), s"${f.getName}: plaintext index parquet")
        else if (f.getName.endsWith(".json"))
          assert(text.startsWith("GFT1"), s"${f.getName}: index sidecar not enveloped")
        names.foreach(nm => assert(!text.contains(nm), s"${f.getName} leaks '$nm'"))
      }

    val docs = Seq((0L, "secret alpha beta gamma"), (1L, "alpha beta delta"),
      (2L, "gamma delta epsilon zeta"), (3L, "alpha beta gamma")).toDF("doc_id", "text")
    val terms = Seq("secret", "alpha", "gamma", "epsilon")
    val q = Seq((0L, "alpha gamma")).toDF("qid", "qtext")

    // BM25: encrypted build + an (inherited-key) append, equal answers
    val bmEnc = TestSession.tmpDir("enc-bm25")
    val bmPlain = TestSession.tmpDir("plain-bm25")
    graft.ops.Search.buildIndex(docs, "doc_id", "text", bmEnc,
      buckets = 4, encryptionKey = Some("idxkey"))
    graft.ops.Search.buildIndex(docs, "doc_id", "text", bmPlain, buckets = 4)
    val extra = Seq((9L, "alpha omega secret")).toDF("doc_id", "text")
    graft.ops.Search.appendToIndex(extra, "doc_id", "text", bmEnc)
    graft.ops.Search.appendToIndex(extra, "doc_id", "text", bmPlain)
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    val encTop = graft.ops.Search.bm25IndexTopK(spark, bmEnc, q, "qid", "qtext", k = 5)
    val plainTop = graft.ops.Search.bm25IndexTopK(spark, bmPlain, q, "qid", "qtext", k = 5)
    assert(encTop.select(cols: _*).exceptAll(plainTop.select(cols: _*)).count() == 0 &&
      plainTop.select(cols: _*).exceptAll(encTop.select(cols: _*)).count() == 0)
    // the probe decrypts through the scan planned from the driver's own
    // listing (ListedScan), not a path-based read
    val encPlan = encTop.queryExecution.executedPlan.toString
    assert(encPlan.contains("Location: Listed"), s"encrypted probe scan:\n$encPlan")
    assertCiphertext(bmEnc, terms)

    // dedup index: encrypted build, probe finds the planted near-dup
    val ddUri = TestSession.tmpDir("enc-dedup")
    val corpus = (0L until 40L).map(i =>
      (i, s"unique document body number $i with plenty of words to shingle"))
      .toDF("doc_id", "text")
    graft.ops.DedupIndex.build(corpus, "doc_id", "text", ddUri,
      encryptionKey = Some("idxkey"))
    val probeBatch = Seq((1000L,
      "unique document body number 7 with plenty of words to shingle")).toDF("doc_id", "text")
    val hits = graft.ops.DedupIndex.probe(probeBatch, "doc_id", "text", ddUri,
      threshold = 0.8)
    assert(hits.count() >= 1, "encrypted dedup index must still find the near-dup")
    assertCiphertext(ddUri, Seq("unique document body"))

    // IVF: encrypted build + probe equals plaintext-index probe
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 1.7 + j).toFloat))).toDF("vec_id", "embedding")
    val ivfEnc = TestSession.tmpDir("enc-ivf")
    val ivfPlain = TestSession.tmpDir("plain-ivf")
    graft.ops.Similarity.buildIvfIndex(vecs, "vec_id", "embedding", ivfEnc,
      nCentroids = 4, encryptionKey = Some("idxkey"))
    graft.ops.Similarity.buildIvfIndex(vecs, "vec_id", "embedding", ivfPlain,
      nCentroids = 4)
    val qv = vecs.limit(3).select(col("vec_id"), col("embedding"))
    val kc = Seq($"query_id", $"neighbor_id", $"cosine", $"rank")
    val a = graft.ops.Similarity.ivfIndexTopK(spark, ivfEnc, qv, "vec_id", "embedding",
      k = 4, nprobe = 4)
    val b = graft.ops.Similarity.ivfIndexTopK(spark, ivfPlain, qv, "vec_id", "embedding",
      k = 4, nprobe = 4)
    assert(a.select(kc: _*).exceptAll(b.select(kc: _*)).count() == 0 &&
      b.select(kc: _*).exceptAll(a.select(kc: _*)).count() == 0)
    assertCiphertext(ivfEnc, Nil)
  }

  test("streaming ingest into an encrypted array commits ciphertext fragments") {
    import graft.storage.ArrayTable
    import spark.implicits._
    Encryption.enable(spark, "arrkey", keyA)
    val uri = TestSession.tmpDir("enc-stream")
    val b0 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    ArrayTable.create(spark, uri,
      graft.core.ArraySchema.infer(b0.schema, Seq("k")),
      encryptionKey = Some("arrkey"))
    // micro-batch commits (the foreachBatch body), incl. a replay
    assert(graft.streaming.EventStreams.commitStreamBatch(b0, uri, 1000L))
    assert(graft.streaming.EventStreams.commitStreamBatch(
      Seq((3L, 30.0)).toDF("k", "v"), uri, 2000L))
    assert(!graft.streaming.EventStreams.commitStreamBatch(b0, uri, 1000L),
      "replayed batch must be absorbed, not duplicated")
    assert(ArrayTable.read(spark, uri).count() == 3)
    ArrayTable.fragments(spark, uri).foreach { f =>
      new java.io.File(s"${f.path.stripPrefix("file:")}/data").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { pf =>
          val b = java.nio.file.Files.readAllBytes(pf.toPath)
          assert(new String(b.takeRight(4), "ISO-8859-1") == "PARE",
            s"streamed fragment ${pf.getName} is plaintext")
        }
    }
  }

  test("key rotation: MVCC-identical reads under the new key; old key forgotten") {
    import graft.storage.ArrayTable
    import spark.implicits._
    Encryption.enable(spark, Map(
      "oldkey" -> keyA.getBytes("UTF-8"), "newkey" -> keyB.getBytes("UTF-8")))
    val uri = TestSession.tmpDir("enc-rotate")
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "name", "v")
    ArrayTable.create(spark, uri,
      graft.core.ArraySchema.infer(df.schema, Seq("k")),
      encryptionKey = Some("oldkey"))
    ArrayTable.write(spark, df, uri, tsOpt = Some(1000L))
    // shadowing upsert + tombstone + metadata + evolved schema: the
    // full MVCC surface must survive rotation bit-for-bit
    // canary long enough that random ciphertext can't contain it by
    // chance (a 2-byte marker false-positived ~1/10 runs)
    ArrayTable.write(spark, Seq((2L, "B2-rotation-canary", 2.5)).toDF("k", "name", "v"),
      uri, tsOpt = Some(2000L))
    ArrayTable.delete(spark, uri, "k == 3", tsOpt = Some(3000L))
    ArrayTable.putMeta(spark, uri, "stage", graft.core.Json.JStr("rotated-test"))
    ArrayTable.addAttr(spark, uri, graft.core.Attr("extra", "float64",
      nullable = true))
    def snapshot() = (
      ArrayTable.read(spark, uri).orderBy("k").collect().toSeq,
      ArrayTable.read(spark, uri, at = Some((0L, 1500L))).orderBy("k").collect().toSeq,
      ArrayTable.fragments(spark, uri).map(f => (f.name, f.ts, f.seq)),
      ArrayTable.getMeta(spark, uri, "stage").map(_.str))
    val before = snapshot()

    ArrayTable.reencryptArray(spark, uri, Some("newkey"))
    // the OLD key leaves the session entirely — decryption must run
    // on the new key alone
    Encryption.enable(spark, Map("newkey" -> keyB.getBytes("UTF-8")))
    assert(snapshot() == before, "rotation changed an observable read")
    // everything on disk is ciphertext under some key, and the marker
    // names the new one
    assert(ArrayTable.encryptionKeyId(spark, uri).contains("newkey"))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(uri)).foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "ISO-8859-1")
      if (f.getName.endsWith(".parquet"))
        assert(text.endsWith("PARE"), s"${f.getName}: rotation left plaintext parquet")
      assert(!text.contains("rotated-test") && !text.contains("B2-rotation-canary"),
        s"${f.getName}: rotation leaked plaintext")
    }

    // decrypt-to-plaintext rotation
    ArrayTable.reencryptArray(spark, uri, None)
    assert(ArrayTable.encryptionKeyId(spark, uri).isEmpty)
    assert(snapshot() == before)
    // and encrypt-in-place of a plaintext array
    ArrayTable.reencryptArray(spark, uri, Some("newkey"))
    assert(ArrayTable.encryptionKeyId(spark, uri).contains("newkey"))
    assert(snapshot() == before)
  }

  test("key rotation: crash recovery, trash guard, label sub-array recursion") {
    import graft.storage.{ArrayTable, DimLabels}
    import spark.implicits._
    Encryption.enable(spark, Map(
      "oldkey" -> keyA.getBytes("UTF-8"), "newkey" -> keyB.getBytes("UTF-8")))
    val uri = TestSession.tmpDir("enc-rotate2")
    val df = Seq((10L, 1.0), (20L, 2.0), (30L, 3.0)).toDF("k", "v")
    ArrayTable.create(spark, uri,
      graft.core.ArraySchema.infer(df.schema, Seq("k")),
      encryptionKey = Some("oldkey"))
    ArrayTable.write(spark, df, uri, tsOpt = Some(1000L))
    DimLabels.addLabel(spark, uri, "name", "k",
      Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("k", "label"))
    // labels under an encrypted parent inherit the key at creation
    assert(ArrayTable.encryptionKeyId(spark, s"$uri/__labels/name")
      .contains("oldkey"))

    // trashed fragments refuse rotation (implicit vacuum would be silent)
    ArrayTable.write(spark, df.limit(1), uri, tsOpt = Some(2000L))
    ArrayTable.consolidate(spark, uri)
    val eTrash = intercept[IllegalArgumentException] {
      ArrayTable.reencryptArray(spark, uri, Some("newkey")) }
    assert(eTrash.getMessage.contains("vacuum"))
    ArrayTable.vacuum(spark, uri)

    // simulate the crash window BETWEEN the two swap renames: uri
    // parked at .__rekey_old, new tree half-present at .__rekey —
    // the retry must restore, not destroy
    val fs = graft.storage.VFS(spark)
    fs.mkdirs(s"$uri.__rekey")
    fs.writeString(s"$uri.__rekey/garbage.txt", "half-built")
    require(fs.rename(uri, s"$uri.__rekey_old"))
    ArrayTable.reencryptArray(spark, uri, Some("newkey"))
    Encryption.enable(spark, "newkey", keyB)
    assert(ArrayTable.read(spark, uri).count() == df.count()) // k=10 upsert shadows
    assert(ArrayTable.encryptionKeyId(spark, uri).contains("newkey"))
    // the label sub-array rotated recursively with its parent
    assert(ArrayTable.encryptionKeyId(spark, s"$uri/__labels/name")
      .contains("newkey"))
    assert(ArrayTable.read(spark, s"$uri/__labels/name").count() == 3)
  }

  test("encrypted scans keep predicate pushdown and column pruning") {
    import graft.storage.ArrayTable
    import spark.implicits._
    Encryption.enable(spark, "arrkey", keyA)
    val uri = TestSession.tmpDir("enc-pushdown")
    val df = spark.read.parquet(s"$sf/orders.parquet")
    ArrayTable.create(spark, uri, graft.core.ArraySchema.infer(df.schema,
      Seq("o_orderkey")), encryptionKey = Some("arrkey"))
    ArrayTable.write(spark, df, uri)
    val q = ArrayTable.read(spark, uri,
        ranges = Map("o_orderkey" -> (Some(100L), Some(5000L))))
      .select("o_orderkey", "o_totalprice")
    assert(q.count() > 0)
    val plan = q.queryExecution.executedPlan.toString
    // modular encryption decrypts page-by-page INSIDE the reader, so
    // row-group stats pruning and min/max filters still apply — an
    // encrypted scan that lost pushdown would quietly read everything
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThanOrEqual(o_orderkey"),
      s"range predicate must reach the encrypted parquet scan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("o_comment"),
      s"projection must prune encrypted columns too:\n$plan")
  }

  test("enable validates key shape") {
    intercept[IllegalArgumentException] {
      Encryption.enable(spark, "short", "too-short") }
    intercept[IllegalArgumentException] {
      Encryption.enable(spark, Map("a:b" -> Array.fill(32)(1.toByte))) }
  }
}
