package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Virtual filesystem facade over the Hadoop FileSystem API — the
  * Spark-native analogue of the reference's VFS abstraction
  * (reference: tiledb/vfs.py:16-552). `file://`, `hdfs://`, `s3a://`,
  * `gs://` etc. all come free from Hadoop; no custom backends needed.
  */
class VFS(conf: Configuration) {
  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  def exists(uri: String): Boolean = { val p = new Path(uri); fs(p).exists(p) }
  def isDir(uri: String): Boolean = { val p = new Path(uri); val f = fs(p); f.exists(p) && f.getFileStatus(p).isDirectory }
  def mkdirs(uri: String): Unit = { val p = new Path(uri); fs(p).mkdirs(p) }
  def delete(uri: String, recursive: Boolean = true): Boolean = { val p = new Path(uri); fs(p).delete(p, recursive) }
  def rename(from: String, to: String): Boolean = { val p = new Path(from); fs(p).rename(p, new Path(to)) }

  def ls(uri: String): Seq[String] = {
    val p = new Path(uri)
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).map(_.getPath.toString).toSeq.sorted
  }

  def writeString(uri: String, content: String): Unit = {
    val p = new Path(uri)
    val out = fs(p).create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def readString(uri: String): String = {
    val p = new Path(uri)
    val in = fs(p).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  def writeBytes(uri: String, content: Array[Byte]): Unit = {
    val p = new Path(uri)
    val out = fs(p).create(p, true)
    try out.write(content) finally out.close()
  }

  def readBytes(uri: String): Array[Byte] = {
    val p = new Path(uri)
    val in = fs(p).open(p)
    try in.readAllBytes() finally in.close()
  }

  def fileSize(uri: String): Long = { val p = new Path(uri); fs(p).getFileStatus(p).getLen }

  /** Pin a file's modification time (ms). Structured-streaming file
    * sources order discovery by mtime — a rehearsal that stamps staged
    * files with strictly increasing, FIXED mtimes gets a deterministic
    * arrival order (hence byte-reproducible survivor sets) instead of
    * whatever sub-ms rename timing produced. */
  def setTimes(uri: String, mtimeMs: Long): Unit = {
    val p = new Path(uri); fs(p).setTimes(p, mtimeMs, -1L)
  }

  /** (length, mtime) — a cheap change fingerprint for memoizing parsed
    * sidecars keyed by path (legacy unversioned paths get rewritten in
    * place on rebuilds, so path alone is not a cache key). */
  def fileStamp(uri: String): (Long, Long) = {
    val p = new Path(uri); val st = fs(p).getFileStatus(p)
    (st.getLen, st.getModificationTime)
  }

  /** All FILE paths under `uri`, recursively (partitioned layouts nest
    * data under `col=value/` dirs). Missing dir = empty.
    *
    * Retries the WHOLE walk (bounded) when an entry vanishes between
    * the readdir and its stat — a writer's `_temporary` dir being
    * renamed away mid-walk surfaces as a FileNotFoundException from
    * the vanished dir's `listStatus` (or, where a status loads
    * permissions through `ls`, as a RuntimeException around its
    * ExitCodeException), and the
    * single-writer GUARD re-list ([[VersionedDir.commitGuarded]]) hits
    * exactly this when a contract-violating concurrent append is
    * committing: the retry walks the post-rename state, sees the
    * appended files, and lets the guard abort LOUDLY instead of
    * crashing with a permissions error (observed in the concurrency
    * rehearsal's deliberate append-during-major). Persistent failures
    * still throw. */
  def lsFilesRecursive(uri: String): Seq[String] =
    listFilesRelative(uri).map(_._2.getPath.toString)

  /** Every file under `uri`, recursively, as (path relative to `uri`,
    * status), sorted by path — the statuses a scan can be planned from
    * without listing again. Walks `listStatus` dir by dir: Hadoop's
    * `listFiles(root, true)` builds a LocatedFileStatus per file, and on
    * the local filesystem its permission load forks an `ls` process per
    * file (traced text_serving benchmark, 4 cores: median driver gap
    * per op 2.04 s with `listFiles`, 0.57 s with this walk). Missing
    * dir = empty; retries exactly like [[lsFilesRecursive]]. */
  def listFilesRelative(uri: String): Seq[(String, FileStatus)] = {
    val p = new Path(uri)
    val f = fs(p)
    def under(d: Path): Iterator[FileStatus] = f.listStatus(d).iterator
      .flatMap(st => if (st.isDirectory) under(st.getPath) else Iterator(st))
    def walk(): Seq[(String, FileStatus)] = {
      val prefix = f.makeQualified(p).toUri.getPath.stripSuffix("/") + "/"
      under(p).map { st =>
        val path = st.getPath.toUri.getPath
        require(path.startsWith(prefix), s"listing of $uri returned $path outside it")
        (path.substring(prefix.length), st)
      }.toSeq.sortBy(_._1)
    }
    if (!f.exists(p)) Nil
    else {
      var tries = 0
      while (true) {
        tries += 1
        try return walk()
        catch {
          // FileNotFoundException extends IOException, NOT
          // RuntimeException: a bare FNFE thrown by `listStatus` of a
          // dir that vanished mid-walk must match on its own type — a
          // RuntimeException-only clause would retry only the
          // message/cause-wrapped forms
          case e @ (_: java.io.FileNotFoundException | _: RuntimeException)
              if tries < 4 &&
              (e.isInstanceOf[java.io.FileNotFoundException] ||
                Option(e.getMessage).exists(_.contains("file permissions")) ||
                Option(e.getCause).exists(
                  _.isInstanceOf[java.io.FileNotFoundException])) =>
            if (!f.exists(p)) return Nil // the whole tree vanished
        }
      }
      Nil // unreachable
    }
  }

  /** Recursive byte size of a directory tree (`du`). */
  def du(uri: String): Long = {
    val p = new Path(uri); fs(p).getContentSummary(p).getLength
  }
}

object VFS {
  def apply(spark: org.apache.spark.sql.SparkSession): VFS =
    new VFS(spark.sparkContext.hadoopConfiguration)
  lazy val local: VFS = new VFS(new Configuration())
}
