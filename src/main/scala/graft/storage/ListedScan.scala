package graft.storage

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet scan planned from files the driver has ALREADY listed.
  * `spark.read.parquet(paths)` lists its paths again, and above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) it does
  * so with a Spark job of one task per path — a fixed cost per read
  * that dominates small probes. Here the statuses go straight into the
  * relation: no listing, no partition inference (the schema is given
  * and the files carry no partition columns), the same v1 parquet scan
  * (filter pushdown, column pruning, decryption through the session's
  * hadoop conf) as the path-based read. */
object ListedScan {

  def parquet(spark: SparkSession, roots: Seq[String], files: Seq[FileStatus],
      schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new Listed(roots.map(new Path(_)), files.sortBy(_.getPath.toString)),
      new StructType(), schema, None, new ParquetFileFormat, Map.empty)(spark))

  /** The fixed file set: one unpartitioned directory of all `files`. */
  private final class Listed(roots: Seq[Path], files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = roots
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.map(FileStatusWithMetadata(_))))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }
}
