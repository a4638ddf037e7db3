package graft.table

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A Spark [[FileIndex]] over files the MANIFEST names — the Iceberg
  * scan-planning contract (the file list comes from table metadata,
  * never from listing a directory). Every file arrives with its length
  * and its partition-value row already decided, so planning a read
  * costs no filesystem call at all, and a read of any number of commits
  * is ONE relation: one Catalyst subtree, one FileScan, tasks packed
  * across every file.
  *
  * "Partition" values here are any per-file constants, not only hive
  * partition columns: the read path also declares the file's sequence
  * number and its manifest path as constant columns (the MoR delete
  * resolution and position-identity inputs), so a scan needs no
  * per-commit `lit(...)` and no union.
  *
  * `listFiles` prunes with Spark's own partition filters (the same
  * interpreted predicate `InMemoryFileIndex` evaluates).
  */
final class ManifestFileIndex(parts: Seq[PartitionDirectory],
                              override val partitionSchema: StructType)
    extends FileIndex {

  override lazy val rootPaths: Seq[HPath] =
    parts.flatMap(_.files.map(_.getPath))

  override def inputFiles: Array[String] =
    rootPaths.map(_.toUri.toString).toArray

  override lazy val sizeInBytes: Long =
    parts.iterator.flatMap(_.files).map(_.getLen).sum

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val names = partitionSchema.fieldNames.map(_.toLowerCase).toSeq
    val usable = partitionFilters.filter(
      _.references.forall(a => names.contains(a.name.toLowerCase)))
    if (usable.isEmpty) parts
    else {
      val bound = Predicate.createInterpreted(usable.reduce(And).transform {
        case a: AttributeReference =>
          val i = names.indexOf(a.name.toLowerCase)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      parts.filter(p => bound.eval(p.values))
    }
  }
}

object ManifestFileIndex {

  /** One file of a scan: absolute local path, length in bytes, and its
    * constant-column values in `partitionSchema` order (Catalyst
    * internal values — see [[partitionValue]]).
    */
  final case class Entry(path: String, bytes: Long, values: Seq[Any])

  /** A DataFrame over `files` read as parquet under `dataSchema`, with
    * `partitionSchema`'s columns supplied per file from [[Entry.values]].
    * Output order is `dataSchema` then `partitionSchema`; the parquet
    * `_metadata` hidden column (file path, row index) is available.
    */
  def scan(spark: SparkSession, files: Seq[Entry], dataSchema: StructType,
           partitionSchema: StructType): DataFrame = {
    val parts = files.groupBy(_.values).toSeq.map { case (values, fs) =>
      PartitionDirectory(InternalRow.fromSeq(values),
        fs.map(f => FileStatusWithMetadata(new FileStatus(f.bytes, false,
          0, 0L, 0L, hadoopPath(f.path)))))
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(parts, partitionSchema), partitionSchema,
      GraftBridge.asNullable(dataSchema), None, new ParquetFileFormat, Map.empty)(spark))
  }

  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  private def hadoopPath(path: String): HPath =
    new HPath(java.nio.file.Paths.get(path).toUri)

  /** A manifest partition value (already unescaped) as the Catalyst
    * value of `dt`: the hive null sentinel reads NULL, strings pass
    * through verbatim, everything else casts in the SESSION time zone —
    * the zone the writer formatted timestamp directory names in, and
    * the one Spark's own partition discovery parses them back with.
    */
  def partitionValue(raw: String, dt: DataType, timeZone: String): Any =
    if (raw == null || StatsPruning.isNullPartitionValue(raw)) null
    else dt match {
      case StringType => UTF8String.fromString(raw)
      case _ => Cast(Literal(raw), dt, Some(timeZone)).eval()
    }

  /** The Spark schema a parquet file's footer records — one footer read
    * on the driver, no Spark job (schema inference would launch one).
    */
  def footerSchema(path: String): StructType = {
    val conf = footerConf
    val hp = hadoopPath(path)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, conf))
    try ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(hp, reader.getFooter),
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(
          org.apache.spark.sql.internal.SQLConf.get))
    finally reader.close()
  }
}
