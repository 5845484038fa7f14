package org.apache.spark.sql.graftlake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** One parquet file a snapshot manifest names: its path as recorded,
  * its byte size, and its raw (still escaped) identity-partition
  * directory values in partition-schema order. */
final case class ManifestFile(path: String, size: Long, partValues: Seq[String])

/** A `FileIndex` whose files, sizes and partition values all come from
  * a snapshot manifest, the way Iceberg and Delta plan scans: planning
  * never lists storage and never starts a Spark listing job, however
  * many files the snapshot holds. Partition values are parsed exactly
  * as Spark's own hive-style inference does for a user-specified
  * schema (`__HIVE_DEFAULT_PARTITION__` is NULL, strings unescape, the
  * rest cast to the schema's type); pruning evaluates the partition
  * filters over those values. Equality is by file set, like
  * `InMemoryFileIndex`, so two reads of one snapshot share exchanges
  * and cache entries. Manifests record no modification times and no
  * block locations, so every file reports modification time 0
  * (`_metadata.file_modification_time` reads 1970-01-01 UTC) and
  * splits carry no locality hints. */
final class ManifestFileIndex(files: Seq[ManifestFile],
    override val partitionSchema: StructType, timeZoneId: String)
    extends FileIndex {

  private lazy val partitions: Seq[PartitionDirectory] = {
    val zone = DateTimeUtils.getZoneId(timeZoneId)
    val types = partitionSchema.fields.map(_.dataType)
    files.groupBy(_.partValues).toSeq.sortBy(_._2.head.path).map {
      case (raw, fs) =>
        PartitionDirectory(
          InternalRow.fromSeq(raw.zip(types).map { case (v, t) =>
            PartitioningUtils.castPartValueToDesiredType(t, v, zone) }),
          fs.map(f => FileStatusWithMetadata(
            new FileStatus(f.size, false, 0, 0L, 0L, new Path(f.path)))))
    }
  }

  override def rootPaths: Seq[Path] = files.map(f => new Path(f.path))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val names = partitionSchema.fieldNames
    val pruning = partitionFilters.filter(_.references.forall(a =>
      names.contains(a.name)))
    if (pruning.isEmpty) partitions
    else {
      val keep = Predicate.createInterpreted(pruning.reduce(And).transform {
        case a: AttributeReference =>
          val i = names.indexOf(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      partitions.filter(p => keep.eval(p.values))
    }
  }

  override def inputFiles: Array[String] =
    files.map(f => new Path(f.path).toUri.toString).toArray

  /** A snapshot's file set is immutable: nothing to refresh. */
  override def refresh(): Unit = ()

  override lazy val sizeInBytes: Long = files.map(_.size).sum

  private lazy val key = (files.map(_.path).toSet, partitionSchema)
  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => key == m.key
    case _ => false
  }
  override def hashCode: Int = key.hashCode

  override def toString: String =
    s"ManifestFileIndex(${files.size} files, $sizeInBytes bytes)"
}

object ManifestFileIndex {

  /** One parquet scan over `files` as a DataFrame: `schema`'s data
    * columns followed by `partitionCols` (Spark's file-source column
    * order), with `_metadata` and `input_file_name()` resolving
    * against every file. */
  def scan(spark: SparkSession, schema: StructType,
      partitionCols: Seq[String], files: Seq[ManifestFile]): DataFrame = {
    val session = spark.asInstanceOf[ClassicSession]
    val conf = session.sessionState.conf
    val partitionSchema = StructType(partitionCols.map(c =>
      schema.find(f => conf.resolver(f.name, c)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c is not in the schema"))))
    val dataSchema = StructType(schema.filterNot(partitionSchema.contains))
    val index = new ManifestFileIndex(files, partitionSchema,
      conf.sessionLocalTimeZone)
    val relation = HadoopFsRelation(index, partitionSchema,
      dataSchema.asNullable, None, new ParquetFileFormat, Map.empty)(session)
    ClassicDataset.ofRows(session, LogicalRelation(relation))
  }
}
