package graft.table

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The file index of a skipping read: exactly the files the engine's
  * stats (and bloom) planning kept, with the statuses of the listing that
  * chose them, typed by the table version's schema. Given that schema,
  * scanning through it plans with zero Spark jobs — `spark.read.parquet(kept: _*)` would run
  * a schema-inference job per read and, above 32 paths, a second job that
  * lists the files it was just handed — and partition columns keep the
  * root read's types (inference over a kept subset can type a string
  * partition `p=1` as int). The Delta paper (VLDB 2020, §3.2) plans
  * reads the same way: file list and schema from the log, not from the
  * storage.
  *
  * Partition values parse from each file's `k=v` directories under
  * `root`; `listFiles` prunes them by the pushed partition filters (the
  * scan does not re-apply those), and ignores the data filters. Root
  * paths are the kept files themselves, never the table root:
  * [[graft.sql.MetadataOnlyAggregates]] answers a single-root scan of a
  * graft root from the log, which would be the whole table's answer.
  */
private[table] final class KeptFileIndex(root: String, files: Seq[FileStatus],
    val partitionSchema: StructType, zone: String, resolver: (String, String) => Boolean)
    extends FileIndex {

  private val partitions: Seq[PartitionDirectory] =
    files.groupBy(_.getPath.getParent.toString).toSeq.sortBy(_._1).map {
      case (dir, fs) =>
        val kv = KeptFileIndex.dirValues(root, dir)
        val values = partitionSchema.fields.map { f =>
          kv.collectFirst { case (k, v) if resolver(k, f.name) => v } match {
            case Some(v) if v != ExternalCatalogUtils.DEFAULT_PARTITION_NAME =>
              Cast(Literal(ExternalCatalogUtils.unescapePathName(v)),
                f.dataType, Some(zone)).eval()
            case _ => null
          }
        }
        PartitionDirectory(InternalRow.fromSeq(values.toSeq),
          fs.map(FileStatusWithMetadata(_)))
    }

  def rootPaths: Seq[org.apache.hadoop.fs.Path] = files.map(_.getPath)

  def listFiles(partitionFilters: Seq[Expression],
                dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      val bound = Predicate.createInterpreted(partitionFilters.reduce(And)
        .transform { case a: AttributeReference =>
          val i = partitionSchema.fieldNames.indexWhere(resolver(_, a.name))
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      partitions.filter(p => bound.eval(p.values))
    }

  def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  def refresh(): Unit = ()

  def sizeInBytes: Long = files.map(_.getLen).sum
}

private[table] object KeptFileIndex {
  /** The unescaped-name, raw-value `k=v` segments of `dir` below `root`. */
  private def dirValues(root: String, dir: String): Seq[(String, String)] =
    dir.stripPrefix(root).split('/').toSeq.filter(_.contains('=')).map { s =>
      val i = s.indexOf('=')
      (ExternalCatalogUtils.unescapePathName(s.take(i)), s.drop(i + 1))
    }

  /** A parquet scan of `files` (all under `root`) with the table schema
    * `schema`: the columns named by the files' partition directories
    * become the partition schema, in path order, and keep their types
    * from `schema`; the rest are the data schema.
    */
  def scan(spark: SparkSession, root: String, files: Seq[FileStatus],
           schema: StructType): DataFrame = {
    val resolver = spark.sessionState.conf.resolver
    val keys = files.map(_.getPath.getParent.toString).distinct
      .flatMap(d => dirValues(root, d).map(_._1)).distinct
    val partitionSchema = StructType(keys.map(k =>
      schema.find(f => resolver(f.name, k)).getOrElse(StructField(k, StringType))))
    val dataSchema = StructType(schema.filterNot(f => keys.exists(resolver(_, f.name))))
    val index = new KeptFileIndex(root, files, partitionSchema,
      spark.sessionState.conf.sessionLocalTimeZone, resolver)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }
}
