package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's package-private partition discovery: the partition
  * schema `InMemoryFileIndex` infers for a root whose data files sit in
  * `leafDirs`, under the session's inference settings. Pure path parsing,
  * no file system call.
  */
object GraftPartitionDiscovery {
  def partitionSchema(spark: SparkSession, root: Path, leafDirs: Seq[Path]): StructType = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(leafDirs,
      conf.partitionColumnTypeInferenceEnabled, Set(root), None,
      conf.caseSensitiveAnalysis, conf.validatePartitionColumns,
      conf.sessionLocalTimeZone, conf.ignoreInvalidPartitionPaths).partitionColumns
  }
}
