package graft.sources

import java.io.DataOutput

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Spark's Parquet source, with a cheaper per-scan conf broadcast.
  *
  * `ParquetFileFormat.buildReaderWithPartitionValues` broadcasts the
  * scan's whole Hadoop conf (~1,100 entries) once per scan, and
  * `Configuration.write` spends most of that broadcast writing each
  * entry's source array through a fresh `GZIPOutputStream`. This format
  * hands Spark's own reader a [[LeanConf]] copy instead; reading, filter
  * pushdown, vectorization and the plan are Spark's.
  *
  * `ParquetFileFormat.equals` is `isInstanceOf[ParquetFileFormat]`, so a
  * plan over this format is equal to (and `sameResult` with) the same
  * plan over Spark's; for the same reason a plan rule cannot swap the
  * format in (the rewritten node equals the old one and is discarded),
  * and tables read through it by name:
  * `spark.read.format(classOf[GraftParquet].getName)`.
  */
class GraftParquet extends ParquetFileFormat {
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession, dataSchema,
      partitionSchema, requiredSchema, filters, options, new LeanConf(hadoopConf))
}

/** A copy of `other` that serializes without the per-entry source
  * records. It writes `Configuration.write`'s own layout (a vint count,
  * then a `Text` key, a `Text` value and a source array per entry) with
  * every source array null, so `Configuration.readFields` rebuilds the
  * same key→value map. Sources only feed `getPropertySources`
  * (diagnostics); on a local master a task reads this object itself.
  */
private[graft] class LeanConf(other: Configuration) extends Configuration(other) {
  override def write(out: DataOutput): Unit = {
    val props = getProps
    WritableUtils.writeVInt(out, props.size)
    props.forEach { (k, v) =>
      Text.writeString(out, k.asInstanceOf[String])
      Text.writeString(out, v.asInstanceOf[String])
      WritableUtils.writeCompressedStringArray(out, null)
    }
  }
}
