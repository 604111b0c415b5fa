package graft.store

import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.input.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetRecordReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  ParquetWriteSupport}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.StructType

/** Reads the parquet files of manifest leaves on the driver, with
  * Spark's own row reader and no Spark job. A batch-bounded read of a
  * few KB otherwise pays a job and a task slot, queued behind whatever
  * else the cluster runs, for bytes that end on the driver anyway.
  *
  * Each file is read by a `ParquetRecordReader` over Spark's
  * `ParquetReadSupport`, the row reader a scan task runs when the
  * vectorized reader is off, set up with the conf keys that
  * `ParquetFileFormat` sets before it builds that reader. So the
  * schema clipping (nested columns included), the type conversions and
  * the rows are Spark's. Nothing is broadcast and no block is stored.
  * The files are ones this library's stores wrote with Spark 4, whose
  * footers carry no legacy-calendar flag, so dates and timestamps read
  * with the rebase mode Spark derives for such a footer (CORRECTED).
  *
  * The leaves come listed (a [[ManifestFileIndex]]), so a caller can
  * bound what it reads by the listed file lengths before any file is
  * opened, and a leaf that vanished has already failed its listing. */
private[store] object DriverRead {

  /** Pass every row of `index`'s files to `each`, as rows of
    * `requested`: its fields are data columns, pruned to the nested
    * fields a caller needs, and partition columns of `index`, filled
    * from each leaf's values, in any order. Files are read one after
    * another and each is closed before the next opens, so memory is one
    * file's row group. The row passed in is reused: copy it to keep it. */
  def apply(spark: SparkSession, index: ManifestFileIndex,
      requested: StructType)(each: InternalRow => Unit): Unit = {
    val partitionSchema = index.partitionSchema
    val isPartition = partitionSchema.fieldNames.toSet
    val dataSchema = StructType(requested.filterNot(f => isPartition(f.name)))
    val conf = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, dataSchema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, dataSchema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    Seq(
      SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> sql.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE -> sql.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING -> sql.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> sql.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED ->
        sql.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> sql.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
        sql.parquetReaderRespectUnknownTypeAnnotation
    ).foreach { case (entry, value) => conf.setBoolean(entry.key, value) }
    val context = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))

    // a file's row joined with its leaf's values, projected to `requested`
    val joined = dataSchema ++ partitionSchema
    val project = UnsafeProjection.create(requested.map { f =>
      val i = joined.indexWhere(_.name == f.name)
      BoundReference(i, joined(i).dataType, nullable = true)
    })
    val row = new JoinedRow
    val rebase = RebaseSpec(LegacyBehaviorPolicy.CORRECTED)
    index.leaves.foreach { leaf =>
      leaf.files.foreach { file =>
        val reader = new ParquetRecordReader[InternalRow](new ParquetReadSupport(
          None, false, rebase, rebase))
        try {
          reader.initialize(new FileSplit(file.getPath, 0, file.getLen,
            Array.empty[String]), context)
          while (reader.nextKeyValue())
            each(project(row(reader.getCurrentValue, leaf.values)))
        } finally reader.close()
      }
    }
  }
}
