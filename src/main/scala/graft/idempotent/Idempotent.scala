package graft.idempotent

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.graftbridge.ListingBridge
import org.apache.spark.sql.{classic, Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Idempotent-load operators (SURVEY.md §2.4 J2/J3, §2.2 K4, §2.10 O4).
  *
  * The reference has two idempotency flavors:
  *  1. incremental anti-join against already-loaded keys
  *     (dags/etl_municipios.py:116-150, the "V22" DAG), and
  *  2. delete-partition-then-insert (pipeline.py:172-189).
  *
  * Spark-first restatements:
  *  1. `left_anti` join; history side is just the key projection, which
  *     Catalyst prunes to the key columns at the scan.
  *  2. dynamic partition overwrite on a lake table partitioned by the same
  *     keys the reference DELETEs by — a metadata-level swap instead of a
  *     row-level delete, which is the scalable equivalent at 100 TB.
  */
object Idempotent {

  /** Cardinality report of an incremental load (dags/etl_municipios.py:144-150). */
  final case class LoadStats(received: Long, ignored: Long, loaded: Long)

  /** J2: rows of `incoming` whose key tuple is absent from `history`. */
  def newRows(incoming: DataFrame, history: DataFrame,
              keys: Seq[String]): DataFrame = {
    // Defensive key-cast parity (the reference's "V22 fix",
    // dags/etl_municipios.py:127-133): align history key types to incoming's.
    val incomingTypes = incoming.select(keys.map(col): _*).schema
      .fields.map(f => f.name -> f.dataType).toMap
    val alignedHistory = history.select(
      keys.map(k => col(k).try_cast(incomingTypes(k).sql).as(k)): _*)
    incoming.join(alignedHistory, keys, "left_anti")
  }

  /** J2+O4+K1: full incremental append into a parquet lake table. Returns
    * the received/ignored/loaded counts; skips the write when nothing is new
    * (dags/etl_municipios.py:152-154).
    *
    * The delivery is scanned once: the delta is cached, and the noop write
    * that materializes it also fills two [[Observation]]s, `received` on
    * `incoming` and `loaded` on the anti-join output; the append then reads
    * the cache. An append of zero rows would still write an empty part
    * file, so a re-send touches no file.
    *
    * History is the lake's key projection without `distinct()`: a left-anti
    * join's result does not depend on duplicate build keys, so a distinct
    * would only add a shuffle (and an adaptive re-plan) before the
    * broadcast. The lake is read with the schema of one footer, taken on
    * the driver ([[footerSchema]]), so the read starts no schema job.
    *
    * Only a table that does not exist yet — a missing path, or a directory
    * with no visible entry, as an aborted first write leaves it — counts
    * as empty history. Any other read failure propagates: treating it as
    * empty would re-append every row of the delivery. (The reference
    * swallowed every error of its history query, dags/etl_municipios.py:
    * 123-125.)
    */
  def incrementalAppend(spark: SparkSession, incoming: DataFrame,
                        tablePath: String, keys: Seq[String]): LoadStats = {
    val path = new Path(tablePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(path) && fs.listStatus(path).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val history =
      if (exists) footerSchema(spark, fs, path).fold(spark.read)(spark.read.schema)
        .parquet(tablePath).select(keys.map(col): _*)
      else graft.ingest.Ingest.emptyWithSchema(
        spark, incoming.select(keys.map(col): _*).schema)
    val received = Observation()
    val loaded = Observation()
    val fresh = newRows(incoming.observe(received, count(lit(1)).as("n")),
      history, keys).observe(loaded, count(lit(1)).as("n"))
    fresh.cache()
    try {
      fresh.write.format("noop").mode(SaveMode.Overwrite).save()
      // an input the optimizer proves empty loses its observed node and
      // reports no metric
      def n(o: Observation) = o.get.getOrElse("n", 0L).asInstanceOf[Long]
      if (n(loaded) > 0) fresh.write.mode(SaveMode.Append).parquet(tablePath)
      LoadStats(n(received), n(received) - n(loaded), n(loaded))
    } finally fresh.unpersist()
  }

  /** The data schema `spark.read.parquet(path)` infers when schemas are not
    * merged, without the Spark job that inference runs. Like
    * `ParquetUtils.inferSchema`, it reads one footer: `_common_metadata`,
    * else `_metadata`, else the first data file by path, among the files
    * Spark's listing keeps (hidden names and `_temporary` skipped). The
    * footer's Spark schema is taken if it has one, else the Parquet schema is
    * converted with the session's settings, as that inference does; the
    * footer is read on the driver. Partition columns are not in the
    * footer: a read given this schema still discovers them from the
    * directory names. `None` when the session merges schemas or no file
    * qualifies; the caller's read then infers as before (and fails the same
    * way on a lake with no data file).
    */
  private def footerSchema(spark: SparkSession, fs: FileSystem,
                           path: Path): Option[StructType] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.conf
    def leaves(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq
      .filterNot(s => ListingBridge.skipped(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
    val summaries = Seq("_common_metadata", "_metadata")
    def sample: Option[FileStatus] = {
      val files = leaves(path).sortBy(_.getPath.toString)
      (summaries.flatMap(n => files.find(_.getPath.getName == n)) ++
        files.filterNot(f => summaries.contains(f.getPath.getName))).headOption
    }
    (if (conf.isParquetSchemaMergingEnabled) None else sample).map { file =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, state.newHadoopConf()), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
        new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
    }
  }

  /** K4: delete-partition-then-insert ≡ dynamic partition overwrite. Only
    * the partitions present in `df` are replaced; everything else is
    * untouched — the exact semantics of the reference's scoped DELETE
    * (pipeline.py:174-176) without a full-table rewrite. The mode is a
    * per-write option, so the session's own setting is never touched.
    */
  def overwritePartitions(df: DataFrame, tablePath: String,
                          partitionKeys: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionKeys: _*)
      .parquet(tablePath)

  /** §2.6 engine-native generalization: dedup-to-latest — keep, per key, the
    * newest row by `orderCols` (descending, with a deterministic tiebreak).
    * This is the windowed restatement of the reference's "skip already-loaded,
    * newest file wins" semantics.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String],
                   orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col(_).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Apply a change-data-capture log to produce final table state — the
    * lakehouse MERGE a CDC stream (Debezium-style I/U/D rows with a
    * per-key sequence) resolves to: the LAST operation per key wins
    * (row_number over seq desc, [[latestPerKey]]'s machinery), and a
    * final delete drops the key entirely. `deleteOp` rows need no
    * payload. Returns one row per surviving key with the payload
    * columns.
    *
    * `seq` must totally order each key's operations (a log sequence
    * number / LSN — CDC's own contract); the window partition is one
    * key's operation history, so per-task memory is bounded by the
    * hottest key's churn, not the log. One shuffle on the key.
    */
  def applyCdc(log: DataFrame, keyCols: Seq[String], seq: Column,
               op: Column, payloadCols: Seq[String],
               deleteOp: String = "D"): DataFrame = {
    require(payloadCols.nonEmpty, "applyCdc needs payload columns")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(seq.desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && op =!= deleteOp)
      .select(keyCols.map(col) ++ payloadCols.map(col): _*)
  }

  /** Incremental aggregate maintenance: fold a delta's partial aggregates
    * into a running state table — the warehouse refresh that reprocesses
    * one day's partition instead of the full history. Only valid for
    * re-aggregatable measures (counts, sums — store averages as
    * sum + count); with DECIMAL accumulators the merge is EXACTLY equal to
    * a full recompute (the law the q83 oracle pins by computing the direct
    * aggregation over all data).
    *
    * Cost: shuffles |state| + |delta| GROUPED rows — one row per key, not
    * per event — so a daily refresh over years of history moves megabytes,
    * not the 100 TB fact table.
    */
  def mergeAggState(state: DataFrame, delta: DataFrame, keys: Seq[String],
                    measures: Seq[String]): DataFrame = {
    require(measures.nonEmpty, "mergeAggState needs at least one measure")
    state.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col(measures.head)).as(measures.head),
        measures.tail.map(c => sum(col(c)).as(c)): _*)
  }
}
