package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY.md §2.2 K1-K6).
  *
  * The reference writes to Postgres via pandas `to_sql` (append / replace,
  * pipeline.py:188-189, dags/meu_pipeline.py:62-63) and to versioned local
  * CSVs with a keep-newest-5 retention policy (pipeline_manual.py:16-28).
  *
  * JDBC paths are expressed through Spark's JDBC writer so they distribute;
  * the lake-native path (parquet partitioned by the reference's DELETE keys)
  * is the scale-out default. Audit columns (`id` SERIAL, `data_carga`
  * TIMESTAMP DEFAULT now — pipeline.py:167-169) become engine-side
  * expressions.
  */
object Sinks {

  /** K3 audit columns: surrogate id + load timestamp. At 100 TB a global
    * sequential id would serialize the write, so the SERIAL semantics become
    * `monotonically_increasing_id` (unique, monotone per partition).
    */
  def withAuditColumns(df: DataFrame): DataFrame = df
    .withColumn("id", monotonically_increasing_id())
    .withColumn("data_carga", current_timestamp())

  /** K1: JDBC append. */
  def jdbcAppend(df: DataFrame, url: String, table: String,
                 props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  /** K2: JDBC full replace (`if_exists="replace"`). `truncate` keeps DDL. */
  def jdbcReplace(df: DataFrame, url: String, table: String,
                  props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(SaveMode.Overwrite).option("truncate", "true")
      .jdbc(url, table, props)

  /** K4 JDBC flavor: driver-side scoped DELETE in a transaction, then a
    * distributed append — the reference's delete+insert idempotency
    * (pipeline.py:172-189) for sinks without partition overwrite.
    */
  def jdbcDeleteInsert(df: DataFrame, url: String, table: String,
                       deleteWhere: String,
                       props: java.util.Properties = new java.util.Properties()): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // K3 ensure-table spirit: on the very first load the table doesn't
      // exist yet (the reference's CREATE TABLE IF NOT EXISTS runs first,
      // pipeline.py:147-173); the writer below creates it, so only DELETE
      // when it's already there.
      val meta = conn.getMetaData
      val exists = Seq(table, table.toUpperCase, table.toLowerCase).exists { t =>
        val rs = meta.getTables(null, null, t, null)
        try rs.next() finally rs.close()
      }
      if (exists) {
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        st.executeUpdate(s"DELETE FROM $table WHERE $deleteWhere")
        conn.commit()
      }
    } finally conn.close()
    jdbcAppend(df, url, table, props)
  }

  /** K5: `;`-separated CSV (pipeline_manual.py:125). `single=true` coalesces
    * to one file for small exports only — never on the 100 TB path.
    */
  def csv(df: DataFrame, path: String, sep: String = ";",
          single: Boolean = false): Unit = {
    val out = if (single) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite)
      .option("sep", sep).option("header", "true").csv(path)
  }

  /** K6: versioned sink with retention — write
    * `<dir>/<prefix>_yyyyMMdd_HHmmss`, then delete oldest siblings until at
    * most `keep` remain (pipeline_manual.py:16-28: keep newest 5). Retention
    * is driver-side FS metadata work.
    */
  /** Lake-format matrix, write side: ORC (see `Ingest.orc`). */
  def orcWrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def versionedCsv(df: DataFrame, dir: String, prefix: String = "analise",
                   keep: Int = 5, sep: String = ";"): String = {
    val stamp = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
      .format(new java.util.Date())
    val target = s"$dir/${prefix}_$stamp"
    csv(df, target, sep, single = true)
    val base = new Path(dir)
    val fs = FileSystem.get(base.toUri,
      df.sparkSession.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(base)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix + "_"))
      .sortBy(_.getPath.getName) // timestamped names sort chronologically
    versions.dropRight(keep).foreach(s => fs.delete(s.getPath, true))
    target
  }

  /** Lake-table writer: parquet partitioned by the reference-period keys the
    * reference DELETEs by — enables partition pruning on `ano_ref`/`mes_ref`
    * filters and K4's metadata-level overwrite.
    */
  def lakeAppend(df: DataFrame, path: String,
                 partitionKeys: Seq[String] = Seq("ano_ref", "mes_ref")): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionKeys: _*).parquet(path)

  /** Columnar-format sinks beyond parquet: ORC (splittable, predicate-
    * pushdown-capable — the alternative lake format) and JSON-lines (the
    * interchange format the reference's extractor emits).
    */
  def orc(df: DataFrame, path: String,
          partitionKeys: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionKeys.nonEmpty) w.partitionBy(partitionKeys: _*) else w).orc(path)
  }

  def jsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Bucketed table write: pre-shuffle rows into `nBuckets` hash buckets on
    * `bucketCols` (optionally sorted within buckets) so later joins and
    * aggregations on those keys read co-located data and plan WITHOUT a
    * shuffle exchange. At 100 TB this is how repeated fact-to-fact joins on
    * the same key amortize their shuffle: pay it once at write time.
    * (ScaleOpsSpec asserts the exchange-free plan.)
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }

  /** Land ONE batch's rows into a bucketed, batch-partitioned EXTERNAL
    * table, creating it on first use — the append-only claims-log
    * landing ([[writeBucketed]]'s incremental sibling): the table is
    * hash-bucketed on `bucketCols` (sorted within buckets), partitioned
    * by `partitionCol`, and each call OVERWRITES exactly the partitions
    * present in `df` (dynamic partition overwrite — a redelivered batch
    * rewrites its own partition from unmutated inputs, never truncates
    * the table). Because every landed partition shares the table's one
    * bucket spec, readers get the bucket-aligned scan across ALL
    * partitions: joins and aggregations on the bucket key plan with NO
    * exchange on this table's leg — at 10¹¹ frontier keys, that is the
    * difference between shuffling the frontier every micro-batch and
    * never shuffling it at all.
    */
  def landBucketedPartition(df: DataFrame, table: String, path: String,
                            bucketCols: Seq[String], nBuckets: Int,
                            partitionCol: String): Unit = landLock.synchronized {
    val s = df.sparkSession
    var firstLanding = false
    if (!s.catalog.tableExists(table)) {
      // RESTART RECOVERY (round-12, ADVICE): with the default in-memory
      // catalog a JVM restart forgets the registration while the landed
      // partitions survive on disk — a CTAS into the non-empty location
      // would then fail (or, under the legacy conf, silently truncate
      // the whole log). Register the table OVER the existing location
      // instead (external DDL, no AS SELECT), recover its partitions,
      // and fall through to the normal insert.
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val p = new org.apache.hadoop.fs.Path(path)
      val nonEmpty = fs.exists(p) && fs.listStatus(p).nonEmpty
      if (nonEmpty) {
        val dataCols = df.schema.fields.filter(_.name != partitionCol)
        val pType = df.schema(partitionCol).dataType.sql
        val colsDdl = (dataCols.map(f => s"`${f.name}` ${f.dataType.sql}") :+
          s"`$partitionCol` $pType").mkString(", ")
        val sortDdl = bucketCols.map(c => s"`$c`").mkString(", ")
        s.sql(
          s"""CREATE TABLE `$table` ($colsDdl) USING parquet
             |OPTIONS (partitionOverwriteMode 'dynamic')
             |PARTITIONED BY (`$partitionCol`)
             |CLUSTERED BY ($sortDdl) SORTED BY ($sortDdl)
             |INTO $nBuckets BUCKETS
             |LOCATION '$path'""".stripMargin)
        s.catalog.recoverPartitions(table)
      } else {
        df.write.format("parquet").option("path", path)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCol)
          .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
          .sortBy(bucketCols.head, bucketCols.tail: _*)
          .mode(SaveMode.Overwrite).saveAsTable(table)
        firstLanding = true
      }
    }
    if (!firstLanding) {
      // positional insert: align to the catalog's column order (data
      // columns first, partition column last)
      val cols = s.table(table).columns
        .map(org.apache.spark.sql.functions.col(_))
      // dynamic overwrite comes from the TABLE's partitionOverwriteMode
      // option (set at creation above): insertInto ignores a per-write
      // option — found by q332's gate losing every prior batch's
      // partition to a static truncate — but honours a table option.
      df.select(cols.toIndexedSeq: _*).write.mode(SaveMode.Overwrite)
        .insertInto(table)
    }
  }

  /** Serializes [[landBucketedPartition]], for its check-and-create: two
    * landings that both see no table would otherwise both create it (the
    * loser's CTAS fails on the existing table or location). JVM-wide is a
    * conservative superset of catalog-scoped.
    */
  private val landLock = new Object
}
