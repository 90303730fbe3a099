package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's synthetic TPC-H-ish tables (TESTDATA.md).
  *
  * All operator queries take a scale-factor directory and read the parquet
  * tables lazily so Catalyst can push filters/projections into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize the `ts` column to TIMESTAMP (session tz = UTC everywhere
    * in this engine) regardless of how the driver encoded it in parquet:
    * - nanosecond timestamps read as LongType under
    *   `spark.sql.legacy.parquet.nanosAsLong` → ns→µs floor division
    *   (`div`), matching DuckDB's `CAST(ts AS TIMESTAMP)` truncation;
    * - microsecond timestamps without a tz annotation, which Spark 4
    *   infers as TIMESTAMP_NTZ → value-preserving cast (session tz is
    *   UTC, so the naive value and the instant coincide — and DuckDB
    *   reads the same file as a naive timestamp, so oracles align).
    * Event-time operators (watermarks, unix_micros) require TIMESTAMP,
    * so this is the single choke point where both encodings converge.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }

  /** Read a table, with `ts` normalized to TIMESTAMP (see [[normalizeTs]]). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))

  /** Read a table as a file-source STREAM with the same ns→µs timestamp
    * normalization as [[load]] (the schema comes from a batch metadata
    * read; the file source needs a directory plus a glob). Keeping the
    * conversion here — the only other copy — means the ns-as-long contract
    * has exactly two sites that must agree, both in this file's Scaladoc.
    */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val rawSchema = spark.read.parquet(s"$dir/$name.parquet").schema
    normalizeTs(spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", s"$name.parquet")
      .parquet(dir))
  }

  /** Register every table as a temp view so `spark.sql` queries mirror the
    * DuckDB oracle SQL one-to-one (same table names, same ANSI SQL).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

/** Session factory with the settings this engine assumes everywhere:
  * UTC, AQE on, shuffle partitions sized to the local core count (not the
  * 200 default, which over-partitions local[32] runs — on a real cluster
  * this would instead be sized to ~2-3x total executor cores).
  */
object Sessions {
  /** Hadoop's `file:` filesystem, for both its APIs, with each file's mode
    * and link status set through `java.nio.file` instead of a `chmod` or
    * `readlink` process (see [[graft.fs.NioRawLocalFileSystem]]). Every
    * session this repo builds — [[builder]], Bench, Verify and the test
    * session — takes it.
    */
  val localFileSystem: Map[String, Any] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.fs.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.fs.NioLocalFs].getName)

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(spark)
    // live-session equivalent of the GraftExtensions wiring (idempotent;
    // the rule no-ops unless spark.graft.pairJoin.auto is enabled)
    graft.plans.AutoPairJoinHint.register(spark)
    spark
  }

  def builder(cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // r13: hold a whole session's generated classes (default 100 entries
      // thrashes across a 357-query registry; see OPTIMIZATION_r13.md)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config(localFileSystem)
    // measurement/deployment hook: extra session confs as "k=v;k2=v2"
    // (A/B-ing a conf without a rebuild — the §1 measure-first loop)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(b) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2)
        bb.config(k.trim, v.trim)
      }
  }
}
