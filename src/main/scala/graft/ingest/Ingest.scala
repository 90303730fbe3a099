package graft.ingest

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.{Literal, SchemaOfJson}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources (SURVEY.md §2.1). Spark-first restatements of the reference's
  * ingestion surface:
  *
  *  - S1 sanitizing JSON reader ("Leitura Blindada", pipeline.py:41-49):
  *    scrub quoted `"INF"`, `"-INF"`, `"NaN"` tokens to JSON null before
  *    parsing, because a BI extractor emits them as strings inside numeric
  *    fields.
  *  - S2 nested-JSON unwrap (pipeline.py:51-52): if the document's top level
  *    is an object, the record list lives under its first key.
  *  - S4 CSV delimiter fallback (pipeline.py:90-94): try `;`, and if the
  *    result collapses to a single column re-read with `,`.
  *  - S7 empty-relation fallback (dags/etl_municipios.py:123-125): on source
  *    failure, return an empty frame with an explicit schema so downstream
  *    joins still resolve.
  *  - S8 newest-file pick (dags/etl_municipios.py:64-69).
  *
  * All readers return lazy DataFrames and run no query at call time: no
  * SQL execution, so no Spark job. What they need eagerly — the file
  * listing, the JSON reader's sample document, the CSV reader's header
  * line — is read on the driver through the Hadoop `FileSystem`, and the
  * schema is derived from it by evaluating Spark's own inference code
  * directly (the `schema_of_json` expression; the CSV tokenizer and
  * safe-header rule), without planning a query.
  */
object Ingest {

  /** The quoted non-numeric tokens S1 scrubs to null. Quoted-string tokens
    * only: bare NaN/Infinity literals are already handled by the JSON
    * parser's allowNonNumericNumbers; the reference's extractor quotes them.
    */
  private val NonNumeric = "\"(-?INF|NaN)\""

  /** The files a scan of `df` reads, largest first. Spark packs the files
    * of a scan into read partitions largest first, so the head of this
    * list is the file a `head()` over the scan returns. Equal sizes break
    * by path. Driver-side metadata only.
    */
  private def largestFirst(spark: SparkSession, df: DataFrame): Seq[Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    df.inputFiles.toSeq
      .map { f => val p = new Path(new URI(f)); p.getFileSystem(conf).getFileStatus(p) }
      .sortBy(s => (-s.getLen, s.getPath.toString))
      .map(_.getPath)
  }

  /** Open `file` on the driver, decompressing by extension as Spark's
    * text readers do.
    */
  private def open(spark: SparkSession, file: Path): InputStream = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = file.getFileSystem(conf).open(file)
    Option(new CompressionCodecFactory(conf).getCodec(file))
      .fold[InputStream](in)(_.createInputStream(in))
  }

  /** S1+S2+S3: read a JSON document file, scrub non-numeric numeric tokens,
    * unwrap the record array, and return one row per record.
    *
    * Implementation is `spark.read.text` (wholetext) -> `regexp_replace` ->
    * `from_json` -> `explode`, so the sanitize step runs as a Catalyst
    * expression rather than a driver-side string pass: on a large landing
    * directory each file is scrubbed/parsed inside executors.
    *
    * The generator takes the parse expression itself, not a column that
    * aliases it. Over an attribute input, Spark's `InferFiltersFromGenerate`
    * adds `size(records) > 0 AND isnotnull(records)` below the generator,
    * and the alias is then substituted into that filter, so every document
    * would be scrubbed and parsed twice: once in the filter and once in the
    * projection. The rule skips non-attribute inputs. Rows are the same
    * either way: `explode` emits nothing for a null or empty array.
    *
    * Unless `recordSchema` is given, the record schema is inferred from one
    * sample document, the largest file (the one a `head()` over the scan
    * would return): it is read and scrubbed on the driver, unwrapped with
    * Jackson, and the `schema_of_json` expression is evaluated over the
    * record array. No query runs before the caller's own action. A sample
    * document with no records fails: there is nothing to infer from.
    */
  def sanitizedJson(spark: SparkSession, path: String,
                    recordSchema: Option[StructType] = None): DataFrame = {
    import spark.implicits._
    val raw = spark.read.option("wholetext", "true").text(path)
    val cleaned = raw.select(
      regexp_replace($"value", NonNumeric, "null").as("value"))

    val elementSchema = recordSchema.getOrElse {
      // Unwrap: top-level object → first key's array; top-level array → itself.
      val sample = largestFirst(spark, raw).headOption.getOrElse(
        throw new NoSuchElementException(s"no JSON document under $path"))
      val in = open(spark, sample)
      val sampled = try new String(in.readAllBytes(), UTF_8) finally in.close()
      val tree = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(sampled.replaceAll(NonNumeric, "null"))
      val records = if (tree.isObject) tree.get(tree.fieldNames().next()) else tree
      if (records.isArray && records.isEmpty) throw new IllegalArgumentException(
        s"$sample holds no records: cannot infer a record schema")
      val ddl = SchemaOfJson(Literal(records.toString), Map.empty).eval().toString
      DataType.fromDDL(ddl) match {
        case ArrayType(s: StructType, _) => s
        case s: StructType               => s
        case other => throw new IllegalArgumentException(
          s"cannot infer record schema from $other")
      }
    }

    val unwrapExpr =
      when($"value".rlike("^\\s*\\["), $"value")
        .otherwise(regexp_replace(regexp_replace(
          $"value", "^\\s*\\{\\s*\"[^\"]*\"\\s*:", ""), "\\}\\s*$", ""))

    cleaned
      .select(explode(from_json(unwrapExpr, ArrayType(elementSchema))).as("r"))
      .select($"r.*")
  }

  /** S4: CSV read with `;` first and a fallback to `,` when the header
    * collapses to a single column.
    *
    * The decision reads only the header: the first line with a non-space
    * character of the largest file (the line Spark's own header inference
    * takes), read on the driver with a UTF-8 BOM stripped as Hadoop's line
    * reader does. Its schema is derived on the driver with no query
    * ([[headerSchema]]); the file is then read once with that schema.
    */
  def csvWithDelimiterFallback(spark: SparkSession, path: String,
                               header: Boolean = true): DataFrame = {
    def options(sep: String) =
      Map("sep" -> sep, "header" -> header.toString, "mode" -> "PERMISSIVE")
    def read(sep: String, schema: StructType) =
      spark.read.options(options(sep)).schema(schema).csv(path)
    firstLine(spark, path) match {
      case Some(line) =>
        val semi = headerSchema(spark, options(";"), line)
        if (semi.length > 1) read(";", semi)
        else read(",", headerSchema(spark, options(","), line))
      case None => spark.read.options(options(",")).csv(path) // nothing to sniff or read
    }
  }

  /** The schema `spark.read.options(options).csv(Seq(line).toDS())` gives a
    * `line` holding a non-space character when schema inference is off,
    * derived the way that reader derives it but without its query: the line
    * is tokenized by Spark's CSV parser settings for `options`, the tokens
    * are named by `CSVUtils.makeSafeHeader` (positional `_c<i>` names
    * without a header; with one, an empty name becomes `_c<i>` and a
    * duplicate gets its index appended), and every field is a nullable
    * string. A line the parser returns no tokens for gives the empty schema.
    */
  private def headerSchema(spark: SparkSession, options: Map[String, String],
                           line: String): StructType = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val opts = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    Option(new CsvParser(opts.asParserSettings).parseLine(line)).fold(new StructType()) {
      tokens => StructType(CSVUtils.makeSafeHeader(tokens, conf.caseSensitiveAnalysis, opts)
        .map(StructField(_, StringType)))
    }
  }

  /** The first line holding a non-space character across the files under
    * `path`, largest file first.
    */
  private def firstLine(spark: SparkSession, path: String): Option[String] =
    largestFirst(spark, spark.read.text(path)).iterator.flatMap { file =>
      val lines = new BufferedReader(new InputStreamReader(open(spark, file), UTF_8))
      try Iterator.continually(lines.readLine()).takeWhile(_ != null)
        .zipWithIndex.map { case (l, i) => if (i == 0) l.stripPrefix("\uFEFF") else l }
        .find(_.exists(_ != ' '))
      finally lines.close()
    }.nextOption()

  /** S5: plain `;`-separated CSV (dags/meu_pipeline.py:55). */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", ";").option("header", "true").csv(path)

  /** S6: JDBC source with full query pushdown — the SQL string executes
    * database-side (dags/etl_municipios.py:121-122's
    * `SELECT DISTINCT municipio, ano_ref, mes_ref`), so projection +
    * distinct never cross the wire unaggregated.
    */
  def jdbcQuery(spark: SparkSession, url: String, sql: String,
                props: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format("jdbc")
      .option("url", url).option("query", sql)
    props.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  /** Lake-format matrix, read side: ORC — Spark's second native columnar
    * format (same predicate-pushdown / column-pruning / vectorized-read
    * contract as parquet, warehouse ecosystems that standardized on ORC
    * read it in place). q230 hash-gates the full ORC write→read loop
    * against the events identity oracle.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S7: empty relation with an explicit schema, used as the graceful
    * fallback when a history/source read fails so that downstream anti-joins
    * still type-check (the reference's "V22 fix" shape).
    */
  def emptyWithSchema(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** S8: newest file in a directory matching a glob, by modification time.
    * Driver-side Hadoop FS metadata only — no data read.
    */
  def newestFile(spark: SparkSession, globPath: String): Option[String] = {
    val path = new Path(globPath)
    val fs = FileSystem.get(path.toUri, spark.sparkContext.hadoopConfiguration)
    val statuses = fs.globStatus(path)
    if (statuses == null || statuses.isEmpty) None
    else Some(statuses.maxBy(_.getModificationTime).getPath.toString)
  }

  /** Read with graceful degradation: on any failure return the empty-schema
    * fallback (dags/etl_municipios.py:123-125 semantics).
    */
  def orEmpty(spark: SparkSession, schema: StructType)(
      read: => DataFrame): DataFrame =
    try read catch { case scala.util.control.NonFatal(_) =>
      emptyWithSchema(spark, schema) }
}
