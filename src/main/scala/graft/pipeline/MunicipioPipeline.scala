package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.idempotent.Idempotent
import graft.ingest.Ingest
import graft.normalize.Normalize
import graft.sinks.Sinks

/** End-to-end restatements of the reference's three entry points
  * (SURVEY.md §3) — the proof that a user of the reference can switch: same
  * inputs (extractor JSON + IBGE CSV), same transform semantics, same
  * idempotency contracts, expressed as one lazy Catalyst plan each.
  *
  *  - EP2 `run_pipeline_local` (pipeline.py:18-191): sanitize → normalize →
  *    enrich → coerce → delete-month-then-insert.
  *  - EP1 `processar_incremental_historico` (dags/etl_municipios.py:57-206):
  *    same spine, idempotency via anti-join against already-loaded keys.
  *  - EP3 `processar_json_para_csv` (dags/meu_pipeline.py:19-49): raw JSON →
  *    literal year + Portuguese month name → `;`-CSV staging, full-replace.
  */
object MunicipioPipeline {

  /** The shared EP1/EP2 transform spine (pipeline.py:61-141). */
  def transform(spark: SparkSession, jsonPath: String, ibgeCsvPath: Option[String],
                ano: Int, mes: Int): DataFrame = {
    val raw = Ingest.sanitizedJson(spark, jsonPath)
    // P1+P2+P3 (pipeline.py:64-85)
    val renamed = Normalize.renamePresent(
      Normalize.dropIfPresent(raw, "undefined"), Normalize.renameMap)
    // J1+O5 enrichment (pipeline.py:87-111): IBGE dim via fallback CSV,
    // NOME-or-last / COD-or-second column resolution, lower+trim key
    val enriched = ibgeCsvPath.filter(p => new java.io.File(p).exists()) match {
      case Some(path) =>
        val dim = Ingest.csvWithDelimiterFallback(spark, path)
        Enrich.withCodigoIbge(renamed, dim,
          col("municipio"),
          Normalize.columnOrPosition(dim, "NOME", dim.columns.length - 1),
          Normalize.columnOrPosition(dim, "COD", 1))
      case None =>
        renamed.withColumn("codigo_ibge", lit(0L))
    }
    // P6+F9 (pipeline.py:113-122) + F3-F6 coercion (pipeline.py:124-141) +
    // P4 allowlist (pipeline.py:178-186), all via the target schema conform
    val withPeriod = Normalize.withReferencePeriod(enriched, ano, mes)
    Normalize.conform(withPeriod, Normalize.municipioSchema)
  }

  /** EP2: delete-partition-then-insert into a parquet lake table (the
    * scalable analogue of pipeline.py:172-189's scoped DELETE + append).
    * Returns the rows written into the month's partition, counted by an
    * [[Observation]] in the write's own job: the lake is not read back. A
    * delivery with no records fails in [[Ingest.sanitizedJson]] before the
    * write, so the count is never a silent 0 over a month left as it was.
    */
  def runLocalLake(spark: SparkSession, jsonPath: String,
                   ibgeCsvPath: Option[String], ano: Int, mes: Int,
                   lakePath: String): Long = {
    val written = Observation()
    Idempotent.overwritePartitions(
      transform(spark, jsonPath, ibgeCsvPath, ano, mes)
        .observe(written, count(lit(1)).as("n")),
      lakePath, Seq("ano_ref", "mes_ref"))
    written.get("n").asInstanceOf[Long]
  }

  /** EP2, JDBC flavor: ensure DDL + scoped DELETE + append
    * (pipeline.py:144-189) against a real database.
    */
  def runLocalJdbc(spark: SparkSession, jsonPath: String,
                   ibgeCsvPath: Option[String], ano: Int, mes: Int,
                   url: String, table: String): Unit = {
    val df = Sinks.withAuditColumns(
      transform(spark, jsonPath, ibgeCsvPath, ano, mes))
    Sinks.jdbcDeleteInsert(df, url, table,
      s""""ano_ref" = $ano AND "mes_ref" = $mes""")
  }

  /** EP1: incremental append — only rows whose (municipio, ano_ref,
    * mes_ref) is not already in the lake land (dags/etl_municipios.py:
    * 116-154, including the early exit on empty delta).
    */
  def runIncremental(spark: SparkSession, jsonPath: String,
                     ibgeCsvPath: Option[String], ano: Int, mes: Int,
                     lakePath: String): Idempotent.LoadStats = {
    val df = transform(spark, jsonPath, ibgeCsvPath, ano, mes)
    Idempotent.incrementalAppend(spark, df, lakePath,
      Seq("municipio", "ano_ref", "mes_ref"))
  }

  /** EP3: raw JSON → `Ano_Ref` + Portuguese month-name `Mes_Ref` →
    * `;`-separated CSV staging file (dags/meu_pipeline.py:19-49). Fidelity
    * notes: no INF scrub, `undefined` kept, only the dotted-municipality
    * rename applied, month stays a NAME (the committed
    * consolidado_municipios_final.csv shape).
    */
  def runCsvStaging(spark: SparkSession, jsonPath: String, outDir: String,
                    ano: Int, mesNome: String = "Outubro"): DataFrame = {
    val raw = Ingest.sanitizedJson(spark, jsonPath) // superset of json.load
    val staged = Normalize.renamePresent(raw,
      Map("Geográfico.Município" -> "Município"))
      .withColumn("Ano_Ref", lit(ano))
      .withColumn("Mes_Ref", lit(mesNome))
    Sinks.csv(staged, outDir, sep = ";", single = true)
    staged
  }
}
