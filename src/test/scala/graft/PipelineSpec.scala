package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.MunicipioPipeline

/** End-to-end pipeline fidelity over reference-shaped fixtures
  * (FIXTURES.md §A): the extractor JSON with quoted INF/NaN tokens and the
  * messy-header IBGE CSV, through each of the reference's three entry
  * points.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fixtureDir = {
    val dir = TestSpark.tmpDir("pipeline")
    Files.writeString(Paths.get(s"$dir/consolidado.json"),
      """{ "DS0": [
        |  { "undefined": 19.35,
        |    "Geográfico.Município": "Botucatu",
        |    "Grande Grupamento Atividade Econômica": "Agropecuária",
        |    "CNAE 2.0 Seção": "Agricultura",
        |    "Admitidos": 2, "Desligados": 0, "Saldo": 2, "Estoque": 45,
        |    "Variação Relativa": "INF", "Tempo de Emprego": "NaN" },
        |  { "Geográfico.Município": "  SÃO PAULO ", "Admitidos": 10,
        |    "Desligados": 4, "Saldo": 6, "Estoque": 100,
        |    "Variação Relativa": 0.0465, "Tempo de Emprego": 12.5 },
        |  { "Geográfico.Município": "Lugarnenhum", "Admitidos": 1 }
        |] }""".stripMargin)
    Files.writeString(Paths.get(s"$dir/de_para_ibge.csv"),
      "UF;COD;NOME\nSP;3507506;  botucatu\nSP;3550308;São Paulo\n")
    dir
  }

  test("EP2 transform: sanitize, rename, enrich, coerce to target schema") {
    val out = MunicipioPipeline.transform(spark, s"$fixtureDir/consolidado.json",
      Some(s"$fixtureDir/de_para_ibge.csv"), 2025, 10)
    assert(out.schema.fieldNames.toSeq ===
      graft.normalize.Normalize.municipioSchema.fieldNames.toSeq)
    val byMun = out.collect().map(r => r.getAs[String]("municipio") -> r).toMap
    assert(byMun.keySet === Set("Botucatu", "  SÃO PAULO ", "Lugarnenhum"))
    // enrichment: matched via lower+trim; unmatched falls back to 0
    assert(byMun("Botucatu").getAs[Long]("codigo_ibge") === 3507506L)
    assert(byMun("  SÃO PAULO ").getAs[Long]("codigo_ibge") === 3550308L)
    assert(byMun("Lugarnenhum").getAs[Long]("codigo_ibge") === 0L)
    // the quoted "INF"/"NaN" tokens became null then 0.0 (cast-or-null+fill)
    assert(byMun("Botucatu").getAs[Double]("variacao_relativa") === 0.0)
    assert(byMun("Botucatu").getAs[Double]("tempo_emprego") === 0.0)
    // missing columns materialize with defaults
    assert(byMun("Lugarnenhum").getAs[String]("cnae_secao") === "Indefinido")
    assert(byMun("Lugarnenhum").getAs[Long]("estoque") === 0L)
    // period literals
    assert(byMun("Botucatu").getAs[Long]("ano_ref") === 2025L)
    assert(byMun("Botucatu").getAs[java.sql.Date]("data_competencia").toString
      === "2025-10-01")
  }

  test("EP2 lake load: re-running the month replaces, never duplicates") {
    val lake = TestSpark.tmpDir("lake-ep2") + "/t"
    val json = s"$fixtureDir/consolidado.json"
    val n1 = MunicipioPipeline.runLocalLake(spark, json, None, 2025, 10, lake)
    val n2 = MunicipioPipeline.runLocalLake(spark, json, None, 2025, 10, lake)
    assert(n1 === 3 && n2 === 3)
    assert(spark.read.parquet(lake).count() === 3) // no duplicates
    // a different month lands alongside, untouched by later re-runs
    MunicipioPipeline.runLocalLake(spark, json, None, 2025, 11, lake)
    MunicipioPipeline.runLocalLake(spark, json, None, 2025, 10, lake)
    assert(spark.read.parquet(lake).count() === 6)
  }

  test("EP2 lake load: counts in the write's own jobs and never reads the lake") {
    val lake = TestSpark.tmpDir("lake-ep2-jobs") + "/t"
    val json = s"$fixtureDir/consolidado.json"
    // a first load, then a re-send of the same month
    val runs = Seq.fill(2)(TestSpark.activity(MunicipioPipeline.runLocalLake(
      spark, json, Some(s"$fixtureDir/de_para_ibge.csv"), 2025, 10, lake)))
    runs.zipWithIndex.foreach { case ((n, a), i) =>
      assert(n === 3L, s"run $i")
      // the dimension's broadcast and the write
      assert(a.jobs <= 2, s"run $i: $a")
      assert(a.scanned.exists(_.contains("consolidado.json")), s"run $i: $a")
      assert(!a.scanned.exists(_.contains(lake)), s"run $i read the lake: $a")
    }
  }

  test("EP2 lake load: a delivery with no records fails before any lake file changes") {
    val lake = TestSpark.tmpDir("lake-ep2-empty") + "/t"
    MunicipioPipeline.runLocalLake(spark, s"$fixtureDir/consolidado.json", None, 2025, 10, lake)
    val before = TestSpark.files(lake)
    val empty = TestSpark.tmpDir("empty-delivery") + "/empty.json"
    Files.writeString(Paths.get(empty), """{"DS0": []}""")
    val e = intercept[IllegalArgumentException](
      MunicipioPipeline.runLocalLake(spark, empty, None, 2025, 10, lake))
    assert(e.getMessage.contains(empty) && e.getMessage.contains("no records"), e.getMessage)
    assert(TestSpark.files(lake) === before)
  }

  test("EP1 incremental: second run loads zero rows (anti-join idempotency)") {
    val lake = TestSpark.tmpDir("lake-ep1") + "/t"
    val json = s"$fixtureDir/consolidado.json"
    val first = MunicipioPipeline.runIncremental(spark, json, None, 2025, 10, lake)
    assert(first.loaded === 3)
    val second = MunicipioPipeline.runIncremental(spark, json, None, 2025, 10, lake)
    assert(second === graft.idempotent.Idempotent.LoadStats(3, 3, 0))
  }

  test("EP2 JDBC: delete+insert against embedded Derby") {
    val url = s"jdbc:derby:${TestSpark.tmpDir("derby-ep2")}/db;create=true"
    val json = s"$fixtureDir/consolidado.json"
    MunicipioPipeline.runLocalJdbc(spark, json,
      Some(s"$fixtureDir/de_para_ibge.csv"), 2025, 10, url, "tb_municipios")
    MunicipioPipeline.runLocalJdbc(spark, json,
      Some(s"$fixtureDir/de_para_ibge.csv"), 2025, 10, url, "tb_municipios")
    val back = spark.read.jdbc(url, "tb_municipios", new java.util.Properties())
    assert(back.count() === 3) // re-run replaced, not duplicated
    assert(back.columns.contains("data_carga")) // audit column present
  }

  test("EP3 golden shape: ;-CSV with month-name Mes_Ref and kept raw headers") {
    val out = TestSpark.tmpDir("ep3-csv")
    val staged = MunicipioPipeline.runCsvStaging(spark,
      s"$fixtureDir/consolidado.json", out, 2025, "Outubro")
    assert(staged.columns.contains("undefined")) // EP3 keeps the artifact col
    assert(staged.columns.contains("Município")) // dotted name renamed
    assert(staged.columns.takeRight(2).toSeq === Seq("Ano_Ref", "Mes_Ref"))
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length === 1)
    val lines = Files.readAllLines(files.head.toPath)
    assert(lines.get(0).split(";").length === staged.columns.length)
    assert(lines.get(0).endsWith("Ano_Ref;Mes_Ref"))
    assert(lines.size() === 4) // header + 3 rows
    assert(lines.get(1).contains(";Outubro") || lines.get(1).endsWith("Outubro"))
  }
}
