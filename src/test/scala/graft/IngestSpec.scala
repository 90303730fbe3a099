package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Ingest

class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def write(path: String, content: String): Unit =
    Files.writeString(Paths.get(path), content)

  /** WARN-or-worse log messages emitted while `body` runs. */
  private def warningsDuring[A](body: => A): (A, Seq[String]) = {
    val seen = mutable.ArrayBuffer[String]()
    val appender = new AbstractAppender("ingest-spec-warnings", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) seen.synchronized {
          seen += s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}"
        }
    }
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    appender.start()
    root.addAppender(appender)
    try { val out = body; (out, seen.synchronized(seen.toList)) }
    finally { root.removeAppender(appender); appender.stop() }
  }

  // FIXTURES.md §A1: the four extractor shapes, each with its inferred
  // schema pinned: how the sample document is found must not change it.
  private val jsonShapes = Seq(
    "first-key dict" -> ("""{ "DS0": [
      |  { "undefined": 19.356104651162791,
      |    "Geográfico.Município": "Botucatu",
      |    "Grande Grupamento Atividade Econômica": "Agropecuária",
      |    "Atividade Econômica": "Agricultura, pecuária, produção florestal, pesca e aquicultura",
      |    "CNAE 2.0 Seção": "Agricultura, Pecuária, Produção Florestal, Pesca e Aquicultura",
      |    "CNAE 2.0 Divisão": "Agricultura, Pecuária e Serviços Relacionados",
      |    "CNAE 2.0 Grupo": "Atividades de Apoio à Agricultura e à Pecuária",
      |    "CNAE 2.0 Classe": "Atividades de Apoio à Agricultura",
      |    "CNAE 2.0 Subclasse": "Serviço de Poda de árvores para Lavouras",
      |    "Admitidos": 2, "Desligados": 0.0, "Saldo": 2, "Estoque": 45,
      |    "Variação Relativa": "INF", "Tempo de Emprego": "NaN" },
      |  { "Geográfico.Município": "São Paulo", "Admitidos": null, "Variação Relativa": "-INF" }
      |] }""".stripMargin,
      "Admitidos BIGINT,`Atividade Econômica` STRING,`CNAE 2.0 Classe` STRING," +
        "`CNAE 2.0 Divisão` STRING,`CNAE 2.0 Grupo` STRING,`CNAE 2.0 Seção` STRING," +
        "`CNAE 2.0 Subclasse` STRING,Desligados DOUBLE,Estoque BIGINT," +
        "`Geográfico.Município` STRING,`Grande Grupamento Atividade Econômica` STRING," +
        "Saldo BIGINT,`Tempo de Emprego` STRING,`Variação Relativa` STRING,undefined DOUBLE"),
    "bare list" -> (
      """[{"Geográfico.Município": "Botucatu", "Admitidos": 2, "Saldo": -1, "Variação Relativa": "NaN"},
        | {"Geográfico.Município": "Campinas", "Admitidos": 7, "Saldo": 3, "Variação Relativa": 0.25}]""".stripMargin,
      "Admitidos BIGINT,`Geográfico.Município` STRING,Saldo BIGINT,`Variação Relativa` DOUBLE"),
    "Município header" -> (
      """{"DS0": [{"Município": "Botucatu", "Admitidos": 2, "Estoque": 45, "Tempo de Emprego": "INF"},
        | {"Município": "Campinas", "Admitidos": 3, "Estoque": 10, "Tempo de Emprego": 1.5}]}""".stripMargin,
      "Admitidos BIGINT,Estoque BIGINT,`Município` STRING,`Tempo de Emprego` DOUBLE"),
    "missing columns" -> (
      """{"DS0": [{"Geográfico.Município": "Botucatu", "Saldo": 2},
        | {"Geográfico.Município": "Campinas"}]}""".stripMargin,
      "`Geográfico.Município` STRING,Saldo BIGINT"))

  // FIXTURES.md §A2 and the variants Spark's line reader normalizes.
  private val ibge = "UF;COD;NOME\nSP;3507506;  botucatu\nSP;3550308;São Paulo\n"
  private val csvVariants = Seq(
    "semicolon" -> (ibge, Seq("UF", "COD", "NOME")),
    "comma" -> (ibge.replace(';', ','), Seq("UF", "COD", "NOME")),
    "odd header" -> (
      "sigla,codigo,nome_municipio\nSP,3507506,\"  botucatu\"\nSP,3550308,São Paulo\n",
      Seq("sigla", "codigo", "nome_municipio")),
    "UTF-8 BOM" -> ("\uFEFF" + ibge, Seq("UF", "COD", "NOME")),
    "leading blank lines" -> ("\n   \n" + ibge, Seq("UF", "COD", "NOME")),
    // Spark's file reader drops lines blank by `String.trim` (tabs too)
    "leading whitespace-only lines" -> ("\n \t \n" + ibge, Seq("UF", "COD", "NOME")),
    "CRLF" -> (ibge.replace("\n", "\r\n"), Seq("UF", "COD", "NOME")),
    // Spark's safe names: an empty name becomes `_c<i>`, a duplicate gets
    // its index appended
    "duplicate and empty names" -> (
      "UF;;UF" + ibge.dropWhile(_ != '\n'), Seq("UF0", "_c1", "UF2")))

  test("sanitizedJson scrubs quoted INF/-INF/NaN and unwraps first-key records") {
    val dir = TestSpark.tmpDir("json")
    write(s"$dir/data.json",
      """{ "DS0": [
        |  {"Município": "Botucatu", "Admitidos": 2, "Variação": "INF"},
        |  {"Município": "São Paulo", "Admitidos": null, "Variação": "-INF"},
        |  {"Município": "Campinas", "Admitidos": 7, "Variação": "NaN"}
        |] }""".stripMargin)
    val df = Ingest.sanitizedJson(spark, s"$dir/data.json")
    assert(df.count() === 3)
    assert(df.columns.toSet === Set("Município", "Admitidos", "Variação"))
    // the scrubbed tokens must arrive as nulls, not strings
    assert(df.filter(df("Variação").isNotNull).count() === 0)
  }

  test("sanitizedJson accepts a bare top-level array") {
    val dir = TestSpark.tmpDir("json2")
    write(s"$dir/data.json", """[{"a": 1}, {"a": 2}]""")
    val df = Ingest.sanitizedJson(spark, s"$dir/data.json")
    assert(df.count() === 2)
  }

  test("csvWithDelimiterFallback retries with comma when `;` yields one column") {
    val dir = TestSpark.tmpDir("csv")
    write(s"$dir/semi.csv", "UF;COD;NOME\nSP;3507506;Botucatu\n")
    write(s"$dir/comma.csv", "UF,COD,NOME\nSP,3507506,Botucatu\n")
    assert(Ingest.csvWithDelimiterFallback(spark, s"$dir/semi.csv").columns.length === 3)
    assert(Ingest.csvWithDelimiterFallback(spark, s"$dir/comma.csv").columns.length === 3)
  }

  test("sanitizedJson infers the FIXTURES §A1 schemas") {
    jsonShapes.foreach { case (shape, (doc, ddl)) =>
      val dir = TestSpark.tmpDir("json-shape")
      write(s"$dir/data.json", doc)
      val df = Ingest.sanitizedJson(spark, s"$dir/data.json")
      assert(df.schema.toDDL === ddl, shape)
      assert(df.count() === 2L, shape)
    }
  }

  test("sanitizedJson samples the largest document of a directory") {
    val dir = TestSpark.tmpDir("json-two")
    // the smaller document sorts first by name; the larger one is sampled
    write(s"$dir/a.json", """[{"x": 1}]""")
    write(s"$dir/b.json",
      """{"DS0": [{"y": "long enough to be the larger file", "z": 2.5}]}""")
    val df = Ingest.sanitizedJson(spark, dir)
    assert(df.schema.toDDL === "y STRING,z DOUBLE")
    assert(df.collect().map(_.toString).sorted.toSeq ===
      Seq("[long enough to be the larger file,2.5]", "[null,null]"))
  }

  test("csvWithDelimiterFallback reads the FIXTURES §A2 variants without warnings") {
    csvVariants.foreach { case (variant, (content, columns)) =>
      val dir = TestSpark.tmpDir("csv-variant")
      write(s"$dir/dim.csv", content)
      val (df, callWarnings) =
        warningsDuring(Ingest.csvWithDelimiterFallback(spark, s"$dir/dim.csv"))
      assert(callWarnings.isEmpty, s"$variant: $callWarnings")
      assert(df.columns.toSeq === columns, variant)
      val (rows, readWarnings) = warningsDuring(
        df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq)
      assert(rows === Seq(("SP", "3507506", "  botucatu"), ("SP", "3550308", "São Paulo")),
        variant)
      // a renamed header does not match its line: the read's own header
      // check says so once, as any Spark CSV read of the file does
      val renamed = columns.exists(c => !content.contains(c))
      assert(readWarnings.map(_.contains("CSV header does not conform")) ===
        (if (renamed) Seq(true) else Nil), s"$variant: $readWarnings")
    }
    // without a header the columns are positional and the header is a row
    val dir = TestSpark.tmpDir("csv-noheader")
    write(s"$dir/dim.csv", ibge)
    val df = Ingest.csvWithDelimiterFallback(spark, s"$dir/dim.csv", header = false)
    assert(df.columns.toSeq === Seq("_c0", "_c1", "_c2"))
    assert(df.count() === 3L)
  }

  test("the JSON and CSV readers run no Spark job at call time") {
    val dir = TestSpark.tmpDir("no-jobs")
    write(s"$dir/data.json", jsonShapes.head._2._1)
    write(s"$dir/semi.csv", ibge)
    write(s"$dir/comma.csv", ibge.replace(';', ','))
    val (_, json) = TestSpark.activity(Ingest.sanitizedJson(spark, s"$dir/data.json"))
    val (_, csv) = TestSpark.activity {
      Ingest.csvWithDelimiterFallback(spark, s"$dir/semi.csv")
      Ingest.csvWithDelimiterFallback(spark, s"$dir/comma.csv")
    }
    // (jobs, SQL executions) per reader
    assert(Seq(json, csv).map(a => (a.jobs, a.executions)) === Seq((0, 0), (0, 0)))
  }

  test("sanitizedJson scrubs and parses each document once") {
    val dir = TestSpark.tmpDir("json-once")
    write(s"$dir/data.json", jsonShapes.head._2._1)
    val plan = Ingest.sanitizedJson(spark, s"$dir/data.json").queryExecution.optimizedPlan
    // a filter inferred from the generator would parse the document again
    assert(plan.collect { case f: Filter => f }.isEmpty, plan.treeString)
    assert(plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j })).size === 1,
      plan.treeString)
  }

  test("sanitizedJson yields no row for a null, empty or malformed record array") {
    val dir = TestSpark.tmpDir("json-degenerate")
    write(s"$dir/a.json", """[{"x": 1}, null]""")
    write(s"$dir/b.json", "[]")
    write(s"$dir/c.json", """{"DS0": null}""")
    write(s"$dir/d.json", """{"DS0": [{"x": oops""")
    val df = Ingest.sanitizedJson(spark, dir, Some(StructType.fromDDL("x BIGINT")))
    assert(df.schema.toDDL === "x BIGINT")
    assert(df.collect().map(_.toString).sorted.toSeq === Seq("[1]", "[null]"))
  }

  test("newestFile picks the most recently modified match") {
    val dir = TestSpark.tmpDir("newest")
    write(s"$dir/a.json", "{}")
    val f = Paths.get(s"$dir/b.json")
    write(f.toString, "{}")
    f.toFile.setLastModified(System.currentTimeMillis() + 60000)
    assert(Ingest.newestFile(spark, s"$dir/*.json").exists(_.endsWith("b.json")))
    assert(Ingest.newestFile(spark, s"$dir/*.csv").isEmpty)
  }

  test("orEmpty degrades to an empty frame with the given schema") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("municipio", StringType),
      StructField("ano_ref", LongType)))
    val df = Ingest.orEmpty(spark, schema) {
      spark.read.parquet("/nonexistent/path")
    }
    assert(df.count() === 0)
    assert(df.schema === schema)
  }
}
