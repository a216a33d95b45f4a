package graft.pipeline

import graft.SparkSpec
import graft.io.Readers
import graft.ops.Footprint
import graft.transform.{Canonicalize, Enrich}
import graft.quality.Expectations._
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end medallion run over synthesized reference-shaped fixtures
  * (FIXTURES.md §A): landing CSVs (tab / comma / pipe, unicode headers,
  * decimal commas) → bronze parquet → silver (normalize+canonicalize+DQ)
  * → gold join+agg with pretty unicode column names.
  */
class PipelineSpec extends SparkSpec {
  import Medallion._

  private lazy val root = Files.createTempDirectory("medallion").toString

  private def write(path: String, content: String): String = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    path
  }

  private lazy val banksLanding = write(s"$root/landing/banks.tsv",
    "Segmento\tCNPJ\tNome\n" +
      "S1\t111\tBCO ALFA  Alfa Bank\n" +
      "S2\t222\tBANCO BETA - PRUDENCIAL\n" +
      "S1\t333\tGAMA PAGAMENTOS\n")

  private lazy val claimsLanding = write(s"$root/landing/claims.csv",
    "Categoria,CNPJ IF,Instituição financeira,Índice\n" +
      "Bancos,111,BCO ALFA (conglomerado),\"2,5\"\n" +
      "Bancos,222,BANCO BETA,\"1,0\"\n" +
      "Financeiras,333,GAMA PAGAMENTOS,\"7,5\"\n")

  private lazy val emp1 = write(s"$root/landing/emp1.psv",
    "employer_name|Geral|CNPJ\nBCO ALFA|4,1|111\n")
  private lazy val emp2 = write(s"$root/landing/emp2.psv",
    "employer_name|Geral|Segmento\nBANCO BETA|3,0|S2\n")

  test("bronze: csv variants → harmonized parquet (G0a analog)") {
    bronze(spark, BronzeSpec(CsvSource(Seq(banksLanding), "\t"), s"$root/bronze/banks"))
    bronze(spark, BronzeSpec(CsvSource(Seq(claimsLanding), ","), s"$root/bronze/claims"))
    // header schemas are resolved on the driver: the layer write is the
    // only job (a header sniff per file would add one each)
    val fp = Footprint.of(spark) {
      bronze(spark, BronzeSpec(CsvSource(Seq(emp1, emp2), "|"), s"$root/bronze/employees"))
    }
    assert(fp.jobs == 1, s"bronze over two files ran ${fp.jobs} jobs")

    val emp = spark.read.parquet(s"$root/bronze/employees")
    assert(emp.columns.toSet == Set("employer_name", "Geral", "CNPJ", "Segmento"))
    assert(emp.count() == 2)
    // missing string columns padded with '' not null (G0a:56-57)
    assert(emp.filter(col("CNPJ") === "" || col("Segmento") === "").count() == 2)
  }

  test("footer schema equals the inferred parquet schema on every bronze layer") {
    val layers = Seq("banks", "claims", "employees").map(l => s"$root/bronze/$l")
    val empty = s"$root/bronze/empty"
    spark.read.parquet(layers.last).limit(0).write.mode("overwrite").parquet(empty)
    // StructType equality covers names, types, nullability and metadata
    for (dir <- layers :+ empty)
      assert(Readers.parquetFooterSchema(spark, dir) == spark.read.parquet(dir).schema, dir)
  }

  test("silver: normalize + canonicalize + derive + DQ report (E1 analog)") {
    val reportDir = s"$root/dq"
    val fp = Footprint.of(spark)(silver(spark, SilverSpec(
      in = s"$root/bronze/banks",
      out = s"$root/silver/banks",
      rules = Seq(Canonicalize.Rule("nome", " - PRUDENCIAL", "")),
      derived = Seq(
        "nome_fantasia" -> (d => Enrich.splitItem(col("nome"), "  ", 1))),
      suite = Some(Suite("banks_silver", Seq(
        NotNull("nome"), NotNull("cnpj"), NotNull("nome_fantasia"),
        ColumnExists("segmento")))),
      reportDir = Some(reportDir))))
    // the bronze schema comes from a footer read on the driver, and the DQ
    // suite rides the write: one job
    assert(fp.jobs == 1, s"silver ran ${fp.jobs} jobs")

    val silverDf = spark.read.parquet(s"$root/silver/banks")
    assert(silverDf.columns.toSet ==
      Set("segmento", "cnpj", "nome", "nome_fantasia"))
    val fantasia = silverDf.orderBy("cnpj")
      .select("nome_fantasia").collect().map(r => Option(r.getString(0)))
    assert(fantasia.toSeq == Seq(Some("Alfa Bank"), None, None))
    // DQ violations are reported, the pipeline is NOT failed (SURVEY §4.4-e)
    val report = Files.readString(Paths.get(s"$reportDir/banks_silver.json"))
    assert(report.contains("\"passed\":false"))
    assert(report.contains("\"violations\":2"))
  }

  test("en-dash + accented names survive normalize → parquet → re-read (E2:151)") {
    import spark.implicits._
    // raw report header exactly as the reference receives it: the en-dash
    // is U+2013, NOT an ASCII hyphen, so the rename loop keeps it
    val raw = Seq(("S1", 10L, 2.5), ("S2", 20L, 7.5))
      .toDF("Segmento", "Quantidade de Clientes – SCR", "Índice Médio")
    val normalized = graft.transform.Normalize.columns(raw)
    assert(normalized.columns.toSeq ==
      Seq("segmento", "quantidade_de_clientes_–_scr", "índice_médio"))

    val dir = s"$root/silver/endash"
    normalized.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.columns.toSeq ==
      Seq("segmento", "quantidade_de_clientes_–_scr", "índice_médio"))
    // quoted unicode identifiers must select and aggregate
    val total = back.agg(sum(col("`quantidade_de_clientes_–_scr`")))
      .head().getLong(0)
    assert(total == 30L)
    assert(back.orderBy("segmento").select("índice_médio")
      .as[Double].collect().toSeq == Seq(2.5, 7.5))
  }

  test("silver claims + gold join/agg with unicode report names (E4 analog)") {
    silver(spark, SilverSpec(
      in = s"$root/bronze/claims",
      out = s"$root/silver/claims",
      renames = Seq("cnpj_if" -> "cnpj", "instituição_financeira" -> "nome"),
      rules = Seq(
        Canonicalize.Rule("nome", " \\(conglomerado\\)", ""),
        Canonicalize.Rule("índice", ",", "."))))
    silver(spark, SilverSpec(
      in = s"$root/bronze/employees",
      out = s"$root/silver/employees",
      rules = Seq(Canonicalize.Rule("geral", ",", "."))))

    val claims = spark.read.parquet(s"$root/silver/claims")
    val banks = spark.read.parquet(s"$root/silver/banks")
      .select("cnpj", "segmento")
    val employees = spark.read.parquet(s"$root/silver/employees")
      .select(col("employer_name").as("nome"), col("geral"))

    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    val goldDf = gold(claims, banks, employees,
      GoldSpec(
        innerKey = "cnpj",
        leftKey = "nome", // GAMA has no employee row → null left side
        reportCols = Seq(
          "nome" -> "Nome do Banco",
          "categoria" -> "Classificação",
          "índice" -> "Índice de reclamações",
          "geral" -> "Índice de satisfação dos funcionários"),
        groupBy = Seq("Classificação"),
        averages = Seq(
          "Índice de reclamações" -> "Média do Índice",
          "Índice de satisfação dos funcionários" -> "Média de Satisfação")))
    val out = goldDf.orderBy(col("Classificação")).collect()
    // the join feeds one aggregate: no cache in the plan, none left behind
    assert(goldDf.queryExecution.optimizedPlan
      .collectFirst { case r: InMemoryRelation => r }.isEmpty)
    assert(sc.getPersistentRDDs.keySet == cachedBefore)

    assert(out.length == 2)
    assert(out(0).getString(0) == "Bancos")
    assert(math.abs(out(0).getDouble(1) - 1.75) < 1e-9) // avg("2.5","1.0")
    assert(math.abs(out(0).getDouble(2) - 3.55) < 1e-9) // avg("4.1","3.0")
    assert(out(1).getString(0) == "Financeiras")
    assert(math.abs(out(1).getDouble(1) - 7.5) < 1e-9)
    assert(out(1).isNullAt(2)) // no employee match → avg of nothing
  }
}
