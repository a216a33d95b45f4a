package graft.bench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.functions.{VectorExpressions, WordShingleMinHash}
import graft.ops.{Dedup, SimSearch, TextStats}
import graft.pipeline.Medallion
import graft.pipeline.Medallion._
import graft.quality.Expectations._
import graft.transform.{Canonicalize, Enrich}

/** A collected result: the rows a consumer receives, with their schema. */
final case class Output(schema: StructType, rows: Array[Row])

/** One timed unit: a stage call, an operator, a query or a gate. `run`
  * returns the fully evaluated result, or None for a write-only stage. */
final case class Op(name: String, run: SparkSession => Option[Output])

object Op {
  def collected(df: DataFrame): Option[Output] = Some(Output(df.schema, df.collect()))
}

/** A workload: its ops for one pass, plus the extra
  * per-layer measurements of the traced run. */
trait Workload {
  def ops: Seq[Op]
  /** The warm-up, as groups that run one after another, the ops of a
    * group at the same time; ops of a group must not depend on each other.
    * One pass by default. */
  def warmUpGroups: Seq[Seq[Op]] = ops.map(Seq(_))
  /** Per-layer numbers that need their own calls (outside any op). */
  def extraLayers(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, input: String, out: String): Workload = name match {
    case "medallion_etl" => new MedallionEtl(input, out)
    case "corpus_dedup"  => new CorpusDedup(input)
    case "stream_gates"  => new StreamGates(input)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

/** The paper's pipeline over generated landing files: bronze (CSV →
  * parquet per source), silver (normalize, canonicalize, DQ suite with
  * its report), gold (join + average). */
final class MedallionEtl(landing: String, out: String) extends Workload {
  private val sources = Seq(("banks", "\t"), ("claims", ","), ("employees", "|"))

  private def silverSpec(source: String, out: String, withSuite: Boolean,
                         dir: String): SilverSpec = {
    def spec(s: SilverSpec, suite: Suite) =
      if (withSuite) s.copy(suite = Some(suite), reportDir = Some(s"$out/dq"))
      else s
    source match {
      case "banks" => spec(SilverSpec(
        in = s"$out/bronze/banks", out = s"$dir/banks",
        rules = Seq(
          Canonicalize.Rule("nome", " - PRUDENCIAL", ""),
          Canonicalize.Rule("nome", " INSTITUIÇÃO DE PAGAMENTO", "")),
        derived = Seq("nome_fantasia" -> (_ => Enrich.splitItem(col("nome"), "  ", 1)))),
        Suite("banks_silver", Seq(NotNull("nome"), NotNull("cnpj"),
          NotNull("nome_fantasia"), ColumnExists("segmento"),
          MatchesRegex("cnpj", "^[0-9]{8}$"))))
      case "claims" => spec(SilverSpec(
        in = s"$out/bronze/claims", out = s"$dir/claims",
        renames = Seq("cnpj_if" -> "cnpj", "instituição_financeira" -> "nome"),
        rules = Seq(
          Canonicalize.Rule("nome", " \\(conglomerado\\)", ""),
          Canonicalize.Rule("índice", ",", "."))),
        Suite("claims_silver", Seq(NotNull("cnpj"), Between("índice", 0, 100),
          InSet("categoria", Seq("Bancos", "Financeiras", "Cooperativas", "Pagamentos")))))
      case "employees" => spec(SilverSpec(
        in = s"$out/bronze/employees", out = s"$dir/employees",
        renames = Seq("employer_name" -> "nome"),
        rules = Seq(
          Canonicalize.Rule("geral", ",", "."),
          Canonicalize.Rule("remuneração_e_benefícios", ",", "."))),
        Suite("employees_silver", Seq(NotNull("nome"), Between("geral", 1, 5))))
    }
  }

  private val goldSpec = GoldSpec(
    innerKey = "cnpj",
    leftKey = "nome",
    reportCols = Seq(
      "nome" -> "Nome do Banco",
      "cnpj" -> "CNPJ",
      "categoria" -> "Classificação",
      "quantidade_de_clientes_–_scr" -> "Quantidade de Clientes do Bancos",
      "índice" -> "Índice de reclamações",
      "quantidade_total_de_reclamações" -> "Quantidade de reclamações",
      "geral" -> "Índice de satisfação dos funcionários dos bancos",
      "remuneração_e_benefícios" ->
        "Índice de satisfação com salários dos funcionários dos bancos"),
    groupBy = Seq("Nome do Banco", "CNPJ", "Classificação"),
    averages = Seq(
      "Índice de reclamações" -> "Índice de reclamações",
      "Quantidade de reclamações" -> "Quantidade de reclamações",
      "Índice de satisfação dos funcionários dos bancos" ->
        "Índice de satisfação dos funcionários dos bancos",
      "Índice de satisfação com salários dos funcionários dos bancos" ->
        "Índice de satisfação com salários dos funcionários dos bancos"),
    roundedAverages = Seq(
      "Quantidade de Clientes do Bancos" -> "Quantidade de Clientes do Bancos"))

  /** Two passes: after one, the next pass's ops still ran 10-30% slower
    * than the pass after it. The bronze calls read separate landing files
    * and write separate tables, so they run together; silver and gold
    * follow in order. */
  override def warmUpGroups: Seq[Seq[Op]] = {
    val (bronze, rest) = ops.partition(_.name.startsWith("bronze:"))
    val pass = bronze +: rest.map(Seq(_))
    pass ++ pass
  }

  val ops: Seq[Op] = {
    def files(prefix: String): Seq[String] =
      new File(landing).listFiles().filter(f => f.isFile && f.getName.startsWith(prefix))
        .map(_.getPath).sorted.toSeq
    sources.map { case (s, delim) =>
      Op(s"bronze:$s", spark => {
        Medallion.bronze(spark, BronzeSpec(CsvSource(files(s + "_"), delim), s"$out/bronze/$s"))
        None
      })
    } ++ sources.map { case (s, _) =>
      Op(s"silver:$s", spark => {
        Medallion.silver(spark, silverSpec(s, out, withSuite = true, s"$out/silver"))
        None
      })
    } :+ Op("gold", spark => {
      val claims = spark.read.parquet(s"$out/silver/claims")
      val banks = spark.read.parquet(s"$out/silver/banks").select("cnpj", "segmento")
      val employees = spark.read.parquet(s"$out/silver/employees")
        .select("nome", "geral", "remuneração_e_benefícios")
      try Op.collected(Medallion.gold(claims, banks, employees, goldSpec))
      finally spark.catalog.clearCache()
    })
  }

  /** `quality.dq_s`: the silver calls with their Suites minus the same
    * calls without, each the median of three interleaved runs. */
  override def extraLayers(spark: SparkSession): Map[String, Double] = {
    val runs = (1 to 3).map { _ =>
      sources.map { case (s, _) =>
        (Workload.timeS(Medallion.silver(spark, silverSpec(s, out, withSuite = true, s"$out/silver_dq"))),
          Workload.timeS(Medallion.silver(spark, silverSpec(s, out, withSuite = false, s"$out/silver_nodq"))))
      }
    }
    Map("quality.dq_s" -> (Workload.median(runs.map(_.map(_._1).sum)) -
      Workload.median(runs.map(_.map(_._2).sum))))
  }
}

/** The north-star curation path over a k-fold augmented corpus. */
final class CorpusDedup(dir: String) extends Workload {
  private def docs(spark: SparkSession) = spark.read.parquet(s"$dir/documents.parquet")
  private def emb(spark: SparkSession) = spark.read.parquet(s"$dir/embeddings.parquet")
  val ivfQueries = 50
  val ivfK = 10

  /** One pass. The operators read only the input files, so all five
    * calls run together: the warm-up is mostly serial driver work. The
    * first timed pass after it still reads 16-26% more CPU time than the
    * next; `run.py` times three passes, so the median leaves it out. */
  override def warmUpGroups: Seq[Seq[Op]] = Seq(ops)

  private def simhashFp(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"),
      VectorExpressions.simhash64(TextStats.tokens(lower(col("text")))).as("fp"))
      .filter(col("fp").isNotNull)

  val ops: Seq[Op] = Seq(
    Op("by_fingerprint", s => Op.collected(Dedup.byFingerprint(docs(s))
      .select(col("doc_id"), col("fp"), col("keeper_id"), col("is_duplicate")))),
    Op("minhash_near_duplicates", s => Op.collected(Dedup.minhashNearDuplicates(
      docs(s), "text", "doc_id", shingleSize = 3, numHashes = 64, bands = 16,
      threshold = 0.7, useWordShingles = true))),
    Op("simhash_clusters", s => Op.collected(
      Dedup.simhashClusters(simhashFp(docs(s)), maxHammingDistance = 3))),
    Op("winnow_clusters", s => Op.collected(
      Dedup.winnowClusters(docs(s), "text", "doc_id", k = 20, w = 8))),
    Op("ivf_top_k", s => {
      val e = emb(s)
      val corpus = e.filter(col("vec_id") >= ivfQueries)
      val centroids = SimSearch.sampledCentroids(corpus, k = 16)
      Op.collected(SimSearch.ivfTopK(corpus, e.filter(col("vec_id") < ivfQueries),
        k = ivfK, centroids = centroids, nprobe = 2))
    }))

  /** Projection-only passes for the two column functions, the MinHash
    * pair yield, and rows out per operator. */
  override def extraLayers(spark: SparkSession): Map[String, Double] = {
    val d = docs(spark).cache()
    val n = d.count().toDouble
    def projRate(c: org.apache.spark.sql.Column): Double =
      n / Workload.median((1 to 3).map(_ =>
        Workload.timeS(d.select(c).queryExecution.toRdd.foreach(_ => ()))))
    val simhashRate = projRate(VectorExpressions.simhash64(TextStats.tokens(lower(col("text")))))
    val sig = WordShingleMinHash.word_shingle_minhash(col("text"), 3, 64)
    val minhashRate = projRate(sig)
    val banded = d.select(col("doc_id").as("id"), sig.as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"), posexplode(Dedup.bandHashes(col("sig"), 16, 4)).as(Seq("band", "bh")))
    val candidates = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") && col("l.id") < col("r.id"))
      .select(col("l.id"), col("r.id")).distinct().count()
    val verified = Dedup.minhashNearDuplicates(d, "text", "doc_id", shingleSize = 3,
      numHashes = 64, bands = 16, threshold = 0.7, useWordShingles = true).count()
    Dedup.releaseCaches()
    d.unpersist()
    Map(
      "functions.simhash64_rows_per_s" -> simhashRate,
      "functions.minhash_rows_per_s" -> minhashRate,
      "ops.minhash.pair_yield" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates))
  }
}

/** Streaming gates of the catalog run through `SparkEntry.queries`, each
  * fully collected. The frozen measured gate is `q177_stream_hourly`, the
  * cheapest of the catalog's 27 Structured Streaming gates: a windowed
  * aggregation whose state store commits every micro-batch. Its name is
  * fixed from here on. */
final class StreamGates(tables: String) extends Workload {
  val ops: Seq[Op] = StreamGates.measured.map(n =>
    Op(n, spark => Op.collected(SparkEntry.queries(n)(spark, tables))))
}

object StreamGates {
  val measured: Seq[String] = Seq("q177_stream_hourly")
}
