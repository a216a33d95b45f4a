package graft.io

import graft.SparkSpec
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

/** `Readers.csvHeaderSchema` resolves on the driver the schema Spark's
  * header-ful CSV read infers with a job; on every edge case of the
  * header line the two must agree, and a read given the driver schema
  * must return the same rows.
  */
class HeaderSchemaSpec extends SparkSpec {
  private lazy val root = Files.createTempDirectory("header_schema").toString

  private def write(name: String, content: String): String = {
    val p = Paths.get(root, name)
    Files.write(p, content.getBytes(UTF_8))
    p.toString
  }

  private def writeGz(name: String, content: String): String = {
    val p = Paths.get(root, name)
    val out = new GZIPOutputStream(Files.newOutputStream(p))
    try out.write(content.getBytes(UTF_8)) finally out.close()
    p.toString
  }

  private def assertParity(path: String, delimiter: String): Unit = {
    val inferred = spark.read.option("header", "true").option("sep", delimiter).csv(path)
    val driver = Readers.csvHeaderSchema(spark, path, delimiter)
    assert(driver == inferred.schema, path)
    if (driver.nonEmpty)
      assert(Readers.csv(spark, path, delimiter, schema = Some(driver)).collect().toSeq ==
        inferred.collect().toSeq, path)
  }

  test("accented and en-dash names") {
    assertParity(write("accents.csv",
      "Instituição financeira,Quantidade de Clientes – SCR,Índice\nBANCO,10,\"2,5\"\n"), ",")
  }

  test("duplicate names, case-insensitively too") {
    assertParity(write("dups.psv", "id|nome|id|ID\n1|a|2|3\n"), "|")
  }

  test("an empty header cell") {
    assertParity(write("blank_cell.tsv", "a\t\tc\n1\t2\t3\n"), "\t")
  }

  test("a quoted header field holding the delimiter") {
    assertParity(write("quoted.csv", "\"nome, completo\",cnpj\n\"x, y\",1\n"), ",")
  }

  test("leading blank lines") {
    assertParity(write("blank_lines.csv", "\n   \n\na,b\n1,2\n"), ",")
  }

  test("a header-only file") {
    assertParity(write("header_only.psv", "a|b|c\n"), "|")
  }

  test("an empty file") {
    val path = write("empty.csv", "")
    assert(Readers.csvHeaderSchema(spark, path).isEmpty)
    assertParity(path, ",")
  }

  test("a gzip-compressed file") {
    assertParity(writeGz("packed.csv.gz", "Segmento;CNPJ;Nome\nS1;111;ALFA\n"), ";")
  }
}
