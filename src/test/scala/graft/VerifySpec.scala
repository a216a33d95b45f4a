package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `Verify`'s query-name filter and the JSON escaper that keeps
  * oracle_sql.json loadable. Neither needs a Spark session.
  */
class VerifySpec extends AnyFunSuite {

  test("a filter name outside the catalog fails before anything is written") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_verify")
    val out = tmp.resolve("out")
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array("sf-dir-not-read", out.toString,
        "q01_gold_flagship,q999_nope"))
    }
    assert(e.getMessage.contains("q999_nope"))
    assert(!e.getMessage.contains("q01_gold_flagship"))
    assert(!out.toFile.exists())
    tmp.toFile.delete()
  }

  test("jsonString round-trips quotes, backslashes and control chars") {
    val s = "say \"hi\" \\ back\nline\rcr\ttab\u0001 é – " +
      (0 until 32).map(_.toChar).mkString
    val escaped = Verify.jsonString(s)
    assert(new ObjectMapper().readValue(escaped, classOf[String]) == s)
  }
}
