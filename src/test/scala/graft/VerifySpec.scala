package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `Verify`'s oracle_sql.json lists exactly the entries it dumped.
  * `Verify.main` stops the session it gets, so only the pure JSON
  * builder is exercised here. */
class VerifySpec extends AnyFunSuite {

  private def parse(json: String): Map[String, String] =
    new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]]).asScala.toMap

  test("oracle JSON: every twin without a filter, only the named ones with it") {
    assert(parse(Verify.oracleJson(None)) == SparkEntry.oracleSql)
    val named = SparkEntry.oracleSql.keys.filter(_.startsWith("stream_")).toSet
    assert(named.nonEmpty)
    // a name with no oracle twin adds nothing
    assert(parse(Verify.oracleJson(Some(named + "no_such_entry"))) ==
      SparkEntry.oracleSql.filter { case (k, _) => named(k) })
  }
}
