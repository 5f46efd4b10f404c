package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The harness's pure parts: the `SPARK_GRAFT_ONLY` query filter that
  * Bench, Verify and `Scaling bench` share, and the JSON string escape
  * that writes `oracle_sql.json` and Bench's error fields.
  */
class HarnessSpec extends AnyFunSuite {

  private val registered = SparkEntry.queries.keys.toSeq.sorted

  test("selected: unset runs every registered query") {
    assert(Harness.selected(None).keySet == registered.toSet)
  }

  test("selected: names are comma-separated and trimmed") {
    val Seq(a, b) = registered.take(2)
    assert(Harness.selected(Some(s" $a , $b ")).keySet == Set(a, b))
    assert(Harness.selected(Some(s"$a,,")).keySet == Set(a))
  }

  test("selected: an unregistered name fails and the error names it") {
    val e = intercept[IllegalArgumentException](
      Harness.selected(Some(s"${registered.head},no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains(registered.head))
  }

  test("jsonString escapes quote, backslash and every control character") {
    val s = "a\"b\\c\nd\re\tf\u0001g é"
    val json = Harness.jsonString(s)
    assert(json == "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g é\"")
    assert(new ObjectMapper().readValue(json, classOf[String]) == s)
  }
}
