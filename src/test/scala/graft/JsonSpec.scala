package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string escaper behind `oracle_sql.json` and
  * `PLAN_SNAPSHOT.json`.
  */
class JsonSpec extends AnyFunSuite {

  test("quote escapes quote, backslash and control characters") {
    assert(Json.quote("a\"b") == "\"a\\\"b\"")
    assert(Json.quote("a\\b") == "\"a\\\\b\"")
    assert(Json.quote("a\nb\rc\td") == "\"a\\nb\\rc\\td\"")
    assert(Json.quote("\u0001") == "\"\\u0001\"")
  }

  test("quote passes printable and non-ASCII characters through") {
    assert(Json.quote("") == "\"\"")
    assert(Json.quote("SELECT 'é' AS x") == "\"SELECT 'é' AS x\"")
  }

  test("obj sorts and quotes keys and keeps rendered values as given") {
    assert(Json.obj(Seq("b" -> "2.0", "a\"x" -> Json.quote("c"), "a" -> "{}")) ==
      "{\"a\":{},\"a\\\"x\":\"c\",\"b\":2.0}")
    assert(Json.obj(Nil) == "{}")
  }
}
