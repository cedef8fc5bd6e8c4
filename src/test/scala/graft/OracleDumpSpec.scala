package graft

import org.scalatest.funsuite.AnyFunSuite

/** oracle_sql.json is read with a strict JSON parser: one bad escape
  * makes the whole oracle map unreadable.
  */
class OracleDumpSpec extends AnyFunSuite {

  test("jsonString escapes quote, backslash and control characters") {
    import OracleDump.jsonString
    assert(jsonString("plain") == "\"plain\"")
    assert(jsonString("a\"b") == "\"a\\\"b\"")
    assert(jsonString("a\\b") == "\"a\\\\b\"")
    assert(jsonString("a\nb") == "\"a\\nb\"")
    assert(jsonString("a\rb") == "\"a\\rb\"")
    assert(jsonString("a\tb") == "\"a\\tb\"")
    assert(jsonString("a\u0001b") == "\"a\\u0001b\"")
  }
}
