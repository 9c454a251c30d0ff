package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("json escapes quotes, backslashes and control chars for a JSON parser") {
    val raw = "dir \"x\\y\"\nline2\u0001\ttab\r\u001fend é"
    val quoted = Harness.json(raw)
    assert(!quoted.exists(_ < ' '), quoted)
    assert(new ObjectMapper().readValue(quoted, classOf[String]) == raw)
    // embedded as an object value, as the harness artifacts write it
    val obj = new ObjectMapper().readTree(s"""{"sf":$quoted,"n":1}""")
    assert(obj.get("sf").asText == raw && obj.get("n").asInt == 1)
  }
}
