package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  test("escaped strings round-trip through Jackson, control chars included") {
    val s = "tab\tcr\rquote\"backslash\\ctl\u0001nl\n"
    val m = new ObjectMapper()
    assert(m.readValue(Json.str(s), classOf[String]) == s)
    assert(m.readTree(Json.obj(Seq(s -> s))).get(s).asText() == s)
  }
}
