package graft

import org.json4s.JString
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("str escapes quote, backslash and control chars, passes non-ASCII through") {
    assert(Json.str("say \"hi\"\\") === "\"say \\\"hi\\\"\\\\\"")
    assert(Json.str("a\nb\rc\td\u0001e\u001f") === "\"a\\nb\\rc\\td\\u0001e\\u001f\"")
    assert(Json.str("Mégaknight → 🏆") === "\"Mégaknight → 🏆\"")
    val mixed = "q\"\\\n\r\t\u0000\u0001 é"
    assert(JsonMethods.parse(Json.str(mixed)) === JString(mixed))
  }
}
