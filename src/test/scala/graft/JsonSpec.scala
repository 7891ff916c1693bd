package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("a string with a quote, a backslash and control chars reads back as itself") {
    val s = "a \"b\" c:\\d\nline\ttab\u0001end\r"
    assert(mapper.readValue(Json.str(s), classOf[String]) == s)
    val line = Json.obj(Seq("dir" -> Json.str(s), "n" -> "1"))
    val tree = mapper.readTree(line)
    assert(tree.get("dir").asText == s)
    assert(tree.get("n").asInt == 1)
  }

  test("plain strings are written as before") {
    assert(Json.str("q05_group_count") == "\"q05_group_count\"")
    assert(Json.field("sf", Json.str("/data/sf0.1")) ==
      "\"sf\":\"/data/sf0.1\"")
    assert(Json.obj(Nil) == "{}")
  }
}
