package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Json]], the codec every main writes its artifacts through, and
  * the check report the self-checking mains share.
  */
class JsonSpec extends AnyFunSuite {

  test("a check's invariant and detail round-trip the shared report with quotes, backslashes and control characters") {
    val nasty = "say \"hi\" \\ back\nslash\tand \u0001 soh"
    val checks = Seq(
      ScaleGate.Check("q", s"inv $nasty", pass = true, s"detail $nasty"),
      ScaleGate.Check("q", "plain", pass = false, nasty))
    val line = Json.write(Json.obj("n_failed" -> checks.count(!_.pass),
      "checks" -> checks.map(c => Json.obj("query" -> c.query) ++ c.entry)))
    assert(!line.contains("\n"), "the report is one line")
    val back = Json.parse(line).get
    assert(back.get("n_failed").asInt == 1)
    val parsed = (0 until back.get("checks").size).map { i =>
      val c = back.get("checks").get(i)
      ScaleGate.Check(c.get("query").asText, c.get("invariant").asText,
        c.get("pass").asBoolean, c.get("detail").asText)
    }
    assert(parsed == checks)
    assert(back.get("checks").get(0).fieldNames.next() == "query",
      "keys keep the order they are written in")
  }

  test("fixed decimals, nulls in rep slots and None fields keep the artifact format") {
    val line = Json.write(Json.obj("median" -> Json.fixed(0.5, 3),
      "ratio" -> Json.fixed(1.2345, 2), "big" -> Json.fixed(1234567.0, 1),
      "committed" -> None, "reps" -> Seq(Some(1.5), None),
      "q" -> Map("a" -> 2L)))
    assert(line == """{"median":0.500,"ratio":1.23,"big":1234567.0,"committed":null,"reps":[1.5,null],"q":{"a":2}}""")
  }

  test("a torn, doubled or blank line does not parse") {
    assert(Json.parse("""{"cpus":32,"median":0.""").isEmpty)
    assert(Json.parse("""{"cpus":32}{"cpus":4}""").isEmpty)
    assert(Json.parse("").isEmpty && Json.parse("  ").isEmpty)
    assert(Json.parse("""{"cpus":32}""").exists(_.get("cpus").asInt == 32))
  }
}
