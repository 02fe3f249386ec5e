package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's budgeted stdout line (Bench.budgetLine): at most 1600
  * chars, valid JSON, `unloaded` entries dropped before loaded ones.
  */
class BenchLineSpec extends AnyFunSuite {

  private val fixed = (1 to 24).map(i => f""""field_$i%02d":"${"x" * 20}"""").mkString(",")

  private def entries(rs: Seq[(String, Double)]): String = rs.sortBy(_._1)
    .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")

  private def render(qs: Seq[(String, Double)], us: Seq[(String, Double)]): String =
    s"""{"metric":"total","value":12.34,$fixed,"unloaded":${entries(us)},"queries":${entries(qs)},"sf":"/data/sf0.1"}"""

  private val queries = (1 to 241).map(i => f"q_query_name_$i%03d" -> i * 0.01)
  private val unloaded = (1 to 24).map(i => f"q_unloaded_$i%03d" -> i * 0.1)
  private val bare = """{"metric":"total","value":12.34}"""

  private def parse(line: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)

  test("241 loaded + 24 unloaded entries fit 1600 chars as valid JSON") {
    val line = Bench.budgetLine(1600, queries, unloaded, bare)(render)
    assert(line.length <= 1600)
    val json = parse(line)
    // the old rule dropped only loaded entries and kept every unloaded one
    var old = queries.sortBy(-_._2)
    while (render(old, unloaded).length > 1600 && old.nonEmpty) old = old.dropRight(1)
    assert(json.get("queries").size >= old.size)
    assert(json.get("queries").size > 0)
    // loaded entries are dropped fastest first
    val kept = json.get("queries").fieldNames()
    var min = Double.MaxValue
    kept.forEachRemaining(n => min = math.min(min, json.get("queries").get(n).asDouble))
    assert(queries.filter(_._2 > min).forall(q => json.get("queries").has(q._1)))
  }

  test("unloaded entries go first, fastest first") {
    // room for every loaded entry but only some unloaded ones
    val few = queries.take(10)
    val all = render(few, unloaded).length
    val line = Bench.budgetLine(all - 50, few, unloaded, bare)(render)
    val json = parse(line)
    assert(json.get("queries").size === few.size)
    val u = json.get("unloaded")
    assert(u.size > 0 && u.size < unloaded.size)
    val keptU = unloaded.filter(e => u.has(e._1))
    assert(keptU === unloaded.sortBy(-_._2).take(u.size).sortBy(_._2))
  }

  test("a line over budget without any entries falls back to the bare line") {
    val line = Bench.budgetLine(100, queries, unloaded, bare)(render)
    assert(line === bare)
    assert(parse(line).get("value").asDouble === 12.34)
  }
}
