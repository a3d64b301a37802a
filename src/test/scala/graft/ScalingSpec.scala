package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaling benchmarks' shared harness, without Spark: its parameter
  * parser and its efficiency JSON. */
class ScalingSpec extends AnyFunSuite {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def params(env: (String, String)*): Scaling.Params =
    Scaling.params(env.toMap, sfDir = "/data/\"sf\"", levels = "8,32")

  test("params: defaults, and each environment variable overrides its default") {
    assert(params() == Scaling.Params("/data/\"sf\"", 8, (8, 32), 3))
    assert(params("SPARK_GRAFT_SF_DIR" -> "/x", "SPARK_GRAFT_COPIES" -> "2",
      "SPARK_GRAFT_LEVELS" -> " 4, 16", "SPARK_GRAFT_REPS" -> "1") ==
      Scaling.Params("/x", 2, (4, 16), 1))
  }

  test("params: fewer than one copy or one rep, or levels other than N,4N, are rejected") {
    for (env <- Seq("SPARK_GRAFT_COPIES" -> "0", "SPARK_GRAFT_COPIES" -> "-1",
                    "SPARK_GRAFT_REPS" -> "0", "SPARK_GRAFT_REPS" -> "-3",
                    "SPARK_GRAFT_LEVELS" -> "4,8", "SPARK_GRAFT_LEVELS" -> "4",
                    "SPARK_GRAFT_LEVELS" -> "0,0", "SPARK_GRAFT_LEVELS" -> "4,16,64"))
      intercept[IllegalArgumentException](params(env))
  }

  test("bestOf runs every rep and keeps the last result") {
    var calls = 0
    val (last, secs) = Scaling.bestOf("spec", 3) { calls += 1; calls }
    assert(last == 3 && calls == 3 && secs >= 0.0)
  }

  test("json: efficiency per item at N and 4N, valid JSON even with no items processed") {
    val p = params()
    val lo = Scaling.Level(Seq("docs" -> 100L, "triples" -> 400L), 10.0)
    val hi = Scaling.Level(Seq("docs" -> 100L, "triples" -> 400L), 5.0)
    val out = json.readTree(Scaling.json("scaling_efficiency", p, lo, hi))
    assert(out.get("metric").asText == "scaling_efficiency")
    assert(out.get("value").asDouble == 0.5 && out.get("triples_eff").asDouble == 0.5)
    assert(out.get("docs_per_sec").get("local8").asDouble == 10.0)
    assert(out.get("triples_per_sec").get("local32").asDouble == 80.0)
    assert(out.get("seconds").get("local32").asDouble == 5.0)
    assert(out.get("copies").asInt == 8 && out.get("sf").asText == "/data/\"sf\"")
    val empty = Scaling.Level(Seq("docs" -> 0L), 1.0)
    val none = json.readTree(Scaling.json("curation_scaling_efficiency", p, empty, empty))
    assert(none.get("value").isNull && !none.has("docs_eff"))
  }
}
