package graft

/** Contract guards: every declared operator must carry an oracle,
  * a PLANS.md row and a BENCH_FULL.json timing, and none may silently
  * regress to an empty result (the hash gate would "pass" an
  * empty-vs-empty compare). */
class ContractSpec extends SparkSpec {

  test("every query has an oracle and every oracle has a query") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("PLANS.md has one row per query and no other") {
    val src = scala.io.Source.fromFile("PLANS.md", "UTF-8")
    val rows = try src.getLines().filter(_.startsWith("| ")).map(_.split('|')(1).trim)
      .filterNot(_ == "query").toList
    finally src.close()
    val declared = SparkEntry.queries.keySet
    assert(rows.sorted === declared.toList.sorted,
      s"stale rows: ${rows.toSet -- declared}; missing rows: ${declared -- rows}")
  }

  test("BENCH_FULL.json times every query and no other") {
    import scala.jdk.CollectionConverters._
    val timed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCH_FULL.json")).get("queries").fieldNames().asScala.toList
    val declared = SparkEntry.queries.keySet
    val (stale, missing) = (timed.toSet -- declared, declared -- timed)
    assert(stale.isEmpty && missing.isEmpty, s"stale keys: $stale; missing keys: $missing")
  }

  test("every query returns rows at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, fn) =>
      fn(spark, sf()).limit(1).count() == 0
    }
    assert(empty.isEmpty, s"empty results: ${empty.map(_._1).mkString(", ")}")
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
