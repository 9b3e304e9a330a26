package graft

import org.apache.spark.sql.functions._

/** Driver-contract smoke: entry() and every queries() member runs at
  * sf0.001 and returns rows. */
class EntrySpec extends SparkSpec {

  test("entry returns k=10 recommendations with total deterministic order") {
    val r1 = SparkEntry.entry(spark).collect()
    assert(r1.length === 10)
    val r2 = SparkEntry.entry(spark).collect()
    assert(r1.map(_.getLong(0)).toSeq === r2.map(_.getLong(0)).toSeq)
  }

  test("entry(dir) respects the caller's scale factor") {
    val small = SparkEntry.entry(spark, "/root/testdata/sf0.001").collect()
    val mid = SparkEntry.entry(spark, "/root/testdata/sf0.01").collect()
    assert(small.length === 10 && mid.length === 10)
    // the no-arg driver contract is exactly the sf0.001 flow
    assert(SparkEntry.entry(spark).collect().map(_.getLong(0)).toSeq ===
      small.map(_.getLong(0)).toSeq)
    // and the two SFs see different candidate universes (10× part table)
    def pks(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Number]("pk").longValue).toSet
    assert(pks(small) != pks(mid) || small.map(_.getDouble(2)).toSeq !=
      mid.map(_.getDouble(2)).toSeq,
      "entry(dir) produced identical results at sf0.001 and sf0.01")
  }

  test("onlyQueries: full names select; short, unknown or no names fail loudly") {
    assert(SparkEntry.onlyQueries(" q58_dedup_groups, q86_cc_bounded ,") ===
      Set("q58_dedup_groups", "q86_cc_bounded"))
    val f = java.nio.file.Files.createTempFile("only", ".txt")
    try {
      java.nio.file.Files.writeString(f, "q85_bm25\n\nq84_rollup\n")
      assert(SparkEntry.onlyQueries(f.toString) === Set("q84_rollup", "q85_bm25"))
    } finally java.nio.file.Files.delete(f)
    Seq("q84,q85", "q58_dedup_groups,q58_typo", " , ").foreach { spec =>
      intercept[IllegalArgumentException](SparkEntry.onlyQueries(spec))
    }
  }

  test("every queries entry runs and yields rows at sf0.001") {
    // q06 (customers with no orders) is legitimately empty at this SF —
    // empty-vs-empty still hash-matches the oracle.
    val mayBeEmpty = Set("q06_anti_join")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf()).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every queries key has an oracle or documented rows-only status") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"orphan oracles: ${o -- q}")
  }
}
