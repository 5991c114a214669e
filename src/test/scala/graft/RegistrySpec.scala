package graft

/** Smoke guard over the whole driver contract: every registered query
  * must run at sf0.001 with every projected column executed and produce
  * a non-empty schema with unique names, and every oracle key must
  * reference a registered query. Catches breakage in no-oracle queries
  * that the DuckDB gate can't see. */
class RegistrySpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  test("registry names are unique and oracle keys resolve") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.registry.size >= 40)
  }

  test("select trims names, keeps registration order and rejects unknown names") {
    val Seq(a, b) = SparkEntry.registry.take(2).map(_.name)
    assert(SparkEntry.select(s" $b , $a,").map(_.name) === Seq(a, b))
    val e = intercept[IllegalArgumentException](SparkEntry.select(s"$a,q_no_such_query"))
    assert(e.getMessage.contains("q_no_such_query"))
    intercept[IllegalArgumentException](SparkEntry.select(" , "))
  }

  test("entry() smoke: rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.registry.foreach { q =>
    test(s"query ${q.name} executes at sf0.001") {
      val df = q.run(spark, Dir)
      assert(df.columns.nonEmpty)
      assert(df.columns.distinct.length === df.columns.length, "duplicate column names")
      // the noop sink runs the complete physical plan, as graft.Bench does;
      // count() would let Catalyst prune every column it does not need
      df.write.format("noop").mode("overwrite").save()
    }
  }
}
