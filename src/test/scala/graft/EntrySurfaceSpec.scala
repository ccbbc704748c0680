package graft

/** Regression net for the driver contract: every declared query must
  * EXECUTE at smoke scale (catching broken plans before the external
  * correctness gate does). Values are the oracle's job; this asserts
  * executability, the queries/oracle key pairing, and that building
  * and running a query leaves the session's function registry and its
  * tables and temp views as it found them.
  */
class EntrySurfaceSpec extends SparkSpec {

  // q15 creates `post_performance` on purpose: it is the reference's
  // `CREATE VIEW` (analysis.sql:172-183), so only that view may appear
  private def sessionNames(): Set[String] =
    spark.sessionState.functionRegistry.listFunction()
      .map(f => s"function ${f.unquotedString}").toSet ++
      spark.catalog.listTables().collect().map(t => s"table ${t.name}")
        .filterNot(_ == "table post_performance")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"queries($name) executes at sf0.001") {
      val before = sessionNames()
      val n = fn(spark, sf()).count()
      assert(n >= 0)
      val after = sessionNames()
      val changed = (after -- before) ++ (before -- after)
      assert(changed.isEmpty, s"$name changed session state: $changed")
      // oracle-checked entries must produce rows at smoke scale unless
      // they are pair-finders (legitimately sparse at tiny SF)
      val sparseOk = name.endsWith("_pairs") || name.endsWith("_lsh") ||
        name.endsWith("_jaccard") || name.endsWith("_cosine")
      if (SparkEntry.oracleSql.contains(name) && !sparseOk)
        assert(n > 0, s"$name returned 0 rows at sf0.001")
    }
  }
}
