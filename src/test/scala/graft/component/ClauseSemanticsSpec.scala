package graft.component

import graft.SparkSpec

/** Clause-grammar semantics pins from the r18 differential sweep
  * (tools/clause_sweep.py → SWEEP_CLAUSE_r18.json: 62 probes over set
  * operations, GROUP BY extensions, subquery three-valued logic, CASE
  * and VALUES/CTE shapes — 62 matched, 0 unexplained). Three gaps were
  * fixed and are pinned here; every expectation is a probed DuckDB
  * v1.0 value.
  *
  *  - PROJECTION-context `IN (subquery)`: Spark plans an ExistenceJoin
  *    whose boolean is non-nullable — `3 IN (set with NULL)` answered
  *    FALSE where the standard says NULL (and NOT IN then answered the
  *    wrong way). [[graft.functions.GraftExtensions.NullFaithfulInRule]]
  *    rewrites null-observable positions to the CASE form; filter-spine
  *    conjuncts keep Spark's null-aware semi/anti planning.
  *  - Multi-arg `GROUPING(a, b)` → `grouping_id` (same bit order).
  *  - Quantified comparisons `op ANY|SOME|ALL (subquery)` — no Spark
  *    spelling at all — lower to IN/NOT IN (exact truth-table twins)
  *    or the two-EXISTS CASE.
  *  - Bare NULL conditions (`CASE WHEN NULL`, `WHERE NULL`) cast to
  *    BOOLEAN instead of failing analysis. */
class ClauseSemanticsSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(Dialect.rewrite(q))
  private def one(q: String) = sql(s"SELECT ($q) AS v").collect().head

  private val M = "(VALUES (2), (2), (4), (NULL)) m(v)"
  private val E = "(VALUES (2)) e(v) WHERE v > 99"

  test("projection-context IN (subquery) is null-faithful (probed)") {
    assert(one(s"3 IN (SELECT v FROM $M)").isNullAt(0))
    assert(one(s"3 NOT IN (SELECT v FROM $M)").isNullAt(0))
    assert(one(s"2 IN (SELECT v FROM $M)").getBoolean(0))
    assert(!one(s"3 IN (SELECT v FROM (VALUES (2), (4)) m(v))").getBoolean(0))
    // empty subquery: false, even though the has-null probe is empty too
    assert(!one(s"3 IN (SELECT v FROM $E)").getBoolean(0))
    // NULL lhs over a non-empty set
    assert(one(s"NULL IN (SELECT v FROM (VALUES (2)) m(v))").isNullAt(0))
  }

  test("filter-spine IN keeps native null-aware join planning") {
    import spark.implicits._
    Seq(2, 3, 4).toDF("x").createOrReplaceTempView("cls_t")
    val semi = sql(s"SELECT x FROM cls_t WHERE x IN (SELECT v FROM $M)")
    val plan = semi.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi join:\n$plan")
    assert(!plan.contains("CASE WHEN"), s"filter conjunct must stay native:\n$plan")
    assert(semi.collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 4))
    // NOT IN with a null in the set filters everything (standard)
    assert(sql(s"SELECT x FROM cls_t WHERE x NOT IN (SELECT v FROM $M)")
      .collect().isEmpty)
    // ...but a null-OBSERVING position inside the condition rewrites:
    // NOT(x IN sub) must stay NULL for non-members, dropping the row
    assert(sql(s"SELECT x FROM cls_t WHERE NOT (x IN (SELECT v FROM $M))")
      .collect().isEmpty)
  }

  test("QUALIFY then ORDER BY on qualified names reads the wrapper's output") {
    import spark.implicits._
    Seq((1, 5), (1, 3), (2, 7)).toDF("a", "b").createOrReplaceTempView("cls_q")
    // `r.b` is selected as bb: the tail's r.b orders by that output
    val q = sql("SELECT r.a, r.b AS bb FROM cls_q r QUALIFY row_number() OVER " +
      "(PARTITION BY r.a ORDER BY r.b) = 1 ORDER BY r.a DESC, r.b LIMIT 5")
    assert(q.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((2, 7), (1, 3)))
    val j = sql("SELECT r.a, s.b FROM cls_q r JOIN cls_q s ON r.a = s.a AND r.b = s.b " +
      "QUALIFY row_number() OVER (PARTITION BY r.a ORDER BY s.b DESC) = 1 ORDER BY s.b")
    assert(j.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 5), (2, 7)))
  }

  test("multi-arg GROUPING is grouping_id (probed bit order)") {
    val r = sql(
      """SELECT g, p, GROUPING(g, p) AS gr FROM
        |  (VALUES ('a', 'x', 1)) t(g, p, x)
        |GROUP BY CUBE(g, p) ORDER BY gr""".stripMargin).collect()
    assert(r.map(_.getLong(2)).toSeq == Seq(0L, 1L, 2L, 3L)) // lhs = high bit
    // unary stays native grouping()
    assert(sql(
      """SELECT GROUPING(g) AS gr FROM (VALUES ('a', 1)) t(g, x)
        |GROUP BY ROLLUP(g) ORDER BY gr""".stripMargin)
      .collect().map(_.getByte(0).toInt).toSeq == Seq(0, 1))
  }

  test("quantified comparisons over subqueries (probed three-valued matrix)") {
    assert(one(s"2 = ANY (SELECT v FROM $M)").getBoolean(0))
    assert(one(s"3 = ANY (SELECT v FROM $M)").isNullAt(0))
    assert(one(s"2 = SOME (SELECT v FROM $M)").getBoolean(0))
    assert(one(s"3 <> ALL (SELECT v FROM $M)").isNullAt(0))
    assert(one(s"5 > ALL (SELECT v FROM $M)").isNullAt(0))
    assert(!one(s"3 > ALL (SELECT v FROM $M)").getBoolean(0))
    assert(one(s"5 > ANY (SELECT v FROM $M)").getBoolean(0))
    assert(one(s"1 > ANY (SELECT v FROM $M)").isNullAt(0))
    // vacuous truth over the empty set
    assert(!one(s"1 > ANY (SELECT v FROM $E)").getBoolean(0))
    assert(one(s"1 > ALL (SELECT v FROM $E)").getBoolean(0))
    assert(one(s"NULL > ALL (SELECT v FROM $E)").getBoolean(0))
    assert(one(s"5 >= ALL (SELECT v FROM (VALUES (2), (4)) m(v))").getBoolean(0))
    assert(!one(s"2 != ANY (SELECT v FROM (VALUES (2)) m(v))").getBoolean(0))
  }

  test("bare NULL conditions are not-true, never an analysis error (probed)") {
    assert(one("CASE WHEN NULL THEN 'y' ELSE 'n' END").getString(0) == "n")
    assert(one("IF(NULL, 'y', 'n')").getString(0) == "n")
    assert(sql("SELECT v FROM (VALUES (1), (2)) t(v) WHERE NULL")
      .collect().isEmpty)
  }
}
