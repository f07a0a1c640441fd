package graft.component

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.types.IntegerType

/** Every row-changing statement runs as one MERGE derivation
  * ([[Executor]]'s `executeMerge`): one table row per lowered form, each
  * checked for the same contract — RETURNING, a NULL condition, a
  * subquery WHERE, a SET on a missing column (loud) and a SET whose value
  * is wider than the column (cast to the column's type).
  *
  * Every check starts from `rc_t (k INT PRIMARY KEY, x INT, s VARCHAR)`
  * = (1, 10, a), (2, 20, b), (3, NULL, c) and `rc_s (k INT, x INT)` =
  * (2, 200), (3, NULL), (4, 400). Rows read as `k|x|s` strings. */
class RowChangeSpec extends SparkSpec {

  /** `setStmt` builds the form's statement around a SET list; None for
    * forms without one. `nullCheck`'s Left is the error a NULL key
    * raises (the upsert key is a NOT NULL PRIMARY KEY). */
  private final case class Form(
      name: String,
      returning: String, returned: Seq[String], afterReturning: Seq[String],
      nullCheck: String, afterNull: Either[String, Seq[String]],
      subquery: Option[(String, Seq[String])],
      setStmt: Option[String => String])

  private val base = Seq("1|10|a", "2|20|b", "3|null|c")

  private val forms = Seq(
    Form("UPDATE",
      "UPDATE rc_t SET x = x + 1 WHERE k <= 2 RETURNING *",
      Seq("1|11|a", "2|21|b"), Seq("1|11|a", "2|21|b", "3|null|c"),
      "UPDATE rc_t SET s = 'z' WHERE x > 0",
      Right(Seq("1|10|z", "2|20|z", "3|null|c")),
      Some(("UPDATE rc_t SET s = 'e' WHERE EXISTS " +
        "(SELECT 1 FROM rc_s WHERE rc_s.k = rc_t.k)",
        Seq("1|10|a", "2|20|e", "3|null|e"))),
      Some(set => s"UPDATE rc_t SET $set WHERE k = 2")),
    Form("DELETE",
      "DELETE FROM rc_t WHERE k = 1 RETURNING *",
      Seq("1|10|a"), Seq("2|20|b", "3|null|c"),
      "DELETE FROM rc_t WHERE x > 15",
      Right(Seq("1|10|a", "3|null|c")),
      Some(("DELETE FROM rc_t WHERE k IN (SELECT k FROM rc_s)", Seq("1|10|a"))),
      None),
    Form("UPDATE ... FROM",
      "UPDATE rc_t SET x = rc_s.x FROM rc_s WHERE rc_t.k = rc_s.k RETURNING *",
      Seq("2|200|b", "3|null|c"), Seq("1|10|a", "2|200|b", "3|null|c"),
      "UPDATE rc_t SET s = 'z' FROM rc_s WHERE rc_t.k = rc_s.k AND rc_s.x > 0",
      Right(Seq("1|10|a", "2|20|z", "3|null|c")),
      Some(("UPDATE rc_t AS t SET s = 'e' FROM (SELECT k FROM rc_s " +
        "WHERE k IN (SELECT k FROM rc_t WHERE x IS NULL)) q WHERE t.k = q.k",
        Seq("1|10|a", "2|20|b", "3|null|e"))),
      Some(set => s"UPDATE rc_t SET $set FROM rc_s WHERE rc_t.k = rc_s.k")),
    Form("DELETE ... USING",
      "DELETE FROM rc_t USING rc_s WHERE rc_t.k = rc_s.k RETURNING *",
      Seq("2|20|b", "3|null|c"), Seq("1|10|a"),
      "DELETE FROM rc_t USING rc_s WHERE rc_t.k = rc_s.k AND rc_s.x > 0",
      Right(Seq("1|10|a", "3|null|c")),
      Some(("DELETE FROM rc_t AS t USING (SELECT k FROM rc_s " +
        "WHERE x IN (SELECT 400)) q WHERE t.k = q.k", base)),
      None),
    Form("INSERT ... ON CONFLICT DO UPDATE",
      "INSERT INTO rc_t VALUES (2, 0, 'B'), (4, 40, 'd') " +
        "ON CONFLICT (k) DO UPDATE SET s = excluded.s RETURNING *",
      // every PROPOSED row (probed v1.0)
      Seq("2|0|B", "4|40|d"), Seq("1|10|a", "2|20|B", "3|null|c", "4|40|d"),
      "INSERT INTO rc_t VALUES (3, 1, 'C') " +
        "ON CONFLICT (k) DO UPDATE SET s = excluded.s WHERE x > 0",
      Right(base),
      Some(("INSERT INTO rc_t VALUES (1, 0, 'A'), (2, 0, 'B') ON CONFLICT (k) " +
        "DO UPDATE SET s = excluded.s WHERE k IN (SELECT k FROM rc_s)",
        Seq("1|10|a", "2|20|B", "3|null|c"))),
      Some(set => s"INSERT INTO rc_t VALUES (2, 0, 'B') " +
        s"ON CONFLICT (k) DO UPDATE SET $set")),
    Form("INSERT OR REPLACE",
      "INSERT OR REPLACE INTO rc_t VALUES (2, 0, 'B'), (4, 40, 'd') RETURNING *",
      Seq("2|0|B", "4|40|d"), Seq("1|10|a", "2|0|B", "3|null|c", "4|40|d"),
      "INSERT OR REPLACE INTO rc_t VALUES (NULL, 5, 'n')",
      Left("NOT NULL constraint failed"),
      None, None),
    Form("INSERT OR IGNORE",
      "INSERT OR IGNORE INTO rc_t VALUES (2, 0, 'B'), (4, 40, 'd') RETURNING *",
      Seq("2|0|B", "4|40|d"), Seq("1|10|a", "2|20|b", "3|null|c", "4|40|d"),
      "INSERT OR IGNORE INTO rc_t VALUES (NULL, 5, 'n')",
      Left("NOT NULL constraint failed"),
      None, None),
    Form("MERGE",
      "MERGE INTO rc_t USING rc_s ON rc_t.k = rc_s.k " +
        "WHEN MATCHED THEN UPDATE SET x = rc_s.x RETURNING *",
      Seq("2|200|b", "3|null|c"), Seq("1|10|a", "2|200|b", "3|null|c"),
      "MERGE INTO rc_t USING rc_s ON rc_t.k = rc_s.k " +
        "WHEN MATCHED AND rc_s.x > 0 THEN DELETE",
      Right(Seq("1|10|a", "3|null|c")),
      Some(("MERGE INTO rc_t USING (SELECT k FROM rc_s WHERE k IN " +
        "(SELECT 3)) q ON rc_t.k = q.k WHEN MATCHED THEN DELETE",
        Seq("1|10|a", "2|20|b"))),
      Some(set => "MERGE INTO rc_t USING rc_s ON rc_t.k = rc_s.k " +
        s"WHEN MATCHED THEN UPDATE SET $set")))

  private def fresh(): Executor = {
    val ex = new Executor(spark, Files.createTempDirectory("graft_rowchange_").toString)
    Seq("CREATE TABLE rc_t (k INT PRIMARY KEY, x INT, s VARCHAR)",
      "INSERT INTO rc_t VALUES (1, 10, 'a'), (2, 20, 'b'), (3, NULL, 'c')",
      "CREATE TABLE rc_s (k INT, x INT)",
      "INSERT INTO rc_s VALUES (2, 200), (3, NULL), (4, 400)")
      .foreach(s => ex.runStatement(Dialect.rewrite(s)))
    ex
  }

  private def table(): Seq[String] =
    spark.table("rc_t").collect().map(_.mkString("|")).toSeq.sorted

  for (f <- forms) test(s"${f.name} runs as the MERGE derivation") {
    def run(ex: Executor, sql: String) = ex.runStatement(Dialect.rewrite(sql))

    // RETURNING: the affected rows, the table's columns only
    val ex = fresh()
    val ret = run(ex, f.returning).get
    assert(ret.columns.toSeq == Seq("k", "x", "s"), ret.columns.toSeq)
    assert(ret.collect().map(_.mkString("|")).toSeq.sorted == f.returned)
    assert(table() == f.afterReturning)

    // a NULL condition does not fire
    val ex2 = fresh()
    f.afterNull match {
      case Right(want) =>
        run(ex2, f.nullCheck)
        assert(table() == want)
      case Left(err) =>
        val e = intercept[Exception](run(ex2, f.nullCheck))
        assert(e.getMessage.contains(err), e.getMessage)
        assert(table() == base)
    }

    f.subquery.foreach { case (sql, want) =>
      run(fresh(), sql)
      assert(table() == want)
    }

    f.setStmt.foreach { stmt =>
      val ex3 = fresh()
      val e = intercept[UserException](run(ex3, stmt("nosuch = 1")))
      assert(e.getMessage.contains("SET column nosuch does not exist"), e.getMessage)
      // a wider value is cast to the column's type; the column stays INT
      run(ex3, stmt("x = 1.5"))
      assert(spark.table("rc_t").schema("x").dataType == IntegerType)
      assert(table().exists(_.startsWith("2|")) && !table().exists(_.contains("1.5")))
    }
  }
}
