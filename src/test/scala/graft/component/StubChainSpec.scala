package graft.component

import graft.SparkSpec

/** `syntax_check` and the dependency analyzer parse through ONE stub
  * chain (`SqlAnalyzer.parseStubbed`), so every statement form the
  * executor runs also passes the check. One row per form that
  * `Executor.runStatement` dispatches. */
class StubChainSpec extends SparkSpec {

  private val forms: Seq[(String, String)] = Seq(
    "CREATE VIEW" -> "CREATE VIEW sc_v AS SELECT a FROM sc_t",
    "CREATE TABLE AS" -> "CREATE OR REPLACE TABLE sc_t2 AS SELECT a FROM sc_t",
    "CREATE TABLE (cols)" ->
      "CREATE TABLE sc_t3 (id INTEGER PRIMARY KEY, v VARCHAR DEFAULT 'x' NOT NULL, CHECK (id > 0))",
    "ADD PRIMARY KEY" -> "ALTER TABLE sc_t ADD PRIMARY KEY (a)",
    "ADD COLUMN" -> "ALTER TABLE sc_t ADD COLUMN b INTEGER DEFAULT 1",
    "ADD COLUMN IF NOT EXISTS" -> "ALTER TABLE sc_t ADD COLUMN IF NOT EXISTS b INTEGER",
    "DROP COLUMN" -> "ALTER TABLE sc_t DROP COLUMN b",
    "RENAME COLUMN" -> "ALTER TABLE sc_t RENAME COLUMN b TO c",
    "ALTER COLUMN TYPE" -> "ALTER TABLE sc_t ALTER COLUMN a TYPE VARCHAR",
    "ALTER COLUMN SET DATA TYPE USING" ->
      "ALTER TABLE sc_t ALTER COLUMN a SET DATA TYPE BIGINT USING a * 2",
    "ALTER COLUMN SET DEFAULT" -> "ALTER TABLE sc_t ALTER COLUMN a SET DEFAULT 0",
    "ALTER COLUMN DROP NOT NULL" -> "ALTER TABLE sc_t ALTER COLUMN a DROP NOT NULL",
    "RENAME TO" -> "ALTER TABLE sc_t RENAME TO sc_t4",
    "DROP TABLE" -> "DROP TABLE IF EXISTS sc_t4",
    "DROP VIEW" -> "DROP VIEW sc_v",
    "INSERT ON CONFLICT" ->
      "INSERT INTO sc_t SELECT a FROM sc_s ON CONFLICT (a) DO UPDATE SET a = excluded.a",
    "INSERT OR REPLACE" -> "INSERT OR REPLACE INTO sc_t SELECT a FROM sc_s",
    "MERGE INTO" -> ("MERGE INTO sc_t USING sc_s ON sc_t.a = sc_s.a " +
      "WHEN MATCHED THEN UPDATE SET a = sc_s.a WHEN NOT MATCHED THEN INSERT VALUES (sc_s.a)"),
    "UPDATE FROM" -> "UPDATE sc_t SET a = sc_s.a FROM sc_s WHERE sc_t.a = sc_s.a",
    "DELETE USING" -> "DELETE FROM sc_t USING sc_s WHERE sc_t.a = sc_s.a",
    "CREATE INDEX" -> "CREATE UNIQUE INDEX sc_ix ON sc_t (a)",
    "DROP INDEX" -> "DROP INDEX sc_ix",
    "INSERT" -> "INSERT INTO sc_t SELECT a FROM sc_s",
    "INSERT RETURNING" -> "INSERT INTO sc_t SELECT a FROM sc_s RETURNING *",
    "EXPORT DATABASE" -> "EXPORT DATABASE '/tmp/sc_dump'",
    "IMPORT DATABASE" -> "IMPORT DATABASE '/tmp/sc_dump'",
    "CREATE SEQUENCE" -> "CREATE SEQUENCE sc_seq START 1",
    "DROP SEQUENCE" -> "DROP SEQUENCE sc_seq",
    "CREATE TYPE" -> "CREATE TYPE sc_mood AS ENUM ('sad', 'ok')",
    "DROP TYPE" -> "DROP TYPE sc_mood",
    "SET VARIABLE" -> "SET VARIABLE sc_x = 1",
    "RESET VARIABLE" -> "RESET VARIABLE sc_x",
    "PREPARE" -> "PREPARE sc_p AS SELECT a FROM sc_t WHERE a = ?",
    "EXECUTE" -> "EXECUTE sc_p(1)",
    "DEALLOCATE" -> "DEALLOCATE sc_p",
    "PRAGMA graft_sequence_blocks" -> "PRAGMA graft_sequence_blocks = 4",
    "COPY TO" -> "COPY sc_t TO '/tmp/sc_o.csv' (HEADER, DELIMITER ',')",
    "COPY FROM" -> "COPY sc_t FROM '/tmp/sc_i.csv' (HEADER)",
    "PIVOT" -> "PIVOT sc_t ON a USING sum(b) GROUP BY c",
    "ASOF JOIN" -> "SELECT t.a, q.b FROM sc_t t ASOF JOIN sc_q q ON t.k = q.k AND t.ts >= q.ts",
    "POSITIONAL JOIN" -> "SELECT * FROM sc_t POSITIONAL JOIN sc_q",
    "UNION BY NAME" -> "SELECT a FROM sc_t UNION BY NAME SELECT a FROM sc_q",
    "star REPLACE" -> "SELECT * REPLACE (a + 1 AS a) FROM sc_t",
    "star RENAME" -> "SELECT * RENAME (a AS b) FROM sc_t",
    "COLUMNS" -> "SELECT COLUMNS('a.*') FROM sc_t",
    "DESCRIBE" -> "DESCRIBE sc_t",
    "SUMMARIZE" -> "SUMMARIZE sc_t",
    "percent LIMIT" -> "SELECT a FROM sc_t LIMIT 10%",
    "DELETE" -> "DELETE FROM sc_t WHERE a = 1",
    "UPDATE" -> "UPDATE sc_t SET a = 2 WHERE a = 1",
    "SELECT" -> "SELECT a FROM sc_t WHERE a > 1")

  private def config(stmt: String): Config = Config.parse(
    s"""{"parameters": {"blocks": [{"name": "B", "codes": [
       |  {"name": "q", "script": ["${stmt.replace("\"", "\\\"")}"]}
       |]}]}, "storage": {}}""".stripMargin)

  test("syntax_check passes every statement form the executor runs") {
    val failing = forms.flatMap { case (form, stmt) =>
      Actions.syntaxCheck(spark, config(stmt)).map(i => s"$form: ${i.message}")
    }
    assert(failing.isEmpty, failing.mkString("\n"))
   }
}
