package graft.component

/** `UPDATE` and `DELETE` in every form (reference behavior: user SQL
  * reaches DuckDB verbatim, `src/query_orchestrator.py:351`), parsed
  * into the one MERGE clause [[Executor]] runs each of them as:
  *  - `UPDATE t [AS a] SET ... [WHERE c]` and `DELETE FROM t [AS a]
  *    [WHERE c]`: the target side alone (no source, no join) under one
  *    `WHEN MATCHED [AND c]` clause;
  *  - `UPDATE t [AS a] SET ... FROM <rel> [AS b] WHERE c` and `DELETE
  *    FROM t [AS a] USING <rel> [AS b] WHERE c` — DuckDB's join forms,
  *    the standard dimension-refresh idiom: `c` is the ON condition of
  *    one `WHEN MATCHED` clause.
  *
  * Probed v1.0 semantics pinned in StatementSurfaceSpec: rows with no
  * match keep their values; when SEVERAL source rows match one target
  * row, DuckDB updates from an arbitrary one (no error) — this engine
  * keeps one arbitrary match per target row too (documented
  * nondeterminism shared with the reference engine). Scope of the join
  * forms: ONE source relation or parenthesized subquery (comma-joined
  * lists reject loudly); WHERE is required (an unconditioned cross-join
  * update is almost certainly a bug — DuckDB would update from an
  * arbitrary row of the whole source). */
object UpdateFromSql {

  /** `sets` empty = DELETE; `fromText` None = no FROM / USING source. */
  final case class Parsed(target: String, targetAlias: Option[String],
                          sets: Seq[(String, String)],
                          fromText: Option[String], where: Option[String]) {
    def label: String = if (sets.isEmpty) "DELETE FROM" else "UPDATE"
    /** With a source the WHERE is the ON condition; without one it
      * guards the clause. */
    def on: String = if (fromText.isDefined) where.getOrElse("") else ""
    def clause: MergeSql.Clause = MergeSql.Clause(0, MergeSql.Matched,
      if (fromText.isDefined) None else where,
      if (sets.isEmpty) MergeSql.Delete else MergeSql.Update(sets))
  }

  private val name = "(`[^`]+`|\"[^\"]+\"|[A-Za-z_][\\w.]*)"
  private val updHead = ("(?is)^\\s*UPDATE\\s+" + name +
    "(?:\\s+(?:AS\\s+)?(?!SET\\b)([A-Za-z_]\\w*))?\\s+SET\\s+").r
  private val delHead = ("(?is)^\\s*DELETE\\s+FROM\\s+" + name +
    "(?:\\s+(?:AS\\s+)?(?!(?:USING|WHERE)\\b)([A-Za-z_]\\w*))?" +
    "(?=\\s*$|\\s+(?:USING|WHERE)\\b)").r

  def parse(stmt0: String): Option[Parsed] = {
    val stmt = stmt0.trim.stripSuffix(";")
    updHead.findFirstMatchIn(stmt).map { hm =>
      val target = Dialect.unquote(hm.group(1))
      val (body, where) = splitWhere(stmt.substring(hm.end))
      // a depth-0 FROM before the WHERE: the join form
      val bm = Dialect.maskQuoted(body)
      val bd = Dialect.depths(bm)
      val fm = "(?is)\\bFROM\\b".r.findAllMatchIn(bm).find(m => bd(m.start) == 0)
      val from = fm.map(m => oneSource(body.substring(m.end), where,
        s"UPDATE $target ... FROM",
        "an unconditioned cross-join update takes an arbitrary source row"))
      val sets = Dialect.splitTop(fm.fold(body)(m => body.substring(0, m.start))).map { a =>
        val eq = Dialect.maskQuoted(a).indexOf('=')
        if (eq < 0) return None
        (Dialect.unquote(a.substring(0, eq).trim.split("\\.").last), a.substring(eq + 1).trim)
      }
      if (sets.isEmpty) return None
      Parsed(target, Option(hm.group(2)), sets, from, where)
    }.orElse(delHead.findFirstMatchIn(stmt).map { hm =>
      val target = Dialect.unquote(hm.group(1))
      val (body, where) = splitWhere(stmt.substring(hm.end))
      val using = "(?is)^\\s*USING\\b".r.findFirstMatchIn(body).map(m =>
        oneSource(body.substring(m.end), where, s"DELETE FROM $target USING",
          "an unconditioned cross-join delete empties the table on any " +
            "non-empty source"))
      Parsed(target, Option(hm.group(2)), Nil, using, where)
    })
  }

  /** (text before the depth-0 WHERE, the condition after it). */
  private def splitWhere(rest: String): (String, Option[String]) = {
    val rm = Dialect.maskQuoted(rest)
    val rd = Dialect.depths(rm)
    "(?is)\\bWHERE\\b".r.findAllMatchIn(rm).find(m => rd(m.start) == 0) match {
      case Some(w) => (rest.substring(0, w.start), Some(rest.substring(w.end).trim))
      case None => (rest, None)
    }
  }

  /** A join form's source text: one relation, and a WHERE to join on. */
  private def oneSource(src: String, where: Option[String],
                        form: String, why: String): String = {
    if (where.isEmpty)
      throw new UserException(s"$form: a WHERE join condition is required ($why)")
    val sm = Dialect.maskQuoted(src)
    val sd = Dialect.depths(sm)
    if (sm.indices.exists(i => sm.charAt(i) == ',' && sd(i) == 0))
      throw new UserException(s"$form: only one source relation is " +
        "supported (pre-join multiple sources in a subquery)")
    src.trim
  }

  /** A source relation split into (text-to-run, alias): a bare name
    * (optionally aliased) or a parenthesized subquery (alias required —
    * DuckDB requires one too). MERGE's USING source follows the same
    * rules. */
  def sourceOf(fromText: String): (String, String) = {
    val t = fromText.trim
    if (t.startsWith("(")) {
      val close = Dialect.matchingParen(Dialect.maskQuoted(t), 0)
      val alias = "(?is)^\\s*(?:AS\\s+)?([A-Za-z_]\\w*)\\s*$".r
        .findFirstMatchIn(t.substring(close + 1))
        .map(_.group(1)).getOrElse(throw new UserException(
          s"UPDATE ... FROM (subquery): an alias is required"))
      (t.substring(1, close), alias)
    } else {
      val m = ("(?is)^" + name + "(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*))?\\s*$").r
        .findFirstMatchIn(t).getOrElse(throw new UserException(
          s"UPDATE ... FROM: unrecognized source relation '$t'"))
      val n = Dialect.unquote(m.group(1))
      (s"SELECT * FROM `${Names.view(n)}`", Option(m.group(2)).getOrElse(n))
    }
  }

  /** Static-analysis twin of a join form: an UpdateTable/DeleteFromTable
    * plan whose EXISTS subquery carries the source dependency — same kind
    * (target is output AND dependency), same dependency set. The plain
    * forms parse as they are. */
  def stub(stmt: String): String =
    parse(stmt).flatMap(p => p.fromText.map { src =>
      val t = s"`${Names.view(p.target)}`"
      val exists = s"WHERE EXISTS (SELECT 1 FROM $src)"
      if (p.sets.isEmpty) s"DELETE FROM $t $exists"
      else s"UPDATE $t SET __graft_stub = 1 $exists"
    }).getOrElse(stmt)
}
