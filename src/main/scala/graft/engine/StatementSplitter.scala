package graft.engine

/**
 * Splitting of a multi-statement SQL string on `;`.
 *
 * The reference accepts multi-statement SQL in one call — `DFParser::
 * parse_sql` returns a statement vector that `execute_inner` loops over
 * (reference: `src/core.rs:103-125`). Spark's `spark.sql` is single-
 * statement, so the engine splits first, at each `;` that
 * [[Dialect.maskSameLength]] leaves in code: a `;` inside a string
 * literal, a quoted identifier or a comment is content. Comments stay
 * part of the statement text.
 */
object StatementSplitter {

  def split(sql: String): Seq[String] = {
    val masked = Dialect.maskSameLength(sql)
    val cuts = masked.indices.filter(masked.charAt(_) == ';')
    ((-1 +: cuts) :+ sql.length).sliding(2)
      .map(w => sql.substring(w(0) + 1, w(1)).trim)
      .filter(_.nonEmpty).toSeq
  }
}
