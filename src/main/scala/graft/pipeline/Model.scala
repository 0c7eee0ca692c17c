package graft.pipeline

/** The reference engine's user-facing data model (SURVEY.md §1.1),
  * as plain Scala case classes.
  */

/** One (Excel file, sheet) pair — reference fsheet.py:8-16.
  * The derived SQL table name reproduces fsheet.py:38-42:
  * `{file_basename}_{sheet}_sheet` (basename strips the extension).
  */
final case class Fsheet(fileName: String, sheet: String) {
  lazy val baseName: String = {
    val dot = fileName.lastIndexOf('.')
    if (dot > 0) fileName.substring(0, dot) else fileName
  }
  lazy val sqlTableName: String = s"${baseName}_${sheet}_sheet"

  /** [[sqlTableName]] as a backtick-quoted identifier, for wherever the
    * name is parsed: a file name may hold `-`, spaces or dots
    * (`sales-2024.xlsx`, `q1.v2.xlsx`).
    */
  lazy val sqlIdentifier: String = "`" + sqlTableName.replace("`", "``") + "`"
}

/** A named SQL query + pivot flag — reference query.py:5-10. */
final case class Query(name: String, sql: String, pivotTable: Boolean) {

  /** Rewrite `<Sheet>.sheet` tokens to the physical table name for the
    * given file, quoted ([[Fsheet.sqlIdentifier]]) — reference
    * query.py:13-27 (format_query).
    *
    * The documented contract (reference query_bundle.py:22-24) is that
    * sheet references are written `<SheetName>.sheet`, whitespace-
    * delimited. We implement that contract as a regex token rewrite,
    * which also preserves trailing punctuation — the reference's
    * split-on-single-space implementation silently drops a trailing
    * comma (quirk Q3 in SURVEY.md §2.F; deliberately not replicated).
    */
  def formatQuery(fileName: String): String =
    Query.SheetRef.replaceAllIn(sql, m =>
      java.util.regex.Matcher.quoteReplacement(Fsheet(fileName, m.group(1)).sqlIdentifier))
}

object Query {
  /** `Sheet1.sheet` style reference: token chars up to the final
    * `.sheet`, not followed by an identifier character.
    */
  private[pipeline] val SheetRef = """([A-Za-z0-9_]+)\.sheet\b""".r
}

/** Output format for a bundle — exact enum, replacing the reference's
  * buggy substring dispatch (`file_extension in '.hyper'`,
  * query_iterator.py:46, quirk Q7).
  */
sealed trait ExportFormat
object ExportFormat {
  case object Hyper extends ExportFormat
  case object Excel extends ExportFormat
}

/** Export unit: N queries × M file-matches × sheets → one output file —
  * reference query_bundle.py:4-52. Scala's type system replaces the
  * reference's scalar→list coercion (query_bundle.py:36-50, A18).
  */
final case class QueryBundle(
    queries: Seq[Query],
    fileMatches: Seq[String],
    sheets: Seq[String],
    exportFileName: String,
    format: ExportFormat)
