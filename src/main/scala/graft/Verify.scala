package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** DuckDB inlines a CTE at every reference site: a chain where one
    * relation feeds four consumers replays its whole upstream pipeline
    * 4x (q144's oracle: 322 s raw, 0.3 s with every CTE MATERIALIZED
    * at sf0.01 — measured round 10). MATERIALIZED is a semantics-
    * neutral hint, so it is applied centrally at dump time: every
    * composed oracle, current and future, ships bounded SQL to the
    * driver.
    *
    * Implemented as a WITH-chain WALKER, not a line regex (the round-10
    * regex rewrote any line-start `name AS (`, which would corrupt a
    * multi-definition WINDOW clause continuation line like `w2 AS (`):
    * from each `WITH [RECURSIVE]` keyword the walker follows the
    * comma-separated definition list — identifier, optional column
    * list, `AS`, balanced parenthesised body — inserting MATERIALIZED
    * only at genuine definition sites. Members carrying a column list
    * (the recursive-member shape, `reach(node, lab) AS (`) and members
    * already hinted pass through untouched; single-quoted strings and
    * `--` comments are skipped so parens inside literals cannot
    * unbalance the walk. Anything that stops parsing as a definition
    * chain ends the walk with zero edits past that point.
    */
  private[graft] def materializeCtes(sql: String): String = {
    val sb = new StringBuilder(sql)
    def isIdentChar(c: Char): Boolean =
      c.isLetterOrDigit || c == '_'
    // index just past the closing quote of the string opening at `from`
    def skipString(from: Int): Int = {
      var i = from + 1
      while (i < sb.length) {
        if (sb.charAt(i) == '\'') {
          if (i + 1 < sb.length && sb.charAt(i + 1) == '\'') i += 2
          else return i + 1
        } else i += 1
      }
      i
    }
    def skipWsAndComments(from: Int): Int = {
      var i = from
      var moved = true
      while (moved && i < sb.length) {
        moved = false
        while (i < sb.length && sb.charAt(i).isWhitespace) { i += 1; moved = true }
        if (i + 1 < sb.length && sb.charAt(i) == '-' && sb.charAt(i + 1) == '-') {
          while (i < sb.length && sb.charAt(i) != '\n') i += 1
          moved = true
        }
      }
      i
    }
    def keywordAt(i: Int, kw: String): Boolean =
      i + kw.length <= sb.length &&
        sb.substring(i, i + kw.length).equalsIgnoreCase(kw) &&
        (i == 0 || !isIdentChar(sb.charAt(i - 1))) &&
        (i + kw.length == sb.length || !isIdentChar(sb.charAt(i + kw.length)))
    // index just past the `)` balancing the `(` at `open` (string- and
    // comment-aware); sb.length if unbalanced
    def skipBalanced(open: Int): Int = {
      var i = open
      var depth = 0
      while (i < sb.length) {
        sb.charAt(i) match {
          case '(' => depth += 1; i += 1
          case ')' =>
            depth -= 1; i += 1
            if (depth == 0) return i
          case '\'' => i = skipString(i)
          case '-' if i + 1 < sb.length && sb.charAt(i + 1) == '-' =>
            while (i < sb.length && sb.charAt(i) != '\n') i += 1
          case _ => i += 1
        }
      }
      i
    }
    // walk one WITH definition chain starting just past the WITH
    // keyword; returns the index to resume the outer scan from
    def rewriteChain(from0: Int): Int = {
      var i = skipWsAndComments(from0)
      if (keywordAt(i, "RECURSIVE")) i = skipWsAndComments(i + 9)
      var done = false
      while (!done) {
        val idStart = i
        if (i < sb.length && (sb.charAt(i).isLetter || sb.charAt(i) == '_'))
          while (i < sb.length && isIdentChar(sb.charAt(i))) i += 1
        if (i == idStart) return i
        var j = skipWsAndComments(i)
        var hasColList = false
        if (j < sb.length && sb.charAt(j) == '(') {
          hasColList = true
          j = skipWsAndComments(skipBalanced(j))
        }
        if (!keywordAt(j, "AS")) return j
        j = skipWsAndComments(j + 2)
        var hinted = false
        if (keywordAt(j, "NOT")) { hinted = true; j = skipWsAndComments(j + 3) }
        if (keywordAt(j, "MATERIALIZED")) {
          hinted = true; j = skipWsAndComments(j + 12)
        }
        if (j >= sb.length || sb.charAt(j) != '(') return j
        if (!hasColList && !hinted) {
          sb.insert(j, "MATERIALIZED ")
          j += "MATERIALIZED ".length
        }
        j = skipWsAndComments(skipBalanced(j))
        if (j < sb.length && sb.charAt(j) == ',') i = skipWsAndComments(j + 1)
        else { done = true; i = j }
      }
      i
    }
    var i = 0
    while (i < sb.length) {
      sb.charAt(i) match {
        case '\'' => i = skipString(i)
        case '-' if i + 1 < sb.length && sb.charAt(i + 1) == '-' =>
          while (i < sb.length && sb.charAt(i) != '\n') i += 1
        case c if (c == 'W' || c == 'w') && keywordAt(i, "WITH") =>
          // rewrite this chain, then resume scanning right after the
          // keyword: CTE bodies may hold nested WITHs of their own
          // (rewriteChain skips bodies; re-visiting a processed site
          // is idempotent via the `hinted` check)
          rewriteChain(i + 4)
          i += 4
        case _ => i += 1
      }
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // extra args = substring filters for fast local iteration on a
    // query subset (the driver always passes exactly two args)
    val only = args.drop(2)
    def selected(name: String): Boolean =
      only.isEmpty || only.exists(name.contains)
    val spark = SparkEntry.session(SparkEntry.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(materializeCtes(v))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
