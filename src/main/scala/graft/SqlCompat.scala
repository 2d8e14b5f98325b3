package graft

import java.util.regex.Pattern

/** Postgres-dialect shim for [[AdtContext.sql]]: the one place that
  * spells a statement for Spark's parser.
  *
  * The reference parses SQL with the postgres sqlparser dialect
  * (/root/reference/crates/core/src/context.rs:29), so adt scripts can
  * reach DataFusion's postgres regex operators through `ADTContext::sql`.
  * Spark 4 covers `ILIKE` and `::` natively but not `~` and friends, so
  * this rewrites the operator spellings onto Spark's equivalents before
  * parsing (SURVEY §7.4's "light, test-driven SqlCompat"):
  *
  *   - `~` → `RLIKE`, `!~` → `NOT RLIKE` (partial-match regex, the
  *     shared semantics of postgres `~`, DataFusion, Spark RLIKE)
  *   - `~*` / `!~*` → `RLIKE` / `NOT RLIKE` with `(?i)` injected into
  *     the following pattern literal (case-insensitive variants)
  *   - `~~` / `!~~` / `~~*` / `!~~*` → `LIKE` / `NOT LIKE` / `ILIKE` /
  *     `NOT ILIKE` (the postgres operator spellings of LIKE)
  *   - `[NOT] SIMILAR TO 'pat'` → `[NOT] RLIKE '^(?:regex)$'` with the
  *     SQL pattern translated (`%`→`.*`, `_`→`.`; `.` `^` `$` are
  *     ordinary characters in SIMILAR TO and get escaped; `| * + ? {}
  *     () []` pass through — they are regex-meta in both languages)
  *
  * String literals are standard-conforming, as in postgres and
  * DataFusion: `\` is an ordinary character. Spark's default parser
  * reads `\` as an escape, so every backslash inside a `'…'` or `"…"`
  * literal is re-spelled `\\` (a raw `r'…'` or `r"…"` literal is left
  * as it is). Spark then reads the text the user wrote, and no session
  * conf is toggled. A text must pass through here exactly once: a
  * second pass would double the backslashes again.
  *
  * Deliberately conservative: the scan never rewrites operators inside
  * string literals or quoted identifiers; `~` only rewrites in binary
  * position (preceded by an identifier/literal/closing bracket) so unary
  * bitwise `~x` is untouched; the case-insensitive and SIMILAR TO forms
  * rewrite only when the pattern is a string literal immediately
  * following — anything out of scope is left verbatim and fails loudly
  * at parse time instead of silently changing semantics.
  */
object SqlCompat {

  /** Fast path: statements with no candidate token skip the scan. */
  private val Maybe = Pattern.compile("(?i)~|similar\\s+to|\\\\")

  private val SimilarTo =
    Pattern.compile("(?i)SIMILAR\\s+TO(?![A-Za-z0-9_])")

  def rewrite(sql: String): String = {
    if (!Maybe.matcher(sql).find()) return sql
    val n = sql.length
    val out = new StringBuilder(n + 16)
    var i = 0
    // last significant char emitted outside literals ('\'' / '"' / '`'
    // stand in for a literal/quoted-identifier operand) + the last bare
    // word, so `SELECT ~5` / `WHERE ~x` read as unary even though the
    // keyword ends in a letter
    var lastSig: Char = 0
    val word = new StringBuilder
    var inWord = false // word chars are adjacent — a break starts a NEW word
    var pendingCI = false // inject (?i) into the next string literal
    var pendingSimilar = false // translate the next literal as a SIMILAR TO pattern

    def isBinaryLhsEnd(c: Char): Boolean =
      (c.isLetterOrDigit || c == '_' || c == ')' || c == ']' ||
        c == '\'' || c == '"' || c == '`') &&
        !NonOperandKeywords(word.toString.toLowerCase)

    def nextSig(j: Int): Char = {
      var k = j
      while (k < n && sql(k).isWhitespace) k += 1
      if (k < n) sql(k) else 0.toChar
    }

    while (i < n) {
      val c = sql(i)
      // a literal right after the bare word `r` is a Spark raw literal
      val raw = inWord && word.toString.equalsIgnoreCase("r")
      if (c == '\'') {
        val body = new StringBuilder
        i += 1
        var done = false
        while (!done && i < n) {
          if (sql(i) == '\'') {
            if (i + 1 < n && sql(i + 1) == '\'') { body.append("''"); i += 2 }
            else { done = true; i += 1 }
          } else { body.append(sql(i)); i += 1 }
        }
        val b =
          if (pendingSimilar) similarToRegex(body.toString)
          else if (pendingCI) "(?i)" + body.toString
          else body.toString
        pendingSimilar = false; pendingCI = false
        out.append('\'').append(if (raw) b else b.replace("\\", "\\\\"))
          .append('\'')
        lastSig = '\''; word.clear(); inWord = false
      } else if (c == '"' || c == '`') {
        out.append(c); i += 1
        while (i < n && sql(i) != c) {
          // "…" is a string literal to Spark's parser
          if (c == '"' && !raw && sql(i) == '\\') out.append('\\')
          out.append(sql(i)); i += 1
        }
        if (i < n) { out.append(c); i += 1 }
        lastSig = c; word.clear(); inWord = false
      } else if (c == '-' && i + 1 < n && sql(i + 1) == '-') {
        // line comment: copy verbatim to end of line — an apostrophe in
        // comment prose must not open a string literal. The word (and
        // lastSig) survive: a comment between operand and operator is
        // transparent, but a word AFTER the comment starts fresh
        while (i < n && sql(i) != '\n') { out.append(sql(i)); i += 1 }
        inWord = false
      } else if (c == '/' && i + 1 < n && sql(i + 1) == '*') {
        // block comment: copy verbatim through the closing */
        out.append("/*"); i += 2
        while (i + 1 < n && !(sql(i) == '*' && sql(i + 1) == '/')) {
          out.append(sql(i)); i += 1
        }
        if (i + 1 < n) { out.append("*/"); i += 2 }
        else { while (i < n) { out.append(sql(i)); i += 1 } }
        inWord = false
      } else if (c == '!' && i + 1 < n && sql(i + 1) == '~') {
        if (i + 3 < n && sql(i + 2) == '~' && sql(i + 3) == '*') {
          out.append(" NOT ILIKE "); i += 4
        } else if (i + 2 < n && sql(i + 2) == '~') {
          out.append(" NOT LIKE "); i += 3
        } else if (i + 2 < n && sql(i + 2) == '*') {
          if (nextSig(i + 3) == '\'') {
            out.append(" NOT RLIKE "); pendingCI = true; i += 3
          } else { out.append("!~*"); i += 3 }
        } else { out.append(" NOT RLIKE "); i += 2 }
        lastSig = 'E'; word.clear(); inWord = false
      } else if (c == '~' && isBinaryLhsEnd(lastSig)) {
        if (i + 2 < n && sql(i + 1) == '~' && sql(i + 2) == '*') {
          out.append(" ILIKE "); i += 3
        } else if (i + 1 < n && sql(i + 1) == '~') {
          out.append(" LIKE "); i += 2
        } else if (i + 1 < n && sql(i + 1) == '*') {
          if (nextSig(i + 2) == '\'') {
            out.append(" RLIKE "); pendingCI = true; i += 2
          } else { out.append("~*"); i += 2 }
        } else { out.append(" RLIKE "); i += 1 }
        lastSig = 'E'; word.clear(); inWord = false
      } else if ((c == 's' || c == 'S') && wordStart(sql, i)) {
        val m = SimilarTo.matcher(sql)
        m.region(i, n)
        if (m.lookingAt() && nextSig(m.end) == '\'') {
          out.append("RLIKE")
          pendingSimilar = true
          i = m.end
          lastSig = 'E'; word.clear(); inWord = false
        } else {
          out.append(c); lastSig = c
          word.clear(); word.append(c); inWord = true
          i += 1
        }
      } else {
        out.append(c)
        if (c.isLetterOrDigit || c == '_') {
          if (!inWord) word.clear() // a break ended the previous word
          inWord = true
          word.append(c)
        } else {
          inWord = false
          if (!c.isWhitespace) word.clear()
        }
        if (!c.isWhitespace) lastSig = c
        i += 1
      }
    }
    out.toString
  }

  /** Words that end in an identifier character but cannot end an operand
    * — a `~` after one of these is postgres unary bitwise NOT, not the
    * binary regex operator. (`END` is deliberately absent: `CASE … END`
    * DOES end an operand, so `END ~ 'p'` is the binary match.) */
  private val NonOperandKeywords = Set(
    "select", "where", "and", "or", "not", "when", "then", "else", "case",
    "on", "by", "as", "in", "from", "having", "join", "union", "all",
    "distinct", "between", "is", "like", "ilike", "rlike", "set",
    "values", "limit", "offset", "returning", "intersect", "except")

  private def wordStart(sql: String, i: Int): Boolean = {
    if (i == 0) return true
    val p = sql(i - 1)
    !(p.isLetterOrDigit || p == '_')
  }

  /** SQL `SIMILAR TO` pattern → anchored Java regex: `%`→`.*`, `_`→`.`;
    * `.` `^` `$` are ordinary characters in SIMILAR TO (escaped here);
    * `\c` is the SQL escape (default escape character) — the escaped
    * character becomes a LITERAL (`\%` matches `%`, not any string),
    * regex-quoted on emit; a pattern ending in a lone `\` is rejected
    * (postgres errors on it too — fail loudly, never silently);
    * bracket expressions pass through verbatim (including `^` negation);
    * `| * + ? { } ( )` keep their shared regex meaning. */
  private[graft] def similarToRegex(pat: String): String = {
    val sb = new StringBuilder("^(?:")
    val meta = "\\.^$|?*+()[]{}"
    var inClass = false
    var i = 0
    while (i < pat.length) {
      pat(i) match {
        case '\\' if !inClass =>
          require(i + 1 < pat.length,
            s"SIMILAR TO pattern must not end with escape character: $pat")
          val n = pat(i + 1)
          if (meta.indexOf(n.toInt) >= 0) sb.append('\\').append(n)
          else sb.append(n)
          i += 1
        case '%' if !inClass => sb.append(".*")
        case '_' if !inClass => sb.append('.')
        case '[' if !inClass => inClass = true; sb.append('[')
        case ']' if inClass => inClass = false; sb.append(']')
        case c @ ('.' | '^' | '$') if !inClass => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append(")$").toString
  }
}
