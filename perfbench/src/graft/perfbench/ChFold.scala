package graft.perfbench

import scala.collection.mutable

/** Folds the statements recorded at the ClickHouse target into the table
  * contents a ReplacingMergeTree read (FINAL) would return: the last
  * INSERT per key wins, `ALTER TABLE … DELETE WHERE` removes keys,
  * `TRUNCATE TABLE` clears. Values are kept in the canonical form of
  * [[ChFold.canon]] so they compare with [[PgGen.expected]].
  *
  * Deletes are applied by key lookup, so folding stays linear in the
  * statement text however many delete keys a run produces. */
final class ChFold(keyColumn: String = "id") {
  val tables = mutable.Map.empty[String, mutable.LinkedHashMap[String, Map[String, String]]]
  var inserted = 0L
  var insertBytes = 0L

  private def table(name: String) =
    tables.getOrElseUpdate(name, mutable.LinkedHashMap.empty[String, Map[String, String]])

  def apply(sql: String): Unit = {
    val p = new ChFold.Lexer(sql)
    if (p.keyword("CREATE")) { p.keyword("TABLE"); p.keyword("IF"); p.keyword("NOT"); p.keyword("EXISTS"); table(p.qualified()) }
    else if (p.keyword("INSERT")) {
      p.expectKeyword("INTO")
      insertBytes += sql.length
      val t = table(p.qualified())
      p.expect('(')
      val cols = p.list(')')(p.ident())
      p.expectKeyword("VALUES")
      val ki = cols.indexOf(keyColumn)
      require(ki >= 0, s"INSERT without key column $keyColumn: ${sql.take(120)}")
      var more = true
      while (more) {
        p.expect('(')
        val vals = p.list(')')(p.value())
        require(vals.size == cols.size, s"row has ${vals.size} values for ${cols.size} columns")
        t(vals(ki)) = cols.zip(vals).toMap
        inserted += 1
        more = p.tryChar(',')
      }
      p.end()
    } else if (p.keyword("ALTER")) {
      p.expectKeyword("TABLE")
      val t = table(p.qualified())
      p.expectKeyword("DELETE"); p.expectKeyword("WHERE")
      var more = true
      while (more) {
        p.expect('(')
        val c = p.ident(); p.expect('=')
        require(c == keyColumn, s"DELETE on non-key column $c")
        t.remove(p.value())
        p.expect(')')
        more = p.keyword("OR")
      }
      p.end()
    } else if (p.keyword("TRUNCATE")) {
      p.expectKeyword("TABLE"); table(p.qualified()).clear(); p.end()
    } else throw new IllegalArgumentException(s"unexpected target statement: ${sql.take(120)}")
  }
}

object ChFold {
  def num(v: String): String = "N:" + BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString

  /** Strict scanner for the statement subset the ClickHouse sink emits. */
  final class Lexer(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$msg at char $i of: ${s.slice(math.max(0, i - 40), i + 40)}")

    def keyword(k: String): Boolean = {
      ws()
      val ok = s.regionMatches(true, i, k, 0, k.length) &&
        (i + k.length == s.length || !s.charAt(i + k.length).isLetterOrDigit)
      if (ok) i += k.length
      ok
    }
    def expectKeyword(k: String): Unit = if (!keyword(k)) fail(s"expected $k")
    def tryChar(c: Char): Boolean = { ws(); if (i < s.length && s.charAt(i) == c) { i += 1; true } else false }
    def expect(c: Char): Unit = if (!tryChar(c)) fail(s"expected '$c'")
    def end(): Unit = { ws(); if (i != s.length) fail("trailing text") }

    def ident(): String = {
      ws()
      if (i < s.length && s.charAt(i) == '`') {
        val e = s.indexOf('`', i + 1); if (e < 0) fail("unterminated identifier")
        val r = s.substring(i + 1, e); i = e + 1; r
      } else {
        val st = i
        while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
        if (st == i) fail("expected identifier")
        s.substring(st, i)
      }
    }
    def qualified(): String = { ident(); expect('.'); ident() }

    def list[A](close: Char)(item: => A): Vector[A] = {
      val out = Vector.newBuilder[A]
      if (!tryChar(close)) {
        out += item
        while (tryChar(',')) out += item
        expect(close)
      }
      out.result()
    }

    private def str(): String = {
      expect('\'')
      val sb = new java.lang.StringBuilder
      while (true) {
        if (i >= s.length) fail("unterminated string")
        val c = s.charAt(i)
        if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { sb.append('\''); i += 2 }
          else { i += 1; return sb.toString }
        } else if (c == '\\') {
          if (i + 1 >= s.length) fail("dangling backslash")
          s.charAt(i + 1) match {
            case '\\' => sb.append('\\'); case 'n' => sb.append('\n'); case 'r' => sb.append('\r')
            case '0' => sb.append('\u0000'); case 't' => sb.append('\t'); case '\'' => sb.append('\'')
            case o => fail(s"unsupported escape \\$o")
          }
          i += 2
        } else { sb.append(c); i += 1 }
      }
      fail("unreachable")
    }

    /** One literal in canonical form (null for NULL). */
    def value(): String = {
      ws()
      if (i >= s.length) fail("expected value")
      s.charAt(i) match {
        case '\'' => "S:" + str()
        case '[' => i += 1; list(']')(value()).mkString("A:[", ",", "]")
        case c if c.isDigit || c == '-' || c == '+' =>
          val st = i; i += 1
          while (i < s.length && (s.charAt(i).isDigit || ".eE+-".indexOf(s.charAt(i)) >= 0)) i += 1
          num(s.substring(st, i))
        case _ =>
          if (keyword("NULL")) null
          else if (keyword("TRUE")) "B:true"
          else if (keyword("FALSE")) "B:false"
          else if (keyword("toDateTime")) { expect('('); val v = str(); expect(')'); "T:" + v }
          else if (keyword("toDate")) { expect('('); val v = str(); expect(')'); "D:" + v }
          else fail("expected literal")
      }
    }
  }

  /** Compares the folded target with the source's final contents; returns
    * one line per mismatch (at most `limit` of them, plus a count). */
  def compare(fold: ChFold, source: SourceState, limit: Int = 8): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var n = 0
    def miss(m: String): Unit = { n += 1; if (out.size < limit) out += m }
    source.tables.foreach { t =>
      val got = fold.tables.getOrElse(t.name, mutable.LinkedHashMap.empty[String, Map[String, String]])
      val want = source.rows(t.name)
      val wantKeys = want.keys.map(k => num(k.toString)).toSet
      got.keys.filterNot(wantKeys).foreach(k => miss(s"${t.name}: extra row $k"))
      want.foreach { case (k, raw) =>
        got.get(num(k.toString)) match {
          case None => miss(s"${t.name}: missing row id=$k")
          case Some(row) =>
            t.cols.indices.foreach { ci =>
              val c = t.cols(ci)
              val e = PgGen.expected(c, raw(ci))
              val g = row.getOrElse(c.name, "<absent>")
              if (e != g) miss(s"${t.name}: id=$k ${c.name} expected ${show(e)} got ${show(g)}")
            }
        }
      }
    }
    if (n > limit) out += s"... ${n - limit} more mismatches"
    out.toSeq
  }

  private def show(v: String): String = if (v == null) "NULL" else v.take(60).replace("\n", "\\n")
}
