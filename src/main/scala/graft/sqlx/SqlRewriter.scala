package graft.sqlx

import graft.functions.MobFunctions

/** Translates the reference's DuckDB/Postgres SQL dialect into Spark SQL
  * over our registered functions (SURVEY §2.2: "our query-translation
  * layer maps the operator spellings"):
  *
  *  - `'lit'::TYPE` and `typename 'lit'`  →  `type('lit')`
  *  - `expr::TYPE` (non-literal)          →  `to_type(expr)`, or
  *    `type(expr)` for a type without its own cast
  *    ([[MobFunctions.castFunction]]); VARCHAR input parses as a literal
  *  - `A && B` / `A @> B` / `A <@ B`      →  op_overlaps/op_contains/op_contained
  *  - `ARRAY[...]`                        →  `array(...)`
  *  - `TIMESTAMPTZ '...'`                 →  `CAST('...' AS TIMESTAMP)`
  *  - `::WKB_BLOB` / `::GEOMETRY`         →  dropped (WKB binary is native)
  *  - `ST_AsText` → `st_astext`, `setUnnest(x)` → `explode(set_elements(x))`
  */
object SqlRewriter {

  def rewrite(sql0: String): String = {
    var s = sql0.trim.stripSuffix(";")

    // ARRAY[...] -> array(...)
    s = rewriteArrayLiterals(s)

    // typename 'lit' -> typename('lit')   (tint '1@2000-01-01', stbox '...')
    s = """(?i)\b([A-Za-z_]+)\s*'([^']*)'""".r.replaceAllIn(s, m => {
      val ty = m.group(1).toLowerCase
      if (MobFunctions.types(ty))
        s"$ty('${java.util.regex.Matcher.quoteReplacement(m.group(2))}')"
      else if (ty == "timestamptz")
        s"CAST('${m.group(2)}' AS TIMESTAMP)"
      else if (ty == "double" || ty == "float")
        s"CAST('${m.group(2)}' AS DOUBLE)"
      else if (ty == "geometry")
        s"st_geomfromtext('${m.group(2)}')"
      else m.matched
    })

    // literal casts: 'lit'::TYPE  ->  type('lit')
    s = """'([^']*)'\s*::\s*([A-Za-z_]+)""".r.replaceAllIn(s, m => {
      val lit = m.group(1); val ty = m.group(2).toLowerCase
      if (MobFunctions.types(ty)) s"$ty('${java.util.regex.Matcher.quoteReplacement(lit).replace("\\", "\\\\")}')"
      else if (ty == "timestamptz" || ty == "timestamp") s"CAST('$lit' AS TIMESTAMP)"
      else if (ty == "date") s"DATE '$lit'"
      else if (ty == "interval") s"INTERVAL '$lit'"
      else m.matched
    })

    // wrap bare strings in arrays with the first element's constructor
    s = coerceArrayElems(s)

    // CAST(expr AS mobtype) -> its cast function
    s = rewriteCastAs(s)

    // expr::TYPE (non-literal): drop WKB/GEOMETRY, else to_type(...)
    s = rewriteExprCasts(s)

    // function spelling differences
    s = s.replaceAll("(?i)\\bST_AsText\\s*\\(", "st_astext(")
    s = s.replaceAll("(?i)\\bST_GeomFromText\\s*\\(", "st_geomfromtext(")
    // DuckDB's list() aggregate = Spark's collect_list() (benchmark q5).
    // Bare call position only: \b keeps collect_list/string_split intact
    // ('_' is a word char), (?<!\.) skips qualified names like
    // schema.list(x), and string literals are left untouched. DuckDB's
    // list(x ORDER BY y) form is NOT supported (Spark's collect_list
    // cannot parse it) — callers sort upstream instead.
    s = mapOutsideLiterals(s)(
      _.replaceAll("(?i)(?<!\\.)\\blist\\s*\\(", "collect_list("))
    s = """(?is)^\s*SELECT\s+\*\s+FROM\s+setUnnest\s*\((.*)\)\s*$""".r
      .replaceAllIn(s, m => s"SELECT explode(set_elements(${m.group(1)}))")

    // topological operator spellings at top level of each select item
    s = rewriteOps(s)
    s
  }


  /** DuckDB implicitly casts bare string literals inside an ARRAY to the
    * type of the first element; mirror that by wrapping bare strings with
    * the constructor used by the first element. */
  private def coerceArrayElems(s0: String): String = {
    var s = s0
    var searchFrom = 0
    var idx = s.indexOf("array(", searchFrom)
    while (idx >= 0) {
      val open = idx + 5
      var depth = 0
      var end = open
      var inQ = false
      while (end < s.length && (depth != 0 || end == open)) {
        val c = s.charAt(end)
        if (inQ) { if (c == '\'') inQ = false }
        else if (c == '\'') inQ = true
        else if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        end += 1
      }
      val inner = s.substring(open + 1, end - 1)
      val parts = graft.core.TextIO.splitTop(inner)
      val ctorRe = """(?s)^\s*([A-Za-z_]+)\s*\(\s*'.*'\s*\)\s*$""".r
      val castRe = """(?si)^\s*CAST\s*\(\s*'.*'\s+AS\s+([A-Za-z_]+)\s*\)\s*$""".r
      val bareRe = """(?s)^\s*'(.*)'\s*$""".r
      val wrap: Option[String => String] = parts.collectFirst {
        case ctorRe(name) => (lit: String) => s"$name('$lit')"
        case castRe(ty) => (lit: String) => s"CAST('$lit' AS $ty)"
      }
      if (wrap.isDefined && parts.exists(p => bareRe.pattern.matcher(p).matches())) {
        val fixed = parts.map {
          case bareRe(lit) => wrap.get(lit)
          case other => other
        }.mkString(",")
        s = s.substring(0, open + 1) + fixed + s.substring(end - 1)
      }
      searchFrom = idx + 6
      idx = s.indexOf("array(", searchFrom)
    }
    s
  }

  private def rewriteArrayLiterals(s: String): String = {
    // DuckDB list syntax: ARRAY[...] or bare [...] outside quotes both
    // become array(...)
    val sb = new StringBuilder
    var i = 0
    var inQ = false
    var depth = 0
    val arrayWord = "(?is)^array\\s*\\[".r
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { sb.append(c); if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { sb.append(c); inQ = true; i += 1 }
      else {
        val m = arrayWord.findFirstIn(s.substring(i, math.min(s.length, i + 12)))
        if (m.isDefined) { sb.append("array("); depth += 1; i += m.get.length }
        else if (c == '[') { sb.append("array("); depth += 1; i += 1 }
        else if (c == ']' && depth > 0) { sb.append(')'); depth -= 1; i += 1 }
        else { sb.append(c); i += 1 }
      }
    }
    sb.toString
  }


  /** `CAST(expr AS mobtype)` → its cast function (Spark cannot cast to
    * our struct types). */
  private def rewriteCastAs(s0: String): String = {
    var s = s0
    var from = 0
    var idx = indexOfIgnoreCase(s, "cast", from)
    while (idx >= 0) {
      var i = idx + 4
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
      if (i < s.length && s.charAt(i) == '(') {
        val open = i
        var depth = 1
        var inQ = false
        var asIdx = -1
        i += 1
        while (i < s.length && depth > 0) {
          val c = s.charAt(i)
          if (inQ) { if (c == '\'') inQ = false }
          else c match {
            case '\'' => inQ = true
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
              if (depth == 1 && s.regionMatches(true, i, " as ", 0, 4)) asIdx = i
          }
          i += 1
        }
        val close = i - 1
        if (asIdx > 0 && depth == 0) {
          val ty = s.substring(asIdx + 4, close).trim.toLowerCase
          MobFunctions.castFunction(ty).foreach { f =>
            val operand = s.substring(open + 1, asIdx)
            s = s.substring(0, idx) + s"$f($operand)" + s.substring(close + 1)
          }
        }
      }
      from = idx + 4
      idx = indexOfIgnoreCase(s, "cast", from)
    }
    s
  }

  /** Apply `f` to the segments of `s` outside single-quoted SQL string
    * literals ('' escapes a quote), leaving literal bodies untouched. */
  private def mapOutsideLiterals(s: String)(f: String => String): String = {
    val out = new StringBuilder
    val seg = new StringBuilder
    var i = 0
    var inLit = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (!inLit) {
        if (c == '\'') { out.append(f(seg.toString)); seg.clear(); out.append(c); inLit = true }
        else seg.append(c)
      } else {
        out.append(c)
        if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { out.append('\''); i += 1 }
          else inLit = false
        }
      }
      i += 1
    }
    out.append(f(seg.toString))
    out.toString
  }

  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    var i = from
    while (i <= s.length - needle.length) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** Rewrite non-literal `expr::TYPE` into its cast call by scanning for
    * `::` and capturing the preceding balanced expression (a parenthesized
    * call with optional function name, or a dotted identifier). */
  private def rewriteExprCasts(s0: String): String = {
    var s = s0
    var idx = s.indexOf("::")
    while (idx >= 0) {
      var e = idx + 2
      while (e < s.length && s.charAt(e).isWhitespace) e += 1
      val tyStart = e
      while (e < s.length && (s.charAt(e).isLetterOrDigit || s.charAt(e) == '_')) e += 1
      val ty = s.substring(tyStart, e).toLowerCase
      var j = idx - 1
      while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
      val end = j + 1
      var start = 0
      if (j >= 0 && s.charAt(j) == ')') {
        var depth = 0
        var k = j
        var open = -1
        while (k >= 0 && open < 0) {
          val c = s.charAt(k)
          if (c == '\'') { // skip backwards over quoted literal
            k -= 1
            while (k >= 0 && s.charAt(k) != '\'') k -= 1
          } else if (c == ')') depth += 1
          else if (c == '(') { depth -= 1; if (depth == 0) open = k }
          k -= 1
        }
        var f = open - 1
        while (f >= 0 && (s.charAt(f).isLetterOrDigit || s.charAt(f) == '_')) f -= 1
        start = f + 1
      } else {
        var f = j
        while (f >= 0 && (s.charAt(f).isLetterOrDigit || s.charAt(f) == '_' || s.charAt(f) == '.')) f -= 1
        start = f + 1
      }
      val operand = s.substring(start, end)
      val repl =
        if (ty == "wkb_blob" || ty == "blob") operand
        else if (ty == "geometry") s"to_geometry($operand)"
        else MobFunctions.castFunction(ty).fold(
          s"CAST($operand AS ${sparkType(ty)})")(f => s"$f($operand)")
      s = s.substring(0, start) + repl + s.substring(e)
      idx = s.indexOf("::")
    }
    s
  }

  private def sparkType(t: String): String = t match {
    case "timestamptz" => "TIMESTAMP"
    case "varchar" | "text" => "STRING"
    case other => other.toUpperCase
  }

  /** Replace top-level `A && B`, `A @> B`, `A <@ B`, `A -|- B` with
    * function calls. Scans the whole statement; operators at paren-depth
    * within WHERE/SELECT work because we split on the operator and take the
    * maximal balanced operand on each side. */
  private def rewriteOps(s0: String): String = {
    var s = s0
    val ops = Seq("&&" -> "op_overlaps", "@>" -> "op_contains",
      "<@" -> "op_contained", "-|-" -> "op_adjacent")
    var changed = true
    while (changed) {
      changed = false
      for ((op, fn) <- ops if !changed) {
        val idx = findTopLevel(s, op)
        if (idx >= 0) {
          val (lStart, lEnd) = operandLeft(s, idx)
          val (rStart, rEnd) = operandRight(s, idx + op.length)
          val left = s.substring(lStart, lEnd).trim
          val right = s.substring(rStart, rEnd).trim
          s = s.substring(0, lStart) + s" $fn($left, $right)" + s.substring(rEnd)
          changed = true
        }
      }
    }
    s
  }

  private def findTopLevel(s: String, op: String): Int = {
    var i = 0; var inQ = false
    while (i <= s.length - op.length) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { inQ = true; i += 1 }
      else if (s.startsWith(op, i)) return i
      else i += 1
    }
    -1
  }

  /** Left operand: walk back over balanced tokens until a boundary
    * (comma, SELECT/WHERE/AND/OR keyword, opening paren at depth 0). */
  private def operandLeft(s: String, opIdx: Int): (Int, Int) = {
    var j = opIdx - 1
    while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
    val end = j + 1
    var depth = 0
    var start = 0
    var k = j
    var done = false
    while (k >= 0 && !done) {
      val c = s.charAt(k)
      if (c == ')') depth += 1
      else if (c == '(') {
        if (depth == 0) { start = k + 1; done = true }
        else depth -= 1
      } else if (c == ',' && depth == 0) { start = k + 1; done = true }
      if (!done) k -= 1
    }
    if (!done) start = 0
    // strip everything through the LAST leading keyword (SELECT, WHERE,
    // AND, OR, ON, WHEN, THEN...) — greedy .* so a multi-clause prefix
    // ("SELECT id FROM t WHERE box && ...") strips to just the operand,
    // not to the first keyword of the statement
    val seg = s.substring(start, end)
    val kw = """(?is)^(.*\b(?:select|where|and|or|on|when|then|from|not)\b)(.*)$""".r
    seg match {
      case kw(pre, rest) if rest.trim.nonEmpty => (start + pre.length, end)
      case _ => (start, end)
    }
  }

  private def operandRight(s: String, from: Int): (Int, Int) = {
    var i = from
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    val start = i
    var depth = 0
    var inQ = false
    var done = false
    while (i < s.length && !done) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '(' => depth += 1
        case ')' => if (depth == 0) done = true else depth -= 1
        case ',' if depth == 0 => done = true
        case ';' if depth == 0 => done = true
        case ' ' | '\t' | '\n' | '\r' if depth == 0 =>
          // stop at keyword boundaries (AND/OR/AS/FROM/ORDER/GROUP...)
          val rest = s.substring(i).trim.toLowerCase
          if (Seq("and ", "or ", "as ", "from ", "order ", "group ", "limit ",
              "where ", "when ", "then ", "else ", "end").exists(rest.startsWith))
            done = true
        case _ => ()
      }
      if (!done) i += 1
    }
    (start, i)
  }
}
