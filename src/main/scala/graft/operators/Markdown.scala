package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Markdown → plain text (a CommonMark subset) — repository READMEs
  * and docs are a top-quality slice of a code-adjacent corpus, and
  * training on them raw leaks formatting tokens (`##`, `**`, fence
  * markers) into the text distribution.
  *
  * The reference repo has no markup handling (CSV only,
  * `/root/reference/src/trousse/dataset.py:341`). Scope — the block
  * and inline constructs that dominate real READMEs, handled
  * line-based:
  *
  *  - Blocks: ATX headings (`#`–`######`, strip + count), setext
  *    underlines (`===`/`---` promote the previous line, counted),
  *    fenced code blocks (``` / ~~~ — the CODE IS KEPT, the fence
  *    lines and info string are not; counted), blockquote `>`
  *    prefixes, list markers (`-`/`*`/`+`/`N.`), thematic breaks
  *    (dropped), reference-link definition lines (dropped).
  *  - Inlines: backslash escapes over ASCII punctuation (CommonMark
  *    §2.4), backtick code spans (content verbatim, matching-run
  *    rule), emphasis `*`/`**`/`_`/`__` (unwrapped when a matching
  *    closer exists on the line, literal otherwise), links
  *    `[text](url)` → text, images `![alt](url)` → alt, reference
  *    links `[text][ref]` → text, autolinks `<http…>` → the URL,
  *    raw inline HTML tags stripped (`<tag …>`, `</tag>` — an
  *    unmatched `<` stays literal text).
  *
  * Inside fenced code, NOTHING is interpreted — code keeps its
  * `*`/`#`/`[` verbatim. One pass per line; map-only per row.
  */
object Markdown {

  /** Extracted document: plain text, heading/link/code-block
    * censuses, and the YAML front-matter pairs (metadata, NOT text —
    * a Hugo/Jekyll corpus trained raw leaks `title:`/`tags:` lines
    * into the text distribution).
    */
  final case class MdDoc(text: String, nHeadings: Int, nLinks: Int,
      nCodeBlocks: Int, frontMatter: Seq[(String, String)])

  private def isPunct(c: Char): Boolean =
    "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".indexOf(c) >= 0

  /** Inline pass over one line (never called inside code fences). */
  private final class Inline(s: String) {
    private val out = new java.lang.StringBuilder(s.length)
    var nLinks = 0

    /** Forward scan with escape skipping — `\\**` is an ESCAPED
      * backslash followed by a live marker, so a backwards
      * looks-at-the-previous-char test gets the parity wrong.
      */
    private def emphClose(from: Int, marker: String): Int = {
      var i = from
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) i += 2
        else if (s.startsWith(marker, i)) return i
        else i += 1
      }
      -1
    }

    /** First unescaped occurrence of `ch` at or after `from`. */
    private def findUnescaped(ch: Char, from: Int): Int = {
      var i = from
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) i += 2
        else if (c == ch) return i
        else i += 1
      }
      -1
    }

    def run(): String = {
      var i = 0
      val n = s.length
      while (i < n) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < n && isPunct(s.charAt(i + 1))) {
          out.append(s.charAt(i + 1)); i += 2
        } else if (c == '`') {
          // code span: the matching run of the same backtick count
          var run = 1
          while (i + run < n && s.charAt(i + run) == '`') run += 1
          val open = "`" * run
          val close = s.indexOf(open, i + run)
          if (close < 0) { out.append(c); i += 1 }
          else {
            out.append(s, i + run, close) // verbatim, no escapes
            i = close + run
          }
        } else if (c == '*' || c == '_') {
          var run = 1
          while (i + run < n && s.charAt(i + run) == c && run < 2)
            run += 1
          val marker = c.toString * run
          val close = emphClose(i + run, marker)
          if (close < 0) { out.append(marker); i += run }
          else {
            // unwrap: recurse on the span, jump past the closer
            val inner = new Inline(s.substring(i + run, close))
            out.append(inner.run())
            nLinks += inner.nLinks
            i = close + run
          }
        } else if (c == '!' && i + 1 < n && s.charAt(i + 1) == '[') {
          i += 1 // image: fall through to the link rule on '['
        } else if (c == '[') {
          val closeB = findUnescaped(']', i + 1)
          if (closeB < 0) { out.append(c); i += 1 }
          else {
            val after = if (closeB + 1 < n) s.charAt(closeB + 1)
            else ' '
            val endP =
              if (after == '(') findUnescaped(')', closeB + 2)
              else if (after == '[') findUnescaped(']', closeB + 2)
              else -1
            if (endP < 0) { out.append(c); i += 1 }
            else {
              // recurse for nested inlines in the link text
              val innerRes = new Inline(s.substring(i + 1, closeB))
              out.append(innerRes.run())
              nLinks += 1 + innerRes.nLinks
              i = endP + 1
            }
          }
        } else if (c == '<') {
          // autolink or raw HTML tag; an unmatched '<' is text
          val gt = s.indexOf('>', i + 1)
          if (gt < 0) { out.append(c); i += 1 }
          else {
            val body = s.substring(i + 1, gt)
            if (body.startsWith("http://") ||
              body.startsWith("https://")) {
              out.append(body)
              i = gt + 1
            } else if (body.nonEmpty &&
              (Character.isLetter(body.charAt(0)) ||
                (body.charAt(0) == '/' && body.length > 1 &&
                  Character.isLetter(body.charAt(1))))) {
              i = gt + 1 // html tag: stripped
            } else { out.append(c); i += 1 }
          }
        } else { out.append(c); i += 1 }
      }
      out.toString
    }
  }

  private def isThematicBreak(t: String): Boolean = {
    val stripped = t.replace(" ", "")
    stripped.length >= 3 && (stripped.forall(_ == '-') ||
      stripped.forall(_ == '*') || stripped.forall(_ == '_'))
  }

  /** Extract plain text from markdown. Total — markdown has no
    * invalid inputs, only literal text.
    */
  def mdText(md: String): MdDoc = {
    val allLines = Option(md).getOrElse("").split("\n", -1)
    // YAML front matter: a leading `---` line, scalar `key: value`
    // pairs, closed by `---` or `...` — metadata, excluded from text
    val fm = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val lines: Array[String] =
      if (allLines.length > 2 && allLines(0).trim == "---") {
        val close = allLines.indexWhere(
          l => l.trim == "---" || l.trim == "...", 1)
        if (close < 0) allLines
        else {
          for (j <- 1 until close) {
            val l = allLines(j)
            val colon = l.indexOf(':')
            if (colon > 0) {
              val key = l.substring(0, colon).trim
              if (key.nonEmpty &&
                key.forall(c => c.isLetterOrDigit || c == '_' ||
                  c == '-')) {
                var v = l.substring(colon + 1).trim
                if (v.length >= 2 && ((v.head == '"' &&
                  v.last == '"') || (v.head == '\'' &&
                  v.last == '\'')))
                  v = v.substring(1, v.length - 1)
                fm += ((key, v))
              }
            }
          }
          allLines.drop(close + 1)
        }
      } else allLines
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var nHeadings = 0
    var nLinks = 0
    var nCode = 0
    var fence: String = null // "```" or "~~~" while inside
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      val t = line.trim
      if (fence != null) {
        if (t.startsWith(fence)) fence = null
        else out += line // code kept VERBATIM
      } else if (t.startsWith("```") || t.startsWith("~~~")) {
        fence = t.take(3)
        nCode += 1
      } else if (t.startsWith("#")) {
        var h = 0
        while (h < t.length && t.charAt(h) == '#') h += 1
        if (h <= 6 && (t.length == h || t.charAt(h) == ' ')) {
          nHeadings += 1
          val inl = new Inline(
            t.substring(math.min(h + 1, t.length))
              .replaceAll("\\s+#+\\s*$", "")) // closing hashes
          out += inl.run()
          nLinks += inl.nLinks
        } else {
          val inl = new Inline(line)
          out += inl.run(); nLinks += inl.nLinks
        }
      } else if (t.nonEmpty && out.nonEmpty &&
        out.last.nonEmpty && i > 0 && lines(i - 1).trim.nonEmpty &&
        (t.forall(_ == '=') ||
          (t.forall(_ == '-') && t.length >= 2))) {
        nHeadings += 1 // setext underline promotes the line above
      } else if (isThematicBreak(t) && t.nonEmpty) {
        () // dropped
      } else if (isRefDefinition(t)) {
        () // reference-link definition line
      } else {
        // strip blockquote/list prefixes (repeatable); only LEADING
        // whitespace is consumed — trailing spaces are content
        var rest = line
        var changed = true
        while (changed) {
          changed = false
          var lead = 0
          while (lead < rest.length && (rest.charAt(lead) == ' ' ||
            rest.charAt(lead) == '\t')) lead += 1
          val r = rest.substring(lead)
          if (r.startsWith("> ")) {
            rest = r.substring(2); changed = true
          } else if (r == ">") { rest = ""; changed = true }
          else if (r.startsWith("- ") || r.startsWith("* ") ||
            r.startsWith("+ ")) {
            rest = r.substring(2); changed = true
          } else {
            // ordered list: digits + '.' or ')' + space
            var d = 0
            while (d < r.length && r.charAt(d).isDigit) d += 1
            if (d > 0 && d <= 9 && d + 1 < r.length &&
              (r.charAt(d) == '.' || r.charAt(d) == ')') &&
              r.charAt(d + 1) == ' ') {
              rest = r.substring(d + 2); changed = true
            }
          }
        }
        val inl = new Inline(rest)
        out += inl.run(); nLinks += inl.nLinks
      }
      i += 1
    }
    MdDoc(out.mkString("\n"), nHeadings, nLinks, nCode,
      fm.toSeq)
  }

  /** `[label]:` opening a trimmed line: the label ends at the first
    * UNESCAPED `]` and holds no unescaped `[` (CommonMark §4.7), so
    * an escaped `\]:` inside link text is not a definition.
    */
  private def isRefDefinition(t: String): Boolean = {
    if (!t.startsWith("[")) return false
    var i = 1
    while (i < t.length) {
      t.charAt(i) match {
        case '\\' => i += 2
        case '[' => return false
        case ']' => return i > 1 && i + 1 < t.length &&
          t.charAt(i + 1) == ':'
        case _ => i += 1
      }
    }
    false
  }

  // ------------------------------------------------------------------
  // fixture writer
  // ------------------------------------------------------------------

  /** Backslash-escape markdown specials so arbitrary text survives
    * wrapping (CommonMark honors escapes on all ASCII punctuation).
    */
  private[graft] def mdEscape(s: String): String = {
    val out = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ("\\`*_[]<>#+-!.)".indexOf(c) >= 0) out.append('\\')
      out.append(c)
      i += 1
    }
    out.toString
  }

  /** A real markdown document around `lines`: a planted heading, the
    * body lines rotating through emphasis / list / blockquote /
    * link-wrapped forms (escaped so unwrapping restores the line),
    * a fenced code block kept verbatim, and decoys (thematic break,
    * reference definition, html tag).
    */
  def mdWrite(title: String, lines: Seq[String], code: String)
      : Array[Byte] = mdWrite(title, lines, code, fmTitle = null)

  /** As above, with YAML front matter planted when `fmTitle` is
    * non-null (quoted title, a date, a list-valued tags line the
    * scalar parser keeps raw, and a boolean).
    */
  def mdWrite(title: String, lines: Seq[String], code: String,
      fmTitle: String): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    if (fmTitle != null) {
      sb.append("---\n")
      sb.append("title: \"").append(fmTitle).append("\"\n")
      sb.append("date: 2026-08-15\n")
      sb.append("tags: [docs, corpus]\n")
      sb.append("draft: false\n")
      sb.append("---\n")
    }
    sb.append("# ").append(mdEscape(title)).append("\n\n")
    for ((l, i) <- lines.zipWithIndex) {
      // a wrapped blank would read as emphasis-only markers (or a
      // thematic break): blank lines ride verbatim
      if (l.trim.isEmpty) sb.append(l)
      else i % 4 match {
        case 0 => sb.append("**").append(mdEscape(l)).append("**")
        case 1 => sb.append("- ").append(mdEscape(l))
        case 2 => sb.append("> ").append(mdEscape(l))
        case _ => sb.append('[').append(mdEscape(l))
          .append("](https://example.test/x)")
      }
      sb.append('\n')
    }
    sb.append("\n---\n\n")
    sb.append("```scala\n").append(code).append("\n```\n")
    sb.append("\n[ref]: https://example.test/never-text\n")
    sb.append("<div class=\"decoy\">html tag stripped</div>\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  // ------------------------------------------------------------------
  // Spark plumbing
  // ------------------------------------------------------------------

  val mdSchema: StructType = StructType(Seq(
    StructField("md_text", StringType),
    StructField("n_headings", IntegerType),
    StructField("n_links", IntegerType),
    StructField("n_code_blocks", IntegerType),
    StructField("fm_title", StringType),
    StructField("n_fm_keys", IntegerType)))

  /** Decode kernel for [[Multimodal.decodeBatches]]. */
  def decodeMd(bytes: Array[Byte]): Seq[Any] = {
    if (bytes == null)
      return Seq[Any](null, null, null, null, null, null)
    val doc = mdText(new String(bytes, StandardCharsets.UTF_8))
    Seq[Any](doc.text, doc.nHeadings, doc.nLinks, doc.nCodeBlocks,
      doc.frontMatter.collectFirst {
        case ("title", v) => v
      }.getOrElse(""), doc.frontMatter.length)
  }

  /** Per-row synthesizer (map-only): the row's text as the body
    * lines (md-escaped, construct rotating per line), plus the
    * planted heading and a fixed code block.
    */
  def synthMd(df: DataFrame, idCol: String, textCol: String,
      outCol: String): DataFrame = {
    val (ii, ti) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(textCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val text = Option(r.getString(ti)).getOrElse("")
        val id = r.get(ii) match {
          case l: java.lang.Long => l.longValue()
          case x => x.hashCode().toLong
        }
        Row.fromSeq(r.toSeq :+ mdWrite("Doc " + (id % 50),
          text.split("\n", -1).toSeq, "val x = 6 * 7 // fixed",
          "fm " + (id % 30)))
      }
    }(enc)
  }
}
