package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Markdown

/** Markdown → plain text: block constructs, inline unwrapping,
  * escapes, fence verbatimness, decoy exclusion.
  */
class MarkdownSpec extends AnyFunSuite {

  test("headings, emphasis, links, lists, quotes unwrap") {
    val md = """# Title One
Some **bold** and *italic* and `code span` text.
- item one
- item two
> quoted line
[link text](https://example.test) and ![alt text](img.png)
"""
    val doc = Markdown.mdText(md)
    assert(doc.text ==
      "Title One\nSome bold and italic and code span text.\n" +
        "item one\nitem two\nquoted line\n" +
        "link text and alt text\n")
    assert(doc.nHeadings == 1)
    assert(doc.nLinks == 2)
  }

  test("fenced code keeps its markers verbatim") {
    val md = "```python\n# not a heading\n**not bold**\n```\n"
    val doc = Markdown.mdText(md)
    assert(doc.text == "# not a heading\n**not bold**\n")
    assert(doc.nHeadings == 0)
    assert(doc.nCodeBlocks == 1)
  }

  test("backslash escapes restore literal punctuation") {
    val doc = Markdown.mdText("""\*not emphasis\* and \# not heading""")
    assert(doc.text == "*not emphasis* and # not heading")
  }

  test("unmatched markers stay literal") {
    val doc = Markdown.mdText("a * b and _ c and [ d and ` e")
    assert(doc.text == "a * b and _ c and [ d and ` e")
  }

  test("setext underlines count as headings") {
    val doc = Markdown.mdText("Heading\n===\nbody\n")
    assert(doc.nHeadings == 1)
    assert(doc.text == "Heading\nbody\n")
  }

  test("html tags strip, autolinks keep the url") {
    val doc = Markdown.mdText(
      "<div class=\"x\">kept</div> and <https://u.test/p> and a<b")
    assert(doc.text == "kept and https://u.test/p and a<b")
  }

  test("thematic breaks and reference definitions vanish") {
    val doc = Markdown.mdText("a\n\n---\n\n[ref]: https://x\nb")
    assert(doc.text == "a\n\n\nb")
  }

  test("an escaped `]:` inside link text is not a reference definition") {
    val doc = Markdown.mdText(
      "[a\\]:b](https://x)\n[x\\]y]: https://x\n[[n]]: c")
    assert(doc.text == "a]:b\n[[n]]: c") // the definition line is dropped
    assert(doc.nLinks == 1)
  }

  test("yaml front matter extracts as metadata, never as text") {
    val md = """---
title: "My Post"
date: 2026-08-15
tags: [a, b]
draft: false
not a pair line
---
body starts here
"""
    val doc = Markdown.mdText(md)
    assert(doc.text == "body starts here\n")
    assert(doc.frontMatter == Seq(
      ("title", "My Post"), ("date", "2026-08-15"),
      ("tags", "[a, b]"), ("draft", "false")))
  }

  test("an unterminated front-matter fence is just a thematic break") {
    val doc = Markdown.mdText("---\ntitle: x\nbody")
    assert(doc.frontMatter.isEmpty)
    assert(doc.text == "title: x\nbody")
  }

  test("a mid-document --- never starts front matter") {
    val doc = Markdown.mdText("top\n---\nkey: value\n---\nbottom")
    assert(doc.frontMatter.isEmpty)
    // first --- is a setext underline for "top", second a break
    assert(doc.text.contains("key: value"))
  }

  test("round-trip through the fixture writer") {
    val text = "plain line\nwith *specials* [here](x)\nthird # line\nfourth"
    val got = Markdown.mdText(new String(
      Markdown.mdWrite("T", text.split("\n", -1).toSeq, "code()"),
      "UTF-8"))
    assert(got.text ==
      "T\n\n" + text + "\n\n\ncode()\n\nhtml tag stripped\n")
    assert(got.nHeadings == 1)
    assert(got.nCodeBlocks == 1)
    assert(got.nLinks == 1) // only the wrapped 4th line (i%4==3)
  }
}
