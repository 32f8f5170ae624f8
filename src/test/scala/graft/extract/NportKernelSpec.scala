package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for the X1/X2/X3 extraction kernel over hand-built XHTML,
  * covering the edge cases called out in SURVEY.md §5.2: happy path,
  * missing issuer, missing C.2 heading (the reference's
  * ETFQuarterlyHoldingsExtractor.py:111 crash case), zero sections,
  * comma-formatted strings kept raw, first-match break, entities, and
  * bs4 `.string` semantics. */
class NportKernelSpec extends AnyFunSuite {

  private def full(issuer: String, shares: String, value: String, pct: String) =
    Holding(Some(issuer), Some(shares), Some(value), Some(pct))

  test("happy path: date + two holdings round-trip") {
    val hs = Seq(
      full("Acme Corp", "1,234", "56,789.00", "1.23"),
      full("Globex LLC", "99", "1,000", "0.04"))
    val doc = NportRender.render(Some("2023-03-31"), hs)
    assert(NportKernel.extract(doc) == (Some("2023-03-31"), hs))
  }

  test("comma-formatted numbers stay raw strings (SURVEY §1.2)") {
    val h = full("X", "12,345,678", "9,876,543.21", "100.00")
    val (_, out) = NportKernel.extract(NportRender.render(Some("2023-01-01"), Seq(h)))
    assert(out.head.shares.contains("12,345,678"))
    assert(out.head.value_usd.contains("9,876,543.21"))
  }

  test("missing issuer row: issuer null, C.2 fields kept (ref :100-102 guard)") {
    val h = Holding(None, Some("5"), Some("10"), Some("0.01"))
    val (d, out) = NportKernel.extract(NportRender.render(Some("2023-01-01"), Seq(h)))
    assert(d.contains("2023-01-01"))
    assert(out == Seq(h))
  }

  test("all-fields-missing holding emits no row (ref :129)") {
    val doc = NportRender.render(Some("2023-01-01"),
      Seq(Holding(None, None, None, None), full("A", "1", "2", "3")))
    val (_, out) = NportKernel.extract(doc)
    assert(out == Seq(full("A", "1", "2", "3")))
  }

  test("zero investment sections: date found, empty holdings") {
    val doc = NportRender.render(Some("2023-06-30"), Nil)
    assert(NportKernel.extract(doc) == (Some("2023-06-30"), Nil))
  }

  test("no reporting date: whole filing dropped (ref :80-82)") {
    val doc = NportRender.render(None, Seq(full("A", "1", "2", "3")))
    assert(NportKernel.extract(doc) == (None, Nil))
  }

  test("first-match break: first Part A date wins (ref :77)") {
    val a = NportRender.render(Some("2023-03-31"), Nil)
    val b = NportRender.render(Some("2024-12-31"), Nil)
    // concatenate two full documents: two Part A sections in one tree
    val (d, _) = NportKernel.extract(a + b)
    assert(d.contains("2023-03-31"))
  }

  test("dateless first Part A falls through to the second (ref :69 loop)") {
    val a = NportRender.render(None, Nil)
    val b = NportRender.render(Some("2024-12-31"), Nil)
    val (d, _) = NportKernel.extract(a + b)
    assert(d.contains("2024-12-31"))
  }

  test("missing C.2 heading in LAST section: per-row nulls, no crash (divergence from ref :111)") {
    val h = Holding(Some("OnlyIssuer"), Some("ignored"), None, None)
    val doc = NportRender.render(Some("2023-01-01"), Seq(h), renderC2Heading = _ => false)
    val (_, out) = NportKernel.extract(doc)
    // shares/value/pct render inside C.2 which was omitted entirely
    assert(out == Seq(Holding(Some("OnlyIssuer"), None, None, None)))
  }

  test("missing C.2 heading bleeds into NEXT section's C.2 (reference bs4 find_next behavior)") {
    val h1 = Holding(Some("First"), Some("111"), None, None)
    val h2 = Holding(Some("Second"), Some("222"), None, None)
    val doc = NportRender.render(Some("2023-01-01"), Seq(h1, h2),
      renderC2Heading = h => h.issuer.contains("Second"))
    val (_, out) = NportKernel.extract(doc)
    // Section 1 has no own C.2; unscoped find_next picks section 2's table.
    assert(out == Seq(
      Holding(Some("First"), Some("222"), None, None),
      Holding(Some("Second"), Some("222"), None, None)))
  }

  test("XML entities decode: AT&T round-trips") {
    val h = full("AT&T Inc. <Class A>", "1", "2", "3")
    val (_, out) = NportKernel.extract(NportRender.render(Some("2023-01-01"), Seq(h)))
    assert(out.head.issuer.contains("AT&T Inc. <Class A>"))
  }

  test("label wrapped in a sole inline tag DOES match (bs4 .string recurses)") {
    // bs4 .string descends a single-tag-child chain:
    // <td><b>label</b></td>.string == "label", so find(string=pred) matches
    val doc =
      """<html><body>
        |<h1>NPORT-P: Part A: General Information</h1>
        |<h4>Item A.3. Reporting period</h4>
        |<table><tr><td><b>b. Date as of which information is reported</b></td><td>2023-01-01</td></tr></table>
        |</body></html>""".stripMargin
    assert(NportKernel.extract(doc) == (Some("2023-01-01"), Nil))
  }

  test("label cell with MIXED children does not match (bs4 .string is None)") {
    // two children (<b> + trailing text) ⇒ .string undefined in bs4
    val doc =
      """<html><body>
        |<h1>NPORT-P: Part A: General Information</h1>
        |<h4>Item A.3. Reporting period</h4>
        |<table><tr><td><b>b. Date as of which information is reported</b> (UTC)</td><td>2023-01-01</td></tr></table>
        |</body></html>""".stripMargin
    assert(NportKernel.extract(doc) == (None, Nil))
  }

  test("label cell with no sibling td reads as absent (divergence #2)") {
    val doc =
      """<html><body>
        |<h1>NPORT-P: Part A: General Information</h1>
        |<h4>Item A.3. Reporting period</h4>
        |<table><tr><td>b. Date as of which information is reported</td></tr></table>
        |</body></html>""".stripMargin
    assert(NportKernel.extract(doc) == (None, Nil))
  }

  test("whitespace-padded cell values are stripped (get_text(strip=True))") {
    val doc =
      """<html><body>
        |<h1>NPORT-P: Part A: General Information</h1>
        |<h4>Item A.3. Reporting period</h4>
        |<table><tr><td>b. Date as of which information is reported</td><td>  2023-01-01  </td></tr></table>
        |</body></html>""".stripMargin
    assert(NportKernel.extract(doc)._1.contains("2023-01-01"))
  }

  test("EDGAR-style markup: attributes, doctype, comments, nested value markup") {
    val doc =
      """<!DOCTYPE html><html><head><meta charset="utf-8"/><title>NPORT-P</title></head>
        |<body class="main">
        |<!-- rendered page -->
        |<h1 style="font-size:12pt">NPORT-P: Part A: General Information</h1>
        |<h4 class="item">Item A.3. Reporting period</h4>
        |<table border="1" width="100%">
        |<tr class="r"><td width="50%">b. Date as of which information is reported</td><td align="right"><b>2023</b>-03-31</td></tr>
        |</table>
        |<h1>NPORT-P: Part C: Schedule of Portfolio Investments</h1>
        |<h4>Item C.1. Identification of investment</h4>
        |<table><tr><td>a. Name of issuer (if any)</td><td><span class="nm">Acme</span> &amp; Co<br/></td></tr></table>
        |<h4>Item C.2. Amount of each investment</h4>
        |<table><tr><td>Balance</td><td> 1,234.00 </td></tr>
        |<tr><td>Report values in U.S. dollars</td><td>55,000</td></tr>
        |<tr><td>Percentage value compared to net assets of the Fund</td><td>2.5</td></tr></table>
        |</body></html>""".stripMargin
    val (date, hs) = NportKernel.extract(doc)
    // get_text(strip=True) strips each fragment then joins with "":
    // "<b>2023</b>-03-31" → "2023"+"-03-31"; "Acme" + " & Co" → "Acme& Co"
    // (the missing space is bs4-faithful)
    assert(date.contains("2023-03-31"))
    assert(hs == Seq(Holding(Some("Acme& Co"), Some("1,234.00"), Some("55,000"), Some("2.5"))))
  }

  test("parser node table: 45-deep nesting, a stray close, a close popping five levels") {
    // d0..d44 nest 45 deep; </x> closes nothing that is open (ignored);
    // </d40> while d44 is innermost pops d44..d40 at once, so <P> (read
    // as p) becomes d39's child and d40's next sibling; <z/> follows d0
    // at top level
    val xml = (0 until 45).map(i => s"<d$i>").mkString + "leaf</x></d40><P>tail</p>" +
      (0 until 40).reverse.map(i => s"</d$i>").mkString + "<z/>"
    val nodes = XmlLite.parse(xml).nodes
    // (tag or text, parent, firstChild, nextSibling, subtreeEnd) per pre-order index
    val got = nodes.toSeq.map(n =>
      (Option(n.tag).getOrElse(n.text), n.parent, n.firstChild, n.nextSibling, n.subtreeEnd))
    val want =
      (0 until 45).map(k => (s"d$k", k - 1, k + 1,
        if (k == 0) 48 else if (k == 40) 46 else -1,
        if (k >= 40) 46 else 48)) ++
      Seq(("leaf", 44, -1, -1, 46), ("p", 39, 47, -1, 48), ("tail", 46, -1, -1, 48),
        ("z", -1, -1, -1, 49))
    assert(got == want)
  }

  test("empty document and garbage input do not crash") {
    assert(NportKernel.extract("") == (None, Nil))
    assert(NportKernel.extract("<<<>>>&&& not html <td>") == (None, Nil))
  }
}
