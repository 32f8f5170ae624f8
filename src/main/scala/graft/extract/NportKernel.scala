package graft.extract

import scala.collection.mutable.ArrayBuffer

/** One extracted portfolio holding (G1 in SURVEY.md §2). Fixed nullable
  * schema replacing the reference's ragged union-of-keys DataFrame
  * (ETFQuarterlyHoldingsExtractor.py:131; divergence recorded in
  * SURVEY.md §1.3). All values stay raw strings — comma-formatted numbers
  * are preserved verbatim (§1.2). */
final case class Holding(
    issuer: Option[String],
    shares: Option[String],
    value_usd: Option[String],
    pct_net_assets: Option[String]) {
  def nonEmpty: Boolean =
    issuer.isDefined || shares.isDefined || value_usd.isDefined || pct_net_assets.isDefined
}

/** A holding joined with its filing's scalar reporting date — the shape the
  * distributed pipeline emits (one row per holding per document). */
final case class ExtractedHolding(
    reporting_date: String,
    issuer: Option[String],
    shares: Option[String],
    value_usd: Option[String],
    pct_net_assets: Option[String])

/** The X1/X2/X3 extraction kernel: NPORT-P XHTML → (reporting date,
  * holdings). A pure function `String => (Option[String], Seq[Holding])`
  * used inside `Dataset.flatMap` — executor-side, no driver round trips
  * (the I1 inversion, SURVEY.md §3.3).
  *
  * Semantics follow ETFQuarterlyHoldingsExtractor.py:64-132 exactly,
  * including unscoped document-order `find_next` navigation (a section
  * missing its own "Item C.2" heading picks up the NEXT section's — the
  * reference's actual bs4 behavior) and first-match `break` for the
  * reporting date (:77).
  *
  * Recorded divergences from the reference:
  *   1. :111 calls `c2.find_next('table')` unguarded — when no "Item C.2"
  *      heading exists anywhere after the section, the reference crashes
  *      with AttributeError. Here: the section contributes whatever C.1
  *      yielded (None kills the whole run in a 100 TB job; per-row nulls
  *      don't).
  *   2. A label cell with no following sibling `<td>` would crash the
  *      reference (`find_next_sibling('td').get_text`); here it reads as
  *      "value absent".
  *   3. Ragged → fixed nullable schema (SURVEY.md §1.3): a holding missing
  *      a field carries null instead of omitting the column.
  */
object NportKernel {
  import XmlLite.{Doc, Node}

  private val PartA = "NPORT-P: Part A: General Information"
  private val ItemA3 = "Item A.3. Reporting period"
  private val DateLabel = "b. Date as of which information is reported"
  private val PartC = "NPORT-P: Part C: Schedule of Portfolio Investments"
  private val ItemC1 = "Item C.1. Identification of investment"
  private val IssuerLabel = "a. Name of issuer (if any)"
  private val ItemC2 = "Item C.2. Amount of each investment"
  private val BalanceLabel = "Balance"
  private val ValueLabel = "Report values in U.S. dollars"
  private val PctLabel = "Percentage value compared to net assets of the Fund"

  private def contains(needle: String): String => Boolean = s => s.contains(needle)

  /** X3 — positional sibling lookup: the value is the `<td>` after the
    * label `<td>` (ref :76,:102,:117,:122,:127). */
  private def siblingValue(doc: Doc, label: Node): Option[String] =
    doc.findNextSibling(label, "td").map(doc.getTextStrip)

  /** X1 — scalar reporting-date extraction (ref :66-82): first Part A
    * section whose A.3 table carries the date label wins; `break`. */
  def reportingDate(doc: Doc): Option[String] =
    // a lazy iterator stops at the first section that yields a date — the
    // ref :77 `break`, without a non-local `return` thrown per document
    doc.findAll("h1", contains(PartA)).iterator.flatMap { section =>
      for {
        a3 <- doc.findNext(section, "h4", contains(ItemA3))
        table <- doc.findNext(a3, "table")
        label <- doc.findDescendant(table, "td", contains(DateLabel))
        date <- siblingValue(doc, label)
      } yield date
    }.nextOption()

  /** X2 — holdings-table extraction, one doc → N rows (ref :84-131). */
  def holdings(doc: Doc): Seq[Holding] = {
    val out = ArrayBuffer.empty[Holding]
    for (section <- doc.findAll("h1", contains(PartC))) {
      // Item C.1 → issuer name (guarded, ref :94-102)
      val issuer = for {
        c1 <- doc.findNext(section, "h4", contains(ItemC1))
        c1Table <- doc.findNext(c1, "table")
        label <- doc.findDescendant(c1Table, "td", contains(IssuerLabel))
        v <- siblingValue(doc, label)
      } yield v
      // Item C.2 → balance / USD value / % net assets (ref :110-127;
      // missing-heading guard is divergence #1 above)
      val c2Table = doc.findNext(section, "h4", contains(ItemC2))
        .flatMap(c2 => doc.findNext(c2, "table"))
      def c2Field(labelText: String): Option[String] = for {
        t <- c2Table
        label <- doc.findDescendant(t, "td", contains(labelText))
        v <- siblingValue(doc, label)
      } yield v
      val h = Holding(
        issuer = issuer,
        shares = c2Field(BalanceLabel),
        value_usd = c2Field(ValueLabel),
        pct_net_assets = c2Field(PctLabel))
      if (h.nonEmpty) out += h // ref :129 `if investment_data`
    }
    out.toSeq
  }

  /** Full kernel (ref `scrape_filing` minus the HTTP fetch): no reporting
    * date ⇒ the whole filing is dropped (ref :80-82 → run() :157). */
  def extract(xhtml: String): (Option[String], Seq[Holding]) = {
    val doc = XmlLite.parse(xhtml)
    reportingDate(doc) match {
      case None => (None, Nil)
      case some => (some, holdings(doc))
    }
  }

  /** Pipeline shape: one row per holding, date attached; date-less or
    * holding-less filings contribute nothing. For `Dataset.flatMap`. */
  def extractRows(xhtml: String): Seq[ExtractedHolding] = {
    val (date, hs) = extract(xhtml)
    date match {
      case None => Nil
      case Some(d) =>
        hs.map(h => ExtractedHolding(d, h.issuer, h.shares, h.value_usd, h.pct_net_assets))
    }
  }
}
