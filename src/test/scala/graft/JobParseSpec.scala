package graft

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.JobParse
import graft.html.MiniHtml

/** Golden-fixture port of the reference's only parser test
  * (/root/reference/spark/test_utils.py:10-48): parse_job over the real
  * 157 KB JobsDB page must reproduce the exact 12 field values.
  */
class JobParseSpec extends AnyFunSuite {

  private lazy val html: String = {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream("/sample.html"), "UTF-8")
    try src.mkString finally src.close()
  }

  test("golden: parse_job reproduces the reference's 12 fields") {
    val r = JobParse.parseJob(html, "2026-08-12")
    assert(r.job_title == "IT Technical Support Engineer")
    assert(r.company_name == "Ogawa Health Care International (HK) Ltd")
    assert(r.job_description.nonEmpty)
    assert(!r.job_description.exists(c => c == '<' || c == '>'),
      "job description should not contain html tags")
    assert(r.location == "Kowloon Bay")
    assert(r.official_post_date == "2022-10-03")
    assert(r.min_official_salary == "")
    assert(r.max_official_salary == "")
    assert(r.career_level == "Middle")
    assert(r.qualification == "Non-Degree Tertiary")
    assert(r.job_type == "Full Time, Permanent")
    assert(r.job_functions ==
      "Information Technology (IT); Hardware; Support; Technical / Functional Consulting")
    assert(r.industry == "Trading and Distribution")
  }

  test("'posted N days ago' resolves to the scrape date (F13)") {
    val page =
      """<div data-automation="jobDetailsHeader">
        |<div class="sx2jih0 zcydq86a"><span>Posted 3 days ago</span></div>
        |</div>""".stripMargin.replaceAll("\n", "")
    val r = JobParse.parseJob(page, "2026-08-12")
    assert(r.official_post_date == "2026-08-12")
  }

  test("two-sided salary band parses both bounds (F19 else-branch)") {
    val page =
      """<div data-automation="jobDetailsHeader">
        |<div class="sx2jih0 zcydq86a"><span>HK$11,000 - HK$15,000 /month</span></div>
        |</div>""".stripMargin.replaceAll("\n", "")
    val r = JobParse.parseJob(page, "2026-08-12")
    assert(r.min_official_salary == "11000")
    assert(r.max_official_salary == "15000")
  }

  test("'Above $X/month' sets only the lower bound (F19)") {
    val page =
      """<div data-automation="jobDetailsHeader">
        |<div class="sx2jih0 zcydq86a"><span>Above HK$30,000 /month</span></div>
        |</div>""".stripMargin.replaceAll("\n", "")
    val r = JobParse.parseJob(page, "2026-08-12")
    assert(r.min_official_salary == "30000")
    assert(r.max_official_salary == "")
  }

  test("dd-MMM-yy post date generalizes beyond the reference's '22' hardcode") {
    val page =
      """<div data-automation="jobDetailsHeader">
        |<div class="sx2jih0 zcydq86a"><span>Posted on 15-Jan-25</span></div>
        |</div>""".stripMargin.replaceAll("\n", "")
    val r = JobParse.parseJob(page, "2026-08-12")
    assert(r.official_post_date == "2025-01-15")
  }

  test("missing sections degrade to empty fields, not exceptions") {
    val r = JobParse.parseJob("<html><body><p>nothing here</p></body></html>", "2026-08-12")
    assert(r.job_title == "")
    assert(r.career_level == "")
    assert(r.industry == "")
  }

  test("MiniHtml: entities, nesting, text extraction") {
    val doc = MiniHtml.parse(
      """<div id="a">A &amp; B<span>c</span></div><div class="x y">2nd</div>""")
    assert(doc.find("div", "id" -> "a").get.text() == "A & Bc")
    assert(doc.find("div", "class" -> "x").get.text() == "2nd")   // token match
    assert(doc.find("div", "class" -> "x y").get.text() == "2nd") // exact match
    assert(doc.find("span").get.text() == "c")
  }

  test("MiniHtml: recursive .string and next-sibling lookup") {
    val doc = MiniHtml.parse(
      """<div><div><span>Career Level</span></div><div><span>Middle</span></div></div>""")
    val label = doc.findByString("div", "Career Level")
    assert(label.isDefined)
    val value = label.get.nextSibling.collect { case e: MiniHtml.Elem => e.text() }
    assert(value.contains("Middle"))
  }

  test("MiniHtml: descendants and .string equal their recursive " +
      "definitions on the real page") {
    def preorder(e: MiniHtml.Elem): List[MiniHtml.Elem] =
      e.children.toList.flatMap {
        case c: MiniHtml.Elem => c :: preorder(c)
        case _ => Nil
      }
    def string(e: MiniHtml.Elem): Option[String] = e.children.toList match {
      case List(MiniHtml.TextNode(v)) => Some(v)
      case List(c: MiniHtml.Elem) => string(c)
      case _ => None
    }
    for (page <- Seq(html, "", "<a><b><c>x</c></b></a><d></d>",
        "<a><b>x</b><b>y</b></a>")) {
      val root = MiniHtml.parse(page)
      val expected = preorder(root)
      val got = root.descendants.toList
      assert(got.length === expected.length)
      assert(got.zip(expected).forall { case (a, b) => a eq b })
      assert((root :: expected).forall(e => e.string == string(e)))
    }
  }

  test("MiniHtml: raw-text elements and comments are handled") {
    val doc = MiniHtml.parse(
      """<head><script>if (a < b) { x(); }</script><!-- c --></head><p>ok</p>""")
    assert(doc.find("p").get.text() == "ok")
    assert(doc.find("script").get.text() == "if (a < b) { x(); }")
  }
}
