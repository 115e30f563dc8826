package graft

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins the query registry: one spec per name, the oracle set, each
  * oracle's exact text (by digest, from `graft/query_oracles.sha256`),
  * and the name selection every main shares. */
class QuerySpecSpec extends AnyFunSuite {

  private val specs = SparkEntry.specs
  private val sketches = Set("q21_approx_distinct", "q29_approx_percentiles", "q39_heavy_hitters")

  /** name → SHA-256 hex of the oracle text, or "-" for no oracle. */
  private lazy val pinned: Map[String, String] = {
    val in = getClass.getResourceAsStream("/graft/query_oracles.sha256")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l => val Array(n, h) = l.trim.split(" +"); n -> h }.toMap
    finally in.close()
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  test("query names are unique") {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    assert(dups.isEmpty)
  }

  test("199 queries, 196 oracles; only the three engine-private sketches have none") {
    assert(specs.size === 199)
    assert(specs.count(_.oracle.isDefined) === 196)
    assert(specs.filter(_.oracle.isEmpty).map(_.name).toSet === sketches)
  }

  test("SparkEntry.queries keeps the registered names") {
    assert(pinned.size === 199)
    assert(SparkEntry.queries.keySet === pinned.keySet)
  }

  test("every oracle's text has its pinned SHA-256") {
    val drift = specs.filter(s => s.oracle.map(sha256).getOrElse("-") != pinned(s.name)).map(_.name)
    assert(drift.isEmpty)
  }

  test("an empty filter selects every query, in name order") {
    val all = specs.map(_.name).sorted
    Seq(None, Some(""), Some(" , ")).foreach { f =>
      assert(QuerySpec.select(f).map(_.name) === all, s"filter $f")
    }
  }

  test("a filter selects the named queries, trimmed, in name order") {
    assert(QuerySpec.select(Some(" q9_rollup,m2_kernel_values ,q1_pricing_summary")).map(_.name) ===
      Seq("m2_kernel_values", "q1_pricing_summary", "q9_rollup"))
  }

  test("a filter naming an unknown query is rejected with that name") {
    val e = intercept[IllegalArgumentException](QuerySpec.select(Some("q1_pricing_summary,nosuchquery")))
    assert(e.getMessage.contains("nosuchquery"))
    assert(!e.getMessage.contains("q1_pricing_summary"))
  }
}
