package graft

import org.scalatest.funsuite.AnyFunSuite

/** The invariants of `SparkEntry.catalog`, the one record per query
  * that every consumer (Verify, Bench, Explain, tools/gen_queries_md.py
  * and test/test.sh) reads. */
class QueryCatalogSpec extends AnyFunSuite {

  private val names = SparkEntry.catalog.map(_.name)

  test("catalog names are unique and well-formed") {
    assert(names.diff(names.distinct).isEmpty, "duplicate query names")
    names.foreach(n => assert(n.matches("""q\d+b?_[a-z0-9_]+"""), n))
  }

  test("exactly the declared fences q93b and q168 have no oracle") {
    assert(SparkEntry.catalog.filter(_.oracle.isEmpty).map(_.name).toSet ==
      Set("q93b_approx_deciles", "q168_bloom_decontaminate"))
  }

  test("the streaming entries are QUERIES.md's Structured Streaming section") {
    val md = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("QUERIES.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val section = md.split("\n## ").find(_.startsWith("Structured Streaming")).get
    val documented = raw"\| `(q[0-9a-z_]+)` \|".r.findAllMatchIn(section).map(_.group(1)).toSet
    assert(documented.size == 14)
    assert(SparkEntry.catalog.filter(_.streaming).map(_.name).toSet == documented)
  }

  test("select keeps the ONLY name prefixes and drops the SKIP ones") {
    def selected(only: Option[String], skip: Option[String]) =
      SparkEntry.select(only, skip).map(_.name)
    assert(selected(None, None) == names)
    assert(selected(Some(" q01, q24_,"), None) == Seq("q01_pricing_summary", "q24_minhash_lsh"))
    val q9 = selected(Some("q9"), Some("q93,q95"))
    assert(q9.nonEmpty && q9.forall(n => n.startsWith("q9") &&
      !n.startsWith("q93") && !n.startsWith("q95")))
    assert(selected(Some(""), None).isEmpty)
  }
}
