package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver query registry: one entry per name, every rows-only query
  * shadowed by a hash-gated `_core` twin, and the oracle map Verify
  * writes exactly the registry's gated entries.
  */
class RegistrySpec extends AnyFunSuite {

  private val queries = SparkEntry.queries

  test("query names are unique") {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: $dups")
  }

  test("every query without an oracle has a gated _core twin") {
    val gated = queries.collect { case q if q.oracle.isDefined => q.name }.toSet
    // the twin is `<name>_core`, or `<name minus its last word>_core`
    // (x_canonical_entities -> x_canonical_core)
    def twins(name: String) =
      Seq(s"${name}_core", s"${name.take(name.lastIndexOf('_'))}_core")
    val orphans = queries.filter(_.oracle.isEmpty).map(_.name)
      .filterNot(n => twins(n).exists(gated))
    assert(orphans.isEmpty, s"rows-only queries with no gated _core twin: $orphans")
  }

  test("oracle_sql.json holds exactly the registry's gated entries") {
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.oracleJson(queries), classOf[java.util.Map[String, String]])
    import scala.jdk.CollectionConverters._
    val expected = queries.collect { case SparkEntry.Query(n, _, Some(sql)) => n -> sql }
    assert(parsed.size === expected.size)
    assert(parsed.asScala.toMap === expected.toMap)
  }
}
