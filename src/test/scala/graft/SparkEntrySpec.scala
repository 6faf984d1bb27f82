package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry integrity: the query map is merged from every family's
  * map — a duplicated key would silently shadow an operator and shrink
  * coverage without any other failure. */
class SparkEntrySpec extends AnyFunSuite {

  test("no query key is shadowed across component maps") {
    val all = SparkEntry.families.flatMap { f =>
      f.queries.keys.map(_ -> f.getClass.getName.stripSuffix("$"))
    }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, s"duplicated query keys: $dups")
    assert(SparkEntry.queries.size == all.size)
  }

  test("every oracle belongs to a query, and rows-only queries are the known set") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"orphan oracles: ${o diff q}")
    val rowsOnly = q diff o
    // Since r12 EVERY query is hash-checked: a13 — long the sole rows-only
    // entry (engine-specific sketch internals) — now gates exact stats plus
    // within-bound booleans the oracle states as TRUE literals.
    assert(rowsOnly.isEmpty, s"unexpected rows-only set: $rowsOnly")
  }
}
