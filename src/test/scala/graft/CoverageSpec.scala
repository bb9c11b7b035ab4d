package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** COVERAGE.md's generated query table must track the registry exactly —
  * a registry change without `runMain graft.Coverage` fails here instead
  * of drifting silently (the prose inventory this replaced drifted
  * twice).
  */
class CoverageSpec extends AnyFunSuite {

  test("COVERAGE.md generated table rows == SparkEntry.queries") {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."))
    val committed = Coverage.committedNames(root)
    assert(committed.nonEmpty, "COVERAGE.md has no generated query table")
    val reg = SparkEntry.queries.keySet
    val missing = reg -- committed.toSet
    val stale = committed.toSet -- reg
    assert(
      missing.isEmpty && stale.isEmpty,
      s"COVERAGE.md drifted from the registry — missing: $missing, stale: $stale; " +
        "regenerate with sbt \"runMain graft.Coverage\""
    )
    assert(committed.size == reg.size, "duplicate rows in the generated table")
  }

  test("every registry query has an oracle (driver contract)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without query: ${o -- q}")
    // a duplicate name in the registry list would collapse in the map
    assert(SparkEntry.queries.size == SparkEntry.registry.size && SparkEntry.registry.size == 212)
  }
}
