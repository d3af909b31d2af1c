package graft

import org.scalatest.funsuite.AnyFunSuite

/** CATALOG.md stays mechanically in sync with the SparkEntry registry
  * (round-12 stretch #8): the committed file must equal a fresh
  * generation byte-for-byte — a new gate, a moved operator, or a renamed
  * file fails here until `sbt "Test/runMain graft.CatalogGen"` reruns. */
class CatalogSpec extends AnyFunSuite {

  test("CATALOG.md equals a fresh generation from the registry") {
    val committed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("CATALOG.md")), "UTF-8")
    val fresh = CatalogGen.render()
    assert(committed === fresh,
      "CATALOG.md is stale — regenerate: sbt \"Test/runMain graft.CatalogGen\"")
  }
}
