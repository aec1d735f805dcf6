package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSuite extends AnyFunSuite {
  private val rows = Array(Row(1L, "a", 0.1 + 0.2), Row(2L, null, 1.5))

  test("row order does not matter") {
    assert(Fingerprint.of(rows) === Fingerprint.of(rows.reverse))
  }

  test("doubles compare to 12 significant digits") {
    assert(Fingerprint.of(rows) ===
      Fingerprint.of(Array(Row(1L, "a", 0.3), Row(2L, null, 1.5))))
  }

  test("a perturbed value, a lost row or a duplicated row changes it") {
    val fp = Fingerprint.of(rows)
    assert(fp !== Fingerprint.of(Array(Row(1L, "a", 0.31), rows(1))))
    assert(fp !== Fingerprint.of(Array(Row(1L, "b", 0.3), rows(1))))
    assert(fp !== Fingerprint.of(rows.take(1)))
    assert(fp !== Fingerprint.of(rows :+ rows(1)))
  }

  test("null, nested rows, arrays and maps are canonical") {
    assert(Fingerprint.canon(null) === "null")
    assert(Fingerprint.canon(Row(1, Seq(2.0, 3.5))) === "(1,[2,3.5])")
    assert(Fingerprint.canon(Map("b" -> 1, "a" -> 2)) ===
      Fingerprint.canon(Map("a" -> 2, "b" -> 1)))
  }
}
