package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private val rows = Array(
    Row(1L, "a", 1.5, Seq("x", "y")),
    Row(2L, null, 0.1 + 0.2, Seq.empty[String]),
    Row(3L, "c", -0.0, Seq("z")))

  test("the digest ignores row order") {
    val d = Digest.of(rows)
    rows.permutations.foreach(p => assert(Digest.of(p) == d))
  }

  test("the digest sees duplicates, dropped rows and single-bit float changes") {
    val d = Digest.of(rows)
    assert(Digest.of(rows :+ rows(0)) != d)
    assert(Digest.of(rows.drop(1)) != d)
    val nudged = rows.updated(1, Row(2L, null, java.lang.Math.nextUp(0.1 + 0.2), Seq.empty[String]))
    assert(Digest.of(nudged) != d)
    assert(Digest.of(rows.updated(2, Row(3L, "c", 0.0, Seq("z")))) != d)
  }

  test("values are rendered by type, so a string never collides with a number") {
    assert(Digest.of(Array(Row("1"))) != Digest.of(Array(Row(1L))))
    assert(Digest.of(Array(Row(null))) != Digest.of(Array(Row("null"))))
  }

  test("the digest spells out the row count") {
    assert(Digest.of(rows).startsWith("rows:3:"))
    assert(Digest.of(Array.empty[Row]) == "rows:0:0000000000000000")
  }
}
