package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The fused tokenize+compact expression must agree exactly with the
  * per-token reference path (AsciiTokens + manual grouping) on arbitrary
  * input — terms, tf and doc length. */
class CompactTokensSpec extends AnyFunSuite {

  /** Reference: AsciiTokens tokenize + group in order of first occurrence. */
  private def reference(s: String): Seq[(String, Int, Int)] = {
    val arr = AsciiTokens.tokenize(UTF8String.fromString(s))
    val toks = (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    toks.foreach(t => m(t) = m.getOrElse(t, 0) + 1)
    m.toSeq.map { case (t, tf) => (t, tf, toks.length) }
  }

  private def fused(s: String): Seq[(String, Int, Int)] = {
    val arr = CompactTokens.compact(UTF8String.fromString(s))
    (0 until arr.numElements()).map { i =>
      val r = arr.get(i, CompactTokens.schema match {
        case org.apache.spark.sql.types.ArrayType(et, _) => et
      }).asInstanceOf[InternalRow]
      (r.getUTF8String(0).toString, r.getInt(1), r.getInt(2))
    }
  }

  private val genContent: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar,
    3 -> Gen.oneOf(' ', '\n', '\t', '.', ',', ';', '(', ')', '{', '}', '_'),
    1 -> Gen.oneOf('é', 'ß', '漢', 'K'))).map(_.mkString)

  test("property: fused compact == AsciiTokens tokenize + group") {
    // on arbitrary mixed-unicode input
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300),
      Prop.forAll(genContent) { s => fused(s) == reference(s) })
    assert(res.passed, res.status.toString)
  }

  test("empty and token-less content compact to an empty array") {
    assert(fused("") == Seq.empty)
    assert(fused(" .,;\n\t") == Seq.empty)
  }

  test("fromTokens mirrors the expression on the same token stream") {
    val s = "Merge sort merge JOIN sort merge"
    val viaExpr = fused(s)
    val viaTokens = CompactTokens
      .fromTokens(s.toLowerCase.split("\\s+").toSeq)
      .map(e => (e.term, e.tf, e.len))
    assert(viaExpr == viaTokens)
  }
}
