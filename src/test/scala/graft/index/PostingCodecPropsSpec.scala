package graft.index

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import PostingCodec._

/** ScalaCheck properties for the posting-list wire format (SURVEY.md §5.4):
  * encode∘decode = id, block seeks agree with full decodes, merge of
  * arbitrary runs equals a flat sort, and block-max bounds really bound
  * every in-block weight — the invariants MaxScore pruning relies on. */
class PostingCodecPropsSpec extends AnyFunSuite {

  private val genPosting: Gen[(Long, Int, Int)] = for {
    gap <- Gen.chooseNum(1L, 1L << 40)
    tf <- Gen.chooseNum(1, 50000)
    len <- Gen.chooseNum(1, 1 << 20)
  } yield (gap, tf, len)

  /** Sorted distinct postings with gaps spanning 1 .. 2^40. */
  private val genPostings: Gen[Array[Posting]] =
    Gen.chooseNum(0, 600).flatMap { n =>
      Gen.listOfN(n, genPosting).map { raw =>
        var prev = -1L
        raw.map { case (gap, tf, len) =>
          prev += gap
          Posting(prev, tf, len)
        }.toArray
      }
    }

  private def check(name: String)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("property: encode then decode is the identity") {
    check("roundtrip")(Prop.forAll(genPostings) { ps =>
      val (bytes, _) = encode(ps, avgdl = 100.0, k1 = 1.2, b = 0.75)
      decode(bytes).toSeq == ps.toSeq
    })
  }

  test("property: block metadata allows independent block seeks") {
    check("block seeks")(Prop.forAll(genPostings) { ps =>
      val (bytes, blocks) = encode(ps, 100.0, 1.2, 0.75)
      val joined = blocks.zipWithIndex.flatMap { case (bm, i) =>
        val prevLast = if (i == 0) -1L else blocks(i - 1).last_doc_id
        val count = math.min(BlockSize, ps.length - i * BlockSize)
        decodeBlock(bytes, bm.offset, prevLast, count)
      }
      joined.toSeq == ps.toSeq
    })
  }

  test("property: block-max metadata bounds every posting in its block") {
    check("block-max bounds")(Prop.forAll(genPostings) { ps =>
      val (_, blocks) = encode(ps, 100.0, 1.2, 0.75)
      ps.grouped(BlockSize).zip(blocks.iterator).forall { case (grp, bm) =>
        grp.forall(p => weight(p.tf, p.len, 100.0, 1.2, 0.75) <= bm.max_weight + 1e-12) &&
          grp.forall(_.tf <= bm.max_tf) &&
          grp.last.doc_id == bm.last_doc_id
      }
    })
  }

  test("property: streaming mergeStreams == object-path chunking") {
    // byte-identical postings and identical block metadata per chunk
    val genChunkSize = Gen.oneOf(7, 64, 1 << 17)
    check("mergeStreams")(Prop.forAll(genPostings, Gen.chooseNum(1, 8),
        genChunkSize) { (ps, k, chunkSize) =>
      val slices = ps.grouped(math.max(1, ps.length / k + 1)).toSeq
        .filter(_.nonEmpty)
      val runs = slices.map(encode(_, 100.0, 1.2, 0.75)._1)
      val got = mergeStreams(runs, 100.0, 1.2, 0.75, chunkSize)
      val want = ps.grouped(chunkSize).toSeq.map { cps =>
        val (bytes, blocks) = encode(cps, 100.0, 1.2, 0.75)
        (cps.head.doc_id, cps.last.doc_id, cps.length, blocks, bytes)
      }
      got.length == want.length && got.zip(want).forall {
        case (g, (first, last, n, blocks, bytes)) =>
          g.first_doc_id == first && g.last_doc_id == last && g.n == n &&
            java.util.Arrays.equals(g.bytes, bytes) &&
            g.blocks.toSeq == blocks.toSeq
      }
    })
  }

  test("mergeStreams rejects interleaved (non-disjoint) runs") {
    val a = Array(Posting(1L, 1, 10), Posting(5L, 1, 10))
    val b = Array(Posting(3L, 1, 10))
    val runs = Seq(a, b).map(encode(_, 100.0, 1.2, 0.75)._1)
    assertThrows[IllegalArgumentException] {
      mergeStreams(runs, 100.0, 1.2, 0.75, 1 << 17)
    }
  }

  test("property: mergeRuns of arbitrary splits == flat sort") {
    // interleaved runs defeat the disjoint fast path; contiguous slices use it
    check("mergeRuns")(Prop.forAll(genPostings, Gen.chooseNum(1, 8)) { (ps, k) =>
      val interleaved = (0 until k).map(i => ps.zipWithIndex.collect {
        case (p, j) if j % k == i => p
      })
      val slices = ps.grouped(math.max(1, ps.length / k + 1)).toSeq
      val expected = ps.sortBy(_.doc_id).toSeq
      mergeRuns(interleaved).toSeq == expected && mergeRuns(slices).toSeq == expected
    })
  }
}
