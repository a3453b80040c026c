package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One compacted posting entry of a single document, produced doc-at-a-time
  * by [[CompactTokens]] (or [[CompactTokens.fromTokens]] for the code
  * analyzer): the term, its in-document frequency and the document's token
  * count. */
final case class TermEntry(term: String, tf: Int, len: Int)

/** Fused tokenize → per-document posting compaction as ONE codegen'd
  * Catalyst expression: `content → array<struct<term, tf, len>>`, one entry
  * per DISTINCT term of the document.
  *
  * This is the build's map side collapsed to a single expression eval per
  * document. The previous shape — tokenize, `posexplode` one row per token,
  * `sortWithinPartitions(doc_id, term, pos)`, then a linear-scan compactor —
  * materialized one UnsafeRow per TOKEN and paid an O(T log T) in-partition
  * sort before the compaction could fold tf. Telemetry at 480k files showed
  * that map stage was ~80% of single-core build wall. Here the per-doc
  * aggregation is a linear scan over the content bytes with one small hash
  * map per document (bounded by the doc's distinct-term count, dead after
  * the eval — no sort, no per-token rows), and the output explodes straight
  * into the (term, salt) shuffle write.
  *
  * Tokenization is byte-identical to [[AsciiTokens]] (maximal `[A-Za-z0-9]+`
  * runs, ASCII-lowercased — reference `Utils/Utils.java:14` semantics);
  * `CompactTokensSpec` cross-validates the fused output against it.
  */
case class CompactTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = CompactTokens.schema

  override protected def nullSafeEval(input: Any): Any =
    CompactTokens.compact(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CompactTokens.compact($c)")

  override protected def withNewChildInternal(newChild: Expression): CompactTokens =
    copy(child = newChild)
}

object CompactTokens {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false))), containsNull = false)

  /** Mutable per-term counter (no boxing on the hot path). */
  private final class Count { var n = 0 }

  @inline private def isAlnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** Static helper invoked from generated code: one linear pass counting
    * per-term occurrences. Entry order is the document's term
    * first-occurrence order (deterministic; downstream re-sorts by
    * (term, salt, doc_id) anyway). */
  def compact(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val map = new java.util.LinkedHashMap[UTF8String, Count]()
    var i = 0
    var len = 0
    while (i < bytes.length) {
      if (isAlnum(bytes(i))) {
        val start = i
        while (i < bytes.length && isAlnum(bytes(i))) i += 1
        val tok = new Array[Byte](i - start)
        var j = 0
        while (j < tok.length) {
          val b = bytes(start + j)
          tok(j) = if (b >= 'A' && b <= 'Z') (b | 0x20).toByte else b
          j += 1
        }
        val key = UTF8String.fromBytes(tok)
        var c = map.get(key)
        if (c == null) { c = new Count; map.put(key, c) }
        c.n += 1
        len += 1
      } else i += 1
    }
    val out = new Array[AnyRef](map.size)
    val it = map.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = new GenericInternalRow(Array[Any](e.getKey, e.getValue.n, len)): InternalRow
      k += 1
    }
    new GenericArrayData(out)
  }

  /** JVM-String mirror for analyzers that tokenize outside Catalyst (the
    * code analyzer UDF): same compaction over a pre-tokenized stream. */
  def fromTokens(toks: Seq[String]): Seq[TermEntry] = {
    val map = new java.util.LinkedHashMap[String, Count]()
    toks.foreach { t =>
      var c = map.get(t)
      if (c == null) { c = new Count; map.put(t, c) }
      c.n += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[TermEntry](map.size)
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out += TermEntry(e.getKey, e.getValue.n, toks.length)
    }
    out.toSeq
  }
}
