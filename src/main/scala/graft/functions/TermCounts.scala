package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row term-frequency map: `text` split on single spaces (exactly
  * `split(text, ' ')` with Spark's keep-empties limit=-1 semantics, so
  * `explode(TermCounts(text))` ≡ `explode(split(text,' ')) → groupBy
  * (row, term) → count` row for row) folded into `term -> count` in ONE
  * pass over the bytes.
  *
  * The composed form needs a corpus-wide SHUFFLE to reach the (doc,
  * term) grain; this expression reaches it doc-locally inside the scan,
  * which deletes the first data-sized exchange from every tf-shaped
  * pipeline (tf-idf keywords, BM25 stats, postings feeds). First-seen
  * term order is preserved, but consumers must not rely on map order —
  * the downstream aggregations are order-insensitive.
  */
case class TermCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = MapType(StringType, LongType,
    valueContainsNull = false)

  override def prettyName: String = "term_counts"

  override def nullSafeEval(input: Any): Any =
    TermCounts.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TermCounts.counts($c)")

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object TermCounts {

  /** Split on every 0x20 byte (UTF-8 space never occurs inside a
    * multi-byte sequence), keeping empty tokens — `"a  b ".split(" ",
    * -1)` = `[a, "", b, ""]`, Spark's `split` default — and count into
    * insertion-ordered (term, n) arrays.
    */
  def counts(s: UTF8String): MapData = {
    val bytes = s.getBytes
    val m = new java.util.LinkedHashMap[UTF8String, Long]()
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        m.put(tok, m.getOrDefault(tok, 0L) + 1L)
        start = i + 1
      }
      i += 1
    }
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey
      vals(j) = e.getValue
      j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  def apply(c: Column): Column =
    ColumnBridge.column(TermCounts(ColumnBridge.expression(c)))
}
