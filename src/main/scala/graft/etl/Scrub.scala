package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** ASCII scrubbing — the engine's version of the reference's
  * `only_ascii` (see /root/reference/src/pipeline_pyspark.py:40-53):
  * special-token replacement (`£`→`GBP`, `Â»`→`|`), every non-ASCII
  * codepoint → space, whitespace/punctuation collapse, trim.
  *
  * The column path is one codegen'd expression, [[AsciiScrub]], whose
  * single byte pass has the exact semantics of the seven-step
  * `regexp_replace` chain the DuckDB oracles of q12, q33 and q34 still
  * replay (`£`→`GBP`, `Â»`→`|`, `[^\x00-\x7F]`→space, ` +`→space,
  * ` ,`→`,`, ` "`→`"`, `" `→`"`, then Spark `trim`). ScrubSpec pins the
  * kernel to that chain under codegen and interpreted.
  *
  * Known divergence, pinned by ScrubSpec: [[asciiScrubReference]], the
  * driver-side scrub of the multi-line round-trip for local files of at
  * most 64 MB, trims with `String.trim`, which strips every char
  * ≤ U+0020; the column path trims U+0020 only, as Spark `trim` does.
  * The two differ only on lines whose ends carry a tab or another
  * control char.
  */
object Scrub {

  /** Default special-token map, in reference order. */
  val specialDefault: Seq[(String, String)] = Seq("£" -> "GBP", "Â»" -> "|")

  /** Single-pass scrub as a Column expression ([[AsciiScrub]]). */
  def asciiScrub(c: Column): Column =
    ColumnBridge.column(AsciiScrub(ColumnBridge.expression(c)))

  /** Exact reference fixpoint semantics (plain Scala): the driver-side
    * scrub of `Parse`'s small-file multi-line round-trip. */
  def asciiScrubReference(s: String, special: Seq[(String, String)] = specialDefault): String = {
    var t = special.foldLeft(s) { case (acc, (k, v)) => acc.replace(k, v) }
    t = t.map(ch => if (ch >= 128) ' ' else ch)
    val rules = Seq("  " -> " ", " ," -> ",", " \"" -> "\"", "\" " -> "\"")
    var changed = true
    while (changed) {
      val next = rules.foldLeft(t) { case (acc, (p, r)) => acc.replace(p, r) }
      changed = next != t
      t = next
    }
    t.trim
  }
}

/** The [[Scrub]] column kernel: one static call per row in both the
  * interpreted and the codegen'd path, in place of seven chained
  * `regexp_replace` passes that each decode, match and re-encode the
  * line. */
case class AsciiScrub(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ascii_scrub requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType
  override def prettyName: String = "ascii_scrub"

  override protected def nullSafeEval(input: Any): Any =
    AsciiScrub.scrub(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.etl.AsciiScrub.scrub($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AsciiScrub {
  /** Static so generated code can call it directly.
    *
    * One left-to-right pass over the UTF-8 bytes:
    *  - `£` (C2 A3) becomes `GBP`; `Â` immediately followed by `»`
    *    (C3 82 C2 BB) becomes `|`;
    *  - every other byte ≥ 0x80 is a space, like U+0020;
    *  - a run of spaces is dropped if it follows `"` or precedes `,` or
    *    `"`, and at either end of the line; otherwise it becomes one
    *    space.
    *
    * Working on bytes gives the chain's result, which decodes the line
    * first (`UTF8String.toString`) and maps each non-ASCII code point,
    * or each U+FFFD of a malformed sequence, to one space: the JDK
    * decoder ends every malformed sequence before the next ASCII or
    * lead byte, so it never swallows an ASCII byte or the C2/C3 that
    * starts `£` or `Â»`, and how many spaces a non-ASCII stretch turns
    * into cannot matter once runs collapse. The output is pure ASCII
    * and at most 3/2 the input length (`£` is the only growth). */
  def scrub(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new Array[Byte](n + (n >> 1) + 1)
    var len = 0
    var pending = false // a run of spaces not yet written
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      var c = -1 // the first byte written for this token; -1 is a space
      var step = 1
      if (b >= 0) { if (b != ' ') c = b }
      else if (b == 0xC2.toByte && i + 1 < n &&
               Platform.getByte(base, off + i + 1) == 0xA3.toByte) {
        c = 'G'; step = 2
      } else if (b == 0xC3.toByte && i + 3 < n &&
                 Platform.getByte(base, off + i + 1) == 0x82.toByte &&
                 Platform.getByte(base, off + i + 2) == 0xC2.toByte &&
                 Platform.getByte(base, off + i + 3) == 0xBB.toByte) {
        c = '|'; step = 4
      }
      if (c < 0) pending = true
      else {
        if (pending) {
          if (len > 0 && out(len - 1) != '"' && c != ',' && c != '"') {
            out(len) = ' '; len += 1
          }
          pending = false
        }
        out(len) = c.toByte; len += 1
        if (step == 2) { out(len) = 'B'; out(len + 1) = 'P'; len += 2 }
      }
      i += step
    }
    UTF8String.fromBytes(out, 0, len)
  }
}
