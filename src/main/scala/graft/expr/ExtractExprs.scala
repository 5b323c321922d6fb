package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.Extractor
import graft.html.Utf8
import graft.html.FusedSegmenter.RawBlocks

/** `graft_extract(html BINARY, lang STRING) ->
  *   STRUCT<text:STRING, spans:ARRAY<STRUCT<start:INT,end:INT,kind:STRING>>, error:STRING>`
  *
  * The recognize stage as a native Catalyst expression — the hot loop
  * runs in-JVM inside the task with zero UDF ser/de (SURVEY.md §4.2;
  * reference equivalent: pytesseract.image_to_string per page,
  * main_window.py:365-370, which paid a process spawn per call).
  *
  * Single-pass struct return: text + spans + error come from ONE
  * tokenize/classify pass (SURVEY.md §4.2 "single-pass extract").
  * `CodegenFallback` keeps the surrounding operators in whole-stage
  * codegen; the expression itself is a straight JVM call.
  *
  * Error policy: parse failures return a row with `error` set, never
  * an exception (ocr_parallel_ui.py:33-34).
  */
case class ExtractMainText(left: Expression, right: Expression,
    engine: graft.extract.Engine = graft.extract.Engine.Default)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "graft_extract"

  override def dataType: DataType = ExtractMainText.schema

  override def nullable: Boolean = false

  // html=null behaves like an empty payload. The text is the assembled
  // bytes and the spans are built straight from the assembled int
  // arrays; `lang` does not change extraction.
  override def eval(input: InternalRow): Any = {
    val html = left.eval(input).asInstanceOf[Array[Byte]]
    Extractor.extractAssembled(html, engine) match {
      case Right(a) =>
        val spans = new Array[Any](a.n)
        var k = 0
        while (k < a.n) {
          spans(k) = new GenericInternalRow(
            Array[Any](a.starts(k), a.ends(k), ExtractMainText.KindNames(a.kindIds(k))))
          k += 1
        }
        new GenericInternalRow(Array[Any](
          ExtractMainText.utf8(a.buf, a.from, a.until, a.surrogates),
          new GenericArrayData(spans), null))
      case Left(error) =>
        InternalRow(null, new GenericArrayData(Array.empty[Any]), UTF8String.fromString(error))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ExtractMainText {
  val spanType: StructType = StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false)))

  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = true),
    StructField("spans", ArrayType(spanType, containsNull = false), nullable = false),
    StructField("error", StringType, nullable = true)))

  /** Span kind names by kind id (`RawBlocks.KindNames`), prebuilt once
    * for every span and block row. */
  val KindNames: Array[UTF8String] = RawBlocks.KindNames.map(UTF8String.fromString)

  /** `buf[from, until)` (WTF-8) as a row string: a view of those bytes,
    * or, when they may hold a surrogate, `Utf8.toUtf8` of them — what
    * `UTF8String.fromString` writes for the decoded text. */
  def utf8(buf: Array[Byte], from: Int, until: Int, surrogates: Boolean): UTF8String =
    if (surrogates) UTF8String.fromBytes(Utf8.toUtf8(buf, from, until))
    else UTF8String.fromBytes(buf, from, until - from)
}
