package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

import graft.extract.{Engine, Extractor}

/** `graft_explode_blocks(html BINARY) -> rows(part INT, block_idx INT,
  * kind STRING, text STRING, words INT, link_words INT, kept BOOLEAN)`
  *
  * Catalyst `Generator` (UDTF analogue — SURVEY.md §2.10): the
  * document→pages/blocks expansion of the reference
  * (main_window.py:331-340 explode to pages; ocr_logic.py:73-77
  * multi-frame) as a queryable block-level view. Emits ALL blocks of
  * `Extractor.recognize` (Default engine) with their classifier
  * features and keep decision, so the region-extract stage is
  * inspectable/aggregable in SQL and covers every payload type the
  * extractor does: HTML blocks as segmented, one always-kept content
  * block per non-blank PDF page, one per plain-text paragraph.
  * `block_idx` is the block's position in that sequence. Malformed
  * payloads yield zero rows (the row-level error policy lives in
  * graft_extract; a generator cannot carry an error column per input
  * row without emitting phantom rows).
  */
case class ExplodeBlocks(child: Expression)
    extends UnaryExpression with CollectionGenerator with CodegenFallback {

  override def prettyName: String = "graft_explode_blocks"
  override val inline: Boolean = false
  override val position: Boolean = false

  override def elementSchema: StructType = StructType(Seq(
    StructField("part", IntegerType, nullable = false),
    StructField("block_idx", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("words", IntegerType, nullable = false),
    StructField("link_words", IntegerType, nullable = false),
    StructField("kept", BooleanType, nullable = false)))

  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val payload = child.eval(input)
    if (payload == null) return Nil
    val r =
      try Extractor.recognize(payload.asInstanceOf[Array[Byte]], Engine.Default)
      catch { case _: Exception => return Nil } // error rows live in graft_extract
    val rb = r.blocks
    (0 until rb.n).map { i =>
      InternalRow(rb.parts(i), i, ExtractMainText.KindNames(rb.kindIds(i)),
        ExtractMainText.utf8(rb.buf, rb.starts(i), rb.ends(i), rb.surrogates),
        rb.words(i), rb.linkWords(i), r.keep(i))
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
