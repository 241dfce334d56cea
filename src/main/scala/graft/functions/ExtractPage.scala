package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.{Assembler, ContentTokenizer, ExtractorConfig, Scorer}

/** Native whole-operator expression (SURVEY.md §4.3b, the M7 path):
  * `extract_page(html, textThreshold, linkThreshold, blockSep,
  * maxHtmlBytes, minChars)` → STRUCT<text, span_starts, span_ends,
  * span_block_ids, span_scores, n_blocks, n_kept, bytes_in, bytes_out>.
  *
  * The kernel writes straight into an InternalRow (UTF8String +
  * primitive UnsafeArrayData, no case-class intermediates, no encoder),
  * so the whole pipeline stays a Project inside the codegen stage with
  * no DeserializeToObject/SerializeFromObject pair. CodegenFallback
  * only wraps the kernel CALL — the row never leaves Tungsten
  * representation. [[graft.pipeline.ExtractPipeline.extractExpr]] is
  * the one Spark entry point that builds it.
  *
  * Byte-identity: same kernel (ContentTokenizer/Scorer/Assembler), so the
  * result is bit-for-bit equal to GoldenExtractor (asserted in
  * FunctionsSpec and, every column, in SparkPipelineSpec).
  */
case class ExtractPage(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.length < 6 || children.length > 8)
      return TypeCheckResult.TypeCheckFailure(
        "extract_page expects 6 args (+ optional listItemPrefix, quotePrefix)")
    if (children.head.dataType != BinaryType)
      return TypeCheckResult.TypeCheckFailure("arg 1 (html) must be BINARY")
    if (!children.tail.forall(_.foldable))
      return TypeCheckResult.TypeCheckFailure("config args must be literals")
    // analysis-time type errors beat executor-side ClassCastException
    def bad(i: Int, want: String) = TypeCheckResult.TypeCheckFailure(
      s"arg ${i + 1} must be $want, got ${children(i).dataType.simpleString}")
    val numeric = Seq(1, 2, 4, 5)
    val strings = Seq(3) ++ (6 until children.length)
    numeric.collectFirst {
      case i if !children(i).dataType.isInstanceOf[NumericType] => bad(i, "numeric")
    }.orElse(strings.collectFirst {
      case i if children(i).dataType != StringType => bad(i, "STRING")
    }).getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  override val dataType: DataType = ExtractPage.schema

  @transient private lazy val cfg: ExtractorConfig = {
    def lit(e: Expression): Any = e.eval(InternalRow.empty)
    ExtractorConfig(
      textThreshold = lit(children(1)).asInstanceOf[Number].floatValue(),
      linkThreshold = lit(children(2)).asInstanceOf[Number].floatValue(),
      blockSep = lit(children(3)).asInstanceOf[UTF8String].toString,
      maxHtmlBytes = lit(children(4)).asInstanceOf[Number].intValue(),
      minChars = lit(children(5)).asInstanceOf[Number].intValue(),
      listItemPrefix =
        if (children.length > 6) lit(children(6)).asInstanceOf[UTF8String].toString else "",
      quotePrefix =
        if (children.length > 7) lit(children(7)).asInstanceOf[UTF8String].toString else ""
    )
  }

  override def eval(input: InternalRow): Any = {
    val html = children.head.eval(input).asInstanceOf[Array[Byte]]
    ExtractPage.extractToRow(html, cfg)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExtractPage = copy(children = newChildren)
}

object ExtractPage {

  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("span_starts", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("span_ends", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("span_block_ids", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("span_scores", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("n_blocks", IntegerType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false),
    StructField("bytes_in", LongType, nullable = false),
    StructField("bytes_out", LongType, nullable = false)
  ))

  /** Kernel → InternalRow, no case-class intermediates. */
  def extractToRow(html: Array[Byte], cfg: ExtractorConfig): InternalRow = {
    val blocks = ContentTokenizer.tokenize(html, cfg)
    val scored = Scorer.score("", blocks)
    val a = Assembler.assembleColumnar(scored, cfg)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(9)
    row.update(0, UTF8String.fromString(a.text))
    row.update(1, UnsafeArrayData.fromPrimitiveArray(a.starts))
    row.update(2, UnsafeArrayData.fromPrimitiveArray(a.ends))
    row.update(3, UnsafeArrayData.fromPrimitiveArray(a.blockIds))
    row.update(4, UnsafeArrayData.fromPrimitiveArray(a.scores))
    row.update(5, blocks.length)
    row.update(6, a.nSpans)
    row.update(7, (if (html == null) 0 else html.length).toLong)
    row.update(8, a.textBytes.toLong) // accumulated during assembly, no second pass
    row
  }
}
