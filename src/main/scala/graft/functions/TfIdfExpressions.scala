package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels behind M1's hashed TF-IDF embedding (static
  * forwarders for generated code). They reproduce MLlib's
  * `RegexTokenizer("\\s+", lowercase) → HashingTF → IDF → Normalizer(2)`
  * chain bit for bit, without its per-token strings, boxed term maps or
  * vector UDFs:
  *
  *  - tokens: `String.toLowerCase()` (default locale, as the tokenizer),
  *    then maximal runs of bytes outside Java's `\s` = `[ \t\n\x0B\f\r]`
  *    in the UTF-8 encoding. All six are ASCII, so a run never splits a
  *    multi-byte character and each run's bytes are the token's own
  *    UTF-8 bytes;
  *  - bucket: `Murmur3_x86_32.hashUnsafeBytes2(token bytes, seed 42)`,
  *    non-negative mod `dim` (HashingTF's hash), hashed in place;
  *  - tf: +1.0 per token into a dense `double[dim]`;
  *  - idf: `log((m + 1) / (df + 1))` over m documents (MLlib's IDF with
  *    minDocFreq 0);
  *  - output: tf·idf divided by `sqrt(Σ v²)`, summed in index order as
  *    the Normalizer sums a sparse vector's values, unless that sum is 0.
  *
  * A null text has no tokens: it embeds as the zero vector and counts as
  * a document in the fit, like the empty string. (MLlib's tokenizer
  * throws on null.) */
object TfIdfKernels {
  private val Seed = 42

  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** Adds 1.0 into `tf(bucket)` for every token of `text`. */
  def termCounts(text: UTF8String, tf: Array[Double]): Unit =
    if (text != null) {
      val bytes = text.toString.toLowerCase().getBytes(UTF_8)
      val dim = tf.length
      val n = bytes.length
      var i = 0
      while (i < n) {
        while (i < n && isSpace(bytes(i))) i += 1
        val start = i
        while (i < n && !isSpace(bytes(i))) i += 1
        if (i > start) {
          val h = Murmur3_x86_32.hashUnsafeBytes2(
            bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start, Seed)
          val b = h % dim
          tf(if (b < 0) b + dim else b) += 1.0
        }
      }
    }

  /** Document frequencies of `texts`: slot j < dim counts the texts with
    * a token in bucket j, slot dim counts the texts. */
  def docFreq(texts: Iterator[UTF8String], dim: Int): Array[Long] = {
    val df = new Array[Long](dim + 1)
    val tf = new Array[Double](dim)
    texts.foreach { t =>
      termCounts(t, tf)
      var j = 0
      while (j < dim) {
        if (tf(j) != 0.0) { df(j) += 1; tf(j) = 0.0 }
        j += 1
      }
      df(dim) += 1
    }
    df
  }

  /** IDF weights from [[docFreq]]'s output. */
  def idf(df: Array[Long]): Array[Double] = {
    val m = df(df.length - 1)
    Array.tabulate(df.length - 1)(j => math.log((m + 1.0) / (df(j) + 1.0)))
  }

  /** The unit-norm (or zero) tf·idf vector of one text. */
  def embed(text: UTF8String, idf: Array[Double]): ArrayData = {
    val v = new Array[Double](idf.length)
    termCounts(text, v)
    var sq = 0.0
    var j = 0
    while (j < v.length) {
      val x = v(j) * idf(j)
      v(j) = x; sq += x * x; j += 1
    }
    if (sq != 0.0) {
      val norm = math.sqrt(sq)
      j = 0
      while (j < v.length) { v(j) /= norm; j += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(v)
  }
}

/** STRING → ARRAY<DOUBLE>: [[TfIdfKernels.embed]] under fitted IDF
  * weights, which ride into generated code as a reference object (one
  * `double[dim]`). Never null: a null text embeds as the zero vector. */
case class TfIdfEmbed(child: Expression, idf: Array[Double]) extends UnaryExpression {
  override def prettyName: String = "graft_tfidf_embed"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  // the weights print as their count, not as an array reference
  override protected def stringArgs: Iterator[Any] = Iterator(child, s"dim=${idf.length}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any =
    TfIdfKernels.embed(child.eval(input).asInstanceOf[UTF8String], idf)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("idf", idf, "double[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.TfIdfKernels.embed(
      |  ${c.isNull} ? null : ${c.value}, $ref);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-API wrapper. */
object TfIdfFunctions {
  def tfidfEmbed(text: Column, idf: Array[Double]): Column =
    GraftColumnBridge.column(TfIdfEmbed(GraftColumnBridge.expression(text), idf))
}
