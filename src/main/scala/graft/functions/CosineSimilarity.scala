package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns — one fused loop accumulating dot product and
  * both norms, with whole-stage codegen (`doGenCode`).
  *
  * Why an Expression and not the `zip_with`/`aggregate` composition in
  * [[graft.operators.SimilarityOps]]: the composition materializes an
  * intermediate product array per row and walks the input three times;
  * this walks it once with three scalar accumulators and no allocation —
  * the difference is the whole inner loop of brute-force ANN. Numerics
  * are identical (same IEEE adds per accumulator in the same element
  * order), so results stay bit-compatible with the composed form and the
  * DuckDB oracle.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, na = 0.0, nb = 0.0;
         |for (int i = 0; i < n; i++) {
         |  double x = $a.getDouble(i);
         |  double y = $b.getDouble(i);
         |  dot += x * y; na += x * x; nb += y * y;
         |}
         |double denom = Math.sqrt(na) * Math.sqrt(nb);
         |${ev.value} = denom == 0.0 ? 0.0 : dot / denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  private val FuncName = "graft_cosine_similarity"

  /** Register once per session, exposing the expression to both the
    * Column DSL (via [[cosineNative]]) and `spark.sql`; a name the session
    * already has is left as it is.
    */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, FuncName)(exprs => CosineSimilarity(exprs(0), exprs(1)))

  /** Column API over the native expression; inputs cast float→double
    * (exact) so both `array<float>` and `array<double>` embeddings work.
    */
  def cosineNative(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function(FuncName, a.cast("array<double>"), b.cast("array<double>"))
  }
}
