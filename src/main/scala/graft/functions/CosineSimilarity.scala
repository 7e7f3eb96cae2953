package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSession}

/** Native Catalyst expression: cosine similarity of two array<float>
  * vectors, accumulated in double in element order.
  *
  * Why an Expression and not a UDF / higher-order functions: the HOF
  * formulation (`aggregate(zip_with(...))`) builds three interpreted lambda
  * chains and allocates an intermediate array per row — measured ~3x slower
  * on the pairwise near-dup join, and it breaks whole-stage codegen. This
  * expression generates a tight primitive loop inside the codegen'd stage:
  * no allocation, no virtual calls, JIT-vectorizable.
  *
  * The accumulation order (sequential fold over elements, doubles) is
  * bit-identical to both the HOF formulation and DuckDB's
  * `list_cosine_similarity(CAST(... AS DOUBLE[]))`, so swapping it into an
  * oracle-paired query never changes results.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  // null ELEMENTS are treated as 0.0 contributions (toFloatArray() would
  // throw on them — typed array<float> input with containsNull must not
  // have a runtime crash path). Zero contribution = the element is absent
  // from dot and norms, consistent with the zero-norm guard below.
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xs.isNullAt(i)) 0.0 else xs.getFloat(i).toDouble
      val yi = if (ys.isNullAt(i)) 0.0 else ys.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    // zero-norm vectors (padding / failed encodes): similarity 0, not NaN —
    // NaN sorts above every double, so it would hijack any top-k ranking
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.isNullAt($i) ? 0.0 : (double) $a.getFloat($i);
         |  double $yi = $b.isNullAt($i) ? 0.0 : (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0
         |  : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** SparkSessionExtensions injector — the production registration path:
  * [[graft.SparkEntry.session]] (with the session catalog), a builder's
  * `.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.cosineFunction)
    ext.injectFunction(GraftFunctions.simhashFunction)
    ext.injectFunction(GraftFunctions.dupNgramFunction)
    ext.injectFunction(GraftFunctions.normalizeFunction)
    ext.injectFunction(GraftFunctions.l2SqFunction)
    ext.injectFunction(GraftFunctions.jaroWinklerFunction)
    ext.injectOptimizerRule(_ => graft.plans.JaroWinklerPrefilter)
    ext.injectPreCBORule(s => new graft.plans.ColumnarCatalogRead(s))
    ext.injectPostHocResolutionRule(s => new graft.plans.VanillaDml(s))
    ext.injectParser((_, delegate) =>
      new graft.sources.GraftSqlParser(delegate))
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}

/** Registration + Column-API surface for the native functions. */
object GraftFunctions {

  private[functions] val cosineFunction
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) =>
        CosineSimilarity(children.head, children(1)))

  private[functions] val simhashFunction
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "simhash"),
      (children: Seq[Expression]) =>
        SimHash(children.head, children(1)))

  private[functions] val dupNgramFunction
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("dup_ngram_frac"),
      new ExpressionInfo(classOf[DupNgramFraction].getName, "dup_ngram_frac"),
      (children: Seq[Expression]) =>
        DupNgramFraction(children.head, children(1)))

  private[functions] val normalizeFunction
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NormalizeText].getName, "nfc_normalize"),
      (children: Seq[Expression]) => NormalizeText(children.head))

  private[functions] val l2SqFunction
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("l2_sq"),
      new ExpressionInfo(classOf[L2DistanceSq].getName, "l2_sq"),
      (children: Seq[Expression]) =>
        L2DistanceSq(children.head, children(1)))

  private[functions] val jaroWinklerFunction
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) =>
        JaroWinkler(children.head, children(1)))

  /** Idempotently register the native functions in the session's function
    * registry, making them available to SQL and `call_function` (for
    * sessions not built with [[GraftExtensions]]).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    Seq(cosineFunction, simhashFunction, dupNgramFunction, normalizeFunction,
      l2SqFunction, jaroWinklerFunction)
      .foreach { case (id, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
      }
  }

  /** Column API: cosine similarity of two array<float> columns. Requires
    * [[ensureRegistered]] on the session (query builders call it).
    */
  def cosineSim(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    org.apache.spark.sql.functions.call_function("cosine_sim", a, b)
  }

  /** Column API: `bits`-bit SimHash of an array<bigint> token-hash column.
    * Requires [[ensureRegistered]] on the session (query builders call it).
    */
  def simhash(spark: SparkSession, hashes: Column, bits: Int): Column = {
    ensureRegistered(spark)
    org.apache.spark.sql.functions.call_function("simhash", hashes,
      org.apache.spark.sql.functions.lit(bits))
  }

  /** Column API: squared L2 distance of two array<double> columns. Requires
    * [[ensureRegistered]] on the session (query builders call it).
    */
  def l2Sq(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    org.apache.spark.sql.functions.call_function("l2_sq", a, b)
  }
}
