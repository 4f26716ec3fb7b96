package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

import graft.functions.TextExpressions

/** graft's `SparkSessionExtensions` hook: registers the custom
  * codegen'd expressions so any session created with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) can use them from
  * SQL and from the Column API (`call_function`).
  *
  * The analog of the reference's function catalog registration
  * (`/root/reference/src/query_engine/src/function/mod.rs`), done
  * through Spark's sanctioned extension point instead of a private
  * registry.
  *
  * It also registers one physical rule, [[ParamLiterals]], which turns
  * the primitive literals compared inside `FilterExec` conditions into
  * field-read parameters, so parameterized reads (`KVTable.get`,
  * `range`, `multiGet`) generate key-independent code and hit the
  * codegen cache instead of filling it with per-key classes (its size
  * is set in `graft.api.GraftSession`). It goes in through `injectColumnar`'s
  * `preColumnarTransitions`: that is the one hook that both
  * `QueryExecution.preparations` and `AdaptiveSparkPlanExec`'s
  * per-stage rules run right before `CollapseCodegenStages`, so it
  * covers AQE on and off. Its scope is filter conditions only; scans,
  * projections and join conditions keep their literals.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_bands"),
      new ExpressionInfo(TextExpressions.MinHashBands.getClass.getName,
        "graft_minhash_bands"),
      TextExpressions.buildMinHashBands _))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(TextExpressions.SimHash64.getClass.getName,
        "graft_simhash64"),
      TextExpressions.buildSimHash64 _))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash_chunks"),
      new ExpressionInfo(TextExpressions.SimHashChunks.getClass.getName,
        "graft_simhash_chunks"),
      TextExpressions.buildSimHashChunks _))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(graft.functions.VectorKernels.CosineSim.getClass.getName,
        "graft_cosine"),
      graft.functions.VectorKernels.buildCosine _))
    ext.injectFunction((
      FunctionIdentifier("graft_hyperplane_bands"),
      new ExpressionInfo(graft.functions.VectorKernels.HyperplaneBands.getClass.getName,
        "graft_hyperplane_bands"),
      graft.functions.VectorKernels.buildHyperplaneBands _))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(graft.functions.VectorKernels.PqEncode.getClass.getName,
        "graft_pq_encode"),
      graft.functions.VectorKernels.buildPqEncode _))
    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint64"),
      new ExpressionInfo(TextExpressions.Fingerprint64.getClass.getName,
        "graft_fingerprint64"),
      TextExpressions.buildFingerprint64 _))
    ext.injectFunction((
      FunctionIdentifier("graft_sum_scaled"),
      new ExpressionInfo(classOf[graft.functions.SumScaledExact].getName,
        "graft_sum_scaled"),
      graft.functions.SumScaledExact.build _))
    ext.injectFunction((
      FunctionIdentifier("graft_adc_dot"),
      new ExpressionInfo(graft.functions.VectorKernels.AdcDot.getClass.getName,
        "graft_adc_dot"),
      graft.functions.VectorKernels.buildAdcDot _))
    ext.injectFunction((
      FunctionIdentifier("graft_token_counts"),
      new ExpressionInfo(TextExpressions.TokenCounts.getClass.getName,
        "graft_token_counts"),
      TextExpressions.buildTokenCounts _))
    ext.injectFunction((
      FunctionIdentifier("graft_quality_counts"),
      new ExpressionInfo(TextExpressions.QualityCounts.getClass.getName,
        "graft_quality_counts"),
      TextExpressions.buildQualityCounts _))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(graft.functions.BloomFunctions.getClass.getName,
        "graft_might_contain"),
      graft.functions.BloomFunctions.buildMightContain _))
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
    })
  }
}
