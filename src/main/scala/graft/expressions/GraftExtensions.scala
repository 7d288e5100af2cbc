package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The one registration path for the engine's native expressions and
  * the [[JaccardFusionRule]] optimizer rule: `register(spark)` on any
  * running session (graft's own or a foreign one). The query packs and
  * operators call it before they plan, so it is idempotent and cheap —
  * a repeat call checks the session's own registry and registers (and
  * logs) nothing.
  */
object GraftExtensions {

  private val functions: Seq[(ExpressionInfo, FunctionBuilder)] = Seq(
    FloatDotProduct.info -> FloatDotProduct.builder,
    FloatRpSig.info -> FloatRpSig.builder,
    FloatRpBands.info -> FloatRpBands.builder,
    StringSetJaccard.info -> StringSetJaccard.builder,
    TokenSimHash16.info -> TokenSimHash16.builder,
    TokenSimHash60.info -> TokenSimHash60.builder,
    TokenSetRatioExpr.info -> TokenSetRatioExpr.builder,
    JaroWinklerExpr.info -> JaroWinklerExpr.builder,
    DamerauLevenshteinExpr.info -> DamerauLevenshteinExpr.builder,
    TokenStats.info -> TokenStats.builder,
    SortedLongJaccard.info -> SortedLongJaccard.builder,
    HeavyHitters.info -> HeavyHitters.builder,
    JlProjectExpr.info -> JlProjectExpr.builder,
    WindowHash.info -> WindowHash.builder,
    WinnowFingerprints.info -> WinnowFingerprints.builder,
    BucketBinarySearch.info -> BucketBinarySearch.builder,
    BloomMightContain.info -> BloomMightContain.builder)

  def register(spark: SparkSession): Unit =
    // Synchronized: register() is called from concurrent query builds (e.g.
    // PqIndex.train runs per-subspace Lloyd builds in parallel Futures), and
    // an unsynchronized check-then-register can double-install the rule,
    // mutate the non-volatile var under sibling optimizer threads, or
    // replace a function a sibling just registered.
    JaccardFusionRule.synchronized {
      val reg = spark.sessionState.functionRegistry
      functions.foreach { case (info, builder) =>
        val id = FunctionIdentifier(info.getName)
        if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
      }
      if (!spark.experimental.extraOptimizations.contains(JaccardFusionRule)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ JaccardFusionRule
      }
    }
}
