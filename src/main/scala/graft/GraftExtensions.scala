package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{BestCell, BloomTestLong, DotFold, DotFoldLong, LenientDate, Md5Long60, MinhashSig, PhiChain, SimhashText,
  TopKPairs}

/** Session extensions: registers graft's native expressions for SQL
  * use. Attach with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // the builders are the exact lambdas the companions' register()
    // methods use — one definition, two registration paths
    e.injectFunction((
      new FunctionIdentifier(Md5Long60.FnName),
      new ExpressionInfo(classOf[Md5Long60].getName, Md5Long60.FnName),
      Md5Long60.builder))
    e.injectFunction((
      new FunctionIdentifier(MinhashSig.FnName),
      new ExpressionInfo(classOf[MinhashSig].getName, MinhashSig.FnName),
      MinhashSig.builder))
    e.injectFunction((
      new FunctionIdentifier(DotFold.FnName),
      new ExpressionInfo(classOf[DotFold].getName, DotFold.FnName),
      DotFold.builder))
    e.injectFunction((
      new FunctionIdentifier(DotFoldLong.FnName),
      new ExpressionInfo(classOf[DotFoldLong].getName, DotFoldLong.FnName),
      DotFoldLong.builder))
    e.injectFunction((
      new FunctionIdentifier(SimhashText.FnName),
      new ExpressionInfo(classOf[SimhashText].getName, SimhashText.FnName),
      SimhashText.builder))
    e.injectFunction((
      new FunctionIdentifier(TopKPairs.FnName),
      new ExpressionInfo(classOf[TopKPairs].getName, TopKPairs.FnName),
      TopKPairs.builder))
    e.injectFunction((
      new FunctionIdentifier(BestCell.FnName),
      new ExpressionInfo(classOf[BestCell].getName, BestCell.FnName),
      BestCell.builder))
    e.injectFunction((
      new FunctionIdentifier(BloomTestLong.FnName),
      new ExpressionInfo(classOf[BloomTestLong].getName, BloomTestLong.FnName),
      BloomTestLong.builder))
    e.injectFunction((
      new FunctionIdentifier(PhiChain.FnName),
      new ExpressionInfo(classOf[PhiChain].getName, PhiChain.FnName),
      PhiChain.builder))
    e.injectFunction((
      new FunctionIdentifier(LenientDate.FnName),
      new ExpressionInfo(classOf[LenientDate].getName, LenientDate.FnName),
      LenientDate.builder))
    // composed aggregate(zip_with(...)) dot products → native DotFold
    e.injectOptimizerRule(_ => graft.plans.RewriteDotFold)
  }
}
