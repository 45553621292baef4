package org.apache.spark.ml.tree

import graft.ml.Explain.FlatTree
import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.regression.DecisionTreeRegressionModel
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.mllib.tree.impurity.VarianceCalculator

/** Narrow access shim: MLlib's `Node.impurityStats` (per-node weighted
  * sample counts) is `private[ml]`, but tree-traversal importances (M5:
  * cover/total_cover) and TreeSHAP (M3) need the node weights that
  * MLlib's own `featureImportances` uses internally, and the tree and
  * ensemble constructors that rebuild a model from its flat arrays are
  * `private[ml]` too. This file lives in the `org.apache.spark.ml.tree`
  * package purely to re-export those; nothing here alters Spark
  * behavior.
  */
object GraftTreeAccess {
  /** Weighted number of training samples that reached this node. */
  def nodeCount(n: Node): Double = n.impurityStats.count.toDouble

  def split(n: InternalNode): Split = n.split

  /** Continuous-split threshold; genotype/feature matrices are all
    * continuous (§1.2), categorical splits are rejected upstream. */
  def threshold(s: Split): Double = s match {
    case c: ContinuousSplit => c.threshold
    case other => throw new IllegalArgumentException(
      s"only continuous splits supported, got ${other.getClass.getSimpleName}")
  }

  /** The MLlib GBT classifier with these trees and weights, node for
    * node: same split features, thresholds, node predictions, gains and
    * sample counts, so MLlib's own `transform` scores it exactly as it
    * scored the model the trees were flattened from. */
  def gbtClassifier(trees: Array[FlatTree], weights: Array[Double],
      numFeatures: Int): GBTClassificationModel = {
    def node(t: FlatTree, i: Int): Node = {
      val stats = new VarianceCalculator(Array(t.cover(i), 0.0, 0.0),
        t.cover(i).toLong)
      if (t.feature(i) == -1) new LeafNode(t.value(i), 0.0, stats)
      else new InternalNode(t.value(i), 0.0, t.gain(i), node(t, t.left(i)),
        node(t, t.right(i)), new ContinuousSplit(t.feature(i), t.threshold(i)),
        stats)
    }
    new GBTClassificationModel(Identifiable.randomUID("gbtc"),
      trees.map(t => new DecisionTreeRegressionModel(
        Identifiable.randomUID("dtr"), node(t, 0), numFeatures)),
      weights, numFeatures, 2)
  }
}
