package graft.ml

import graft.QueryDef
import org.apache.spark.sql.functions._

/** XGBoost JSON booster import — the reference's model-load path
  * (daxos/read.py:11-31 loads a trained XGBoost booster for
  * prediction) with NO xgboost dependency: [[Booster.read]], the codec
  * Refit writes its model with, reads a foreign XGBoost JSON model into
  * the same flat trees, and [[Booster.predictCol]] scores it as one
  * narrow pass over the feature matrix. This object holds the gate: a
  * fixture model file in the real schema and the m24 query that loads
  * it through the codec.
  */
object XgbImport {

  // ---------------------------------------------------------------- fixture

  /** A complete model file in the real schema (2 trees,
    * binary:logistic, base_score 0.5 ⇒ zero margin bias), written by
    * the gate itself so the query exercises the FILE path. */
  private[graft] val fixtureJson: String =
    """{"learner": {
      |  "attributes": {},
      |  "feature_names": [], "feature_types": [],
      |  "gradient_booster": {"model": {
      |    "gbtree_model_param": {"num_trees": "2", "num_parallel_tree": "1"},
      |    "tree_info": [0, 0],
      |    "trees": [
      |      {"base_weights": [0.0, 0.4, 0.0, -0.2, 0.1],
      |       "categories": [], "categories_nodes": [],
      |       "categories_segments": [], "categories_sizes": [],
      |       "default_left": [1, 0, 0, 0, 0], "id": 0,
      |       "left_children": [1, -1, 3, -1, -1],
      |       "loss_changes": [0.0, 0.0, 0.0, 0.0, 0.0],
      |       "parents": [2147483647, 0, 0, 2, 2],
      |       "right_children": [2, -1, 4, -1, -1],
      |       "split_conditions": [0.5, 0.4, 0.3, -0.2, 0.1],
      |       "split_indices": [0, 0, 1, 0, 0],
      |       "split_type": [0, 0, 0, 0, 0],
      |       "sum_hessian": [1.0, 1.0, 1.0, 1.0, 1.0],
      |       "tree_param": {"num_deleted": "0", "num_feature": "2",
      |                      "num_nodes": "5", "size_leaf_vector": "1"}},
      |      {"base_weights": [0.0, 0.3, -0.5],
      |       "categories": [], "categories_nodes": [],
      |       "categories_segments": [], "categories_sizes": [],
      |       "default_left": [0, 0, 0], "id": 1,
      |       "left_children": [1, -1, -1],
      |       "loss_changes": [0.0, 0.0, 0.0],
      |       "parents": [2147483647, 0, 0],
      |       "right_children": [2, -1, -1],
      |       "split_conditions": [0.6, 0.3, -0.5],
      |       "split_indices": [1, 0, 0],
      |       "split_type": [0, 0, 0],
      |       "sum_hessian": [1.0, 1.0, 1.0],
      |       "tree_param": {"num_deleted": "0", "num_feature": "2",
      |                      "num_nodes": "3", "size_leaf_vector": "1"}}
      |    ]},
      |    "name": "gbtree"},
      |  "learner_model_param": {"base_score": "5E-1", "boost_from_average": "1",
      |    "num_class": "0", "num_feature": "2", "num_target": "1"},
      |  "objective": {"name": "binary:logistic",
      |                "reg_loss_param": {"scale_pos_weight": "1"}}},
      | "version": [1, 7, 6]}""".stripMargin

  /** M24 — XGBoost import gate, FULL DuckDB oracle: the fixture model
    * file is written to disk, loaded through the codec, and run
    * over a deterministic 500-row feature table (x1 punched to NaN
    * every 13th row, exercising `default_left` routing on tree 1 and
    * the non-default branch on tree 0). The oracle replays BOTH trees
    * as hand-transcribed CASE expressions from the fixture's JSON —
    * transcribed from the schema text, independently of the parser —
    * plus the same sigmoid. A parser or traversal bug (wrong leaf
    * source array, wrong missing-route, >= vs <) changes predictions
    * and hash-mismatches.
    */
  val m24 = QueryDef(
    "m24_xgb_import",
    { (s, _) =>
      val dir = new java.io.File(graft.util.Fixtures.dir)
      dir.mkdirs()
      val path = new java.io.File(dir, "m24_model.json").getAbsolutePath
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        fixtureJson)
      val model = Booster.read(s, path)
      val ok = model.trees.length == 2 && model.objective == Booster.Logistic
      val feats = s.range(0, 500).select(col("id"),
        array(
          (col("id") % 7).cast("double") / 7.0,
          when(col("id") % 13 === 0, lit(Double.NaN))
            .otherwise((col("id") % 11).cast("double") / 11.0))
          .as("features"))
      model.predictCol(feats)
        .select(col("id"), round(col("y_pred"), 6).as("prob"))
        .filter(lit(ok))
    },
    oracle = Some(
      """WITH f AS (SELECT t.id,
        |        CAST(t.id % 7 AS DOUBLE) / 7 AS x0,
        |        CASE WHEN t.id % 13 = 0 THEN NULL
        |             ELSE CAST(t.id % 11 AS DOUBLE) / 11 END AS x1
        |      FROM range(0, 500) t(id)),
        |p AS (SELECT id,
        |        CASE WHEN x0 < 0.5 THEN 0.4
        |             WHEN x1 IS NULL THEN 0.1
        |             WHEN x1 < 0.3 THEN -0.2 ELSE 0.1 END
        |      + CASE WHEN x1 IS NULL THEN -0.5
        |             WHEN x1 < 0.6 THEN 0.3 ELSE -0.5 END AS margin
        |      FROM f)
        |SELECT CAST(id AS BIGINT) AS id,
        |       round(1 / (1 + exp(-margin)), 6) AS prob
        |FROM p""".stripMargin),
    benchEligible = false)

  def all: Seq[QueryDef] = Seq(m24)
}
