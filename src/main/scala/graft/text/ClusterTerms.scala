package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHashes

/** Cluster labeling by distinguishing terms (the BERTopic/c-TF-IDF
  * recipe, Grootendorst 2022: embeddings cluster the corpus — q150's
  * k-means — and the clusters get human-readable labels from the
  * terms that distinguish them, not merely occur in them):
  *   score(c, w) = (tf_{c,w} / m_c) · ln(k / df_w)
  * with tf the in-cluster term count, m_c the cluster token mass,
  * df_w the number of clusters containing w (so corpus-wide filler
  * scores 0 — ln(k/k)), k the cluster count.
  *
  * Scale shape: one corpus tokenize pass into (cluster, word) counts
  * (partial-aggregatable); mass is clusters-sized (broadcast back);
  * cluster-df and the score join are VOCABULARY-sized — the big-big
  * hash join family (q137/q164), never corpus²; the top-k window
  * partitions by cluster over vocab rows (k partitions — fine while
  * per-cluster vocab fits a reducer; the TakeOrdered-per-group
  * reshape is the escape hatch if it ever doesn't). Ranking uses the
  * 9dp-ROUNDED score (sub-1e-9 differences become exact ties broken
  * by word asc) so a last-ulp ln wobble cannot reorder cross-engine.
  */
object ClusterTerms {

  /** @param docs (clCol, textCol) — cluster-assigned documents.
    * @return (cl, rank, term, tf, df_cl, score) — topK per cluster.
    */
  def label(docs: DataFrame, clCol: String, textCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = docs.select(col(clCol).as("cl"),
      explode(TextHashes.wordNgrams(col(textCol), 1)).as("w"))
    val tf = graft.plans.Plans.barrier(
      toks.groupBy("cl", "w").agg(count(lit(1)).as("tf")))
    val mass = tf.groupBy("cl").agg(sum(col("tf")).as("m"))
    val dfc = tf.groupBy("w").agg(count(lit(1)).as("df_cl"))
    val k = tf.select("cl").distinct().count() // bounded driver scalar
    require(k > 0, "label: no clusters")
    val score = round((col("tf").cast("double") / col("m")) *
      log(lit(k.toDouble) / col("df_cl")), 9)
    tf.join(broadcast(mass), Seq("cl"))
      .join(dfc, Seq("w"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(
        Window.partitionBy("cl").orderBy(col("score").desc, col("w"))))
      .filter(col("rank") <= topK)
      .select(col("cl"), col("rank"), col("w").as("term"), col("tf"),
        col("df_cl"), col("score"))
  }
}
