package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.agg.Aggregators
import graft.llm.{BpeOps, ClassifierOps, TextOps}

/** Twenty-fourth batch: round-7 steady-state model paths and the last two
  * SQL-aggregate oracle rows.
  *
  *  - `bigram_broadcast_score` — the broadcast-model bigram LM scorer
  *    through a full disk round trip (train → writeBigramLm → loadBigramLm
  *    → stateless broadcast scorer); shares lm_bigram_score's oracle, so a
  *    serialization bug OR any drift between the batch plan and the
  *    scaled-long in-row sum is a hash mismatch.
  *  - `lm_model_score` / `nb_model_score` — the persisted-model round trips
  *    for the two remaining trained curation gates (unigram LM, NB
  *    classifier), the DSIR/IVF/BM25 disk discipline applied to the last
  *    trained models; each shares its in-memory row's oracle.
  *  - `bpe_train_fast` / `bpe_encode_fast` — the production BPE paths
  *    (driver-side merge loop: one Spark job total; rank-map native
  *    encoder: plan size independent of vocabulary) against the full
  *    SQL-replay oracles of the original loop/stacked-replace forms: both
  *    paths must emit identical tables.
  *  - `ts_features_agg_sql` / `ts_changepoints_agg_sql` — driver oracle
  *    rows for the two §2 aggregates that previously had spec-only
  *    evidence (reference ts_features_agg.cpp, ts_changepoints_agg.cpp),
  *    via the registered SQL UDAFs (the ts_stats_agg_sql route), sharing
  *    the corresponding `_by` oracles.
  */
object SparkEntryV24 extends EntryPart {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "bigram_broadcast_score" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val model = TextOps.trainBigramLm(docs, "text",
        vocabSize = 256, bigramVocabSize = 512, alpha = 0.5, lambda = 0.75)
      val mdlDir = tmp("graft_bigram_lm")
      TextOps.writeBigramLm(model, mdlDir)
      TextOps.bigramScoreBroadcast(docs, "text", TextOps.loadBigramLm(s, mdlDir))
        .select(col("doc_id"), col("n_tokens"), col("sum_logp"))
    }),
    "lm_model_score" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val mdlDir = tmp("graft_unigram_lm")
      TextOps.writeUnigramLm(
        TextOps.trainUnigramLm(docs, "text", vocabSize = 256, alpha = 0.5), mdlDir)
      TextOps.lmScore(docs, "doc_id", "text", TextOps.loadUnigramLm(s, mdlDir))
        .select(col("doc_id"), col("n_tokens"), col("sum_logp"))
    }),
    "nb_model_score" -> ((s, dir) => {
      val aug = SparkEntryV19.nbAug(s, dir)
      val mdlDir = tmp("graft_nb_mdl")
      ClassifierOps.writeNbModel(
        ClassifierOps.nbTrain(aug.filter(col("doc_id") < 500), "text_aug", "label",
          numBuckets = NbBuckets, alpha = 0.5, seed = NbSeed),
        NbBuckets, NbSeed, mdlDir)
      val loaded = ClassifierOps.loadNbModel(s, mdlDir)
      ClassifierOps.nbScore(aug, "doc_id", "text_aug", loaded.model,
          loaded.numBuckets, loaded.seed)
        .select(col("doc_id"), col("n_tokens"),
          round(col("nb_score"), 6).as("nb_score"), col("nb_pred"))
    }),
    "bpe_train_fast" -> ((s, dir) =>
      BpeOps.mergesToDf(s, BpeOps.bpeTrainLocal(table(s, dir, "documents"), "text", 6))),
    // the production path end to end: driver-side training + the rank-map
    // native encoder, against the SQL replay of the stacked-replace form
    "bpe_encode_fast" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      BpeOps.bpeEncodeFast(docs, "text", BpeOps.bpeTrainLocal(docs, "text", 6))
        .select(col("doc_id"), col("bpe_tokens_count"),
          array_join(col("bpe_tokens"), " ").as("bpe_joined"))
    }),
    "ts_features_agg_sql" -> ((s, dir) => {
      Aggregators.registerAll(s)
      dailyEventsTs(s, dir).createOrReplaceTempView("_v24_feat")
      s.sql("""SELECT g, map_from_arrays(f.names, f.values) AS m
              |FROM (SELECT g, ts_features_agg(ds, y) AS f
              |      FROM _v24_feat GROUP BY g) t""".stripMargin)
        .select(col("g"),
          element_at(col("m"), "length").as("length"),
          round(element_at(col("m"), "sum"), 4).as("sum"),
          round(element_at(col("m"), "mean"), 6).as("mean"),
          round(element_at(col("m"), "minimum"), 6).as("minimum"),
          round(element_at(col("m"), "maximum"), 6).as("maximum"),
          round(element_at(col("m"), "range"), 6).as("range"),
          round(element_at(col("m"), "median"), 6).as("median"),
          round(element_at(col("m"), "quantile_0.25"), 6).as("q25"),
          round(element_at(col("m"), "quantile_0.75"), 6).as("q75"),
          element_at(col("m"), "count_above_mean").as("count_above_mean"),
          element_at(col("m"), "count_below_mean").as("count_below_mean"),
          round(element_at(col("m"), "first_value"), 6).as("first_value"),
          round(element_at(col("m"), "last_value"), 6).as("last_value"),
          round(element_at(col("m"), "mean_change"), 6).as("mean_change"),
          round(element_at(col("m"), "mean_abs_change"), 6).as("mean_abs_change"),
          round(element_at(col("m"), "absolute_sum_of_changes"), 4)
            .as("absolute_sum_of_changes"),
          element_at(col("m"), "count_unique").as("count_unique"))
    }),
    "ts_changepoints_agg_sql" -> ((s, dir) => {
      Aggregators.registerAll(s)
      val step = stepSeries(s, dir)
      step.select(col("g"), col("ds").cast(TimestampType).as("ds"), col("y"))
        .createOrReplaceTempView("_v24_step")
      val flags = s.sql(
        """SELECT g, ts_detect_changepoints_agg(ds, y) AS cp
          |FROM _v24_step GROUP BY g""".stripMargin)
        .select(col("g"), posexplode(col("cp.is_changepoint")))
        .select(col("g"), col("pos").as("_pos"), col("col").as("is_changepoint"))
      val w = Window.partitionBy(col("g")).orderBy(col("ds"))
      step.withColumn("_pos", row_number().over(w) - 1)
        .join(flags, Seq("g", "_pos"))
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"),
          col("is_changepoint"))
    }),
  )

  def oracleSql: Map[String, String] = rows(
    "bigram_broadcast_score" -> SparkEntryV18.oracleSql("lm_bigram_score"),
    "lm_model_score" -> SparkEntryV17.oracleSql("lm_unigram_score"),
    "nb_model_score" -> SparkEntryV19.oracleSql("classifier_nb_score"),
    "bpe_train_fast" -> SparkEntryV20.oracleSql("bpe_train"),
    "bpe_encode_fast" -> SparkEntryV20.oracleSql("bpe_encode"),
    "ts_features_agg_sql" -> SparkEntryV3.oracleSql("ts_features_by"),
    "ts_changepoints_agg_sql" -> SparkEntryV10.oracleSql("ts_changepoints_bocpd_by"),
  )
}
