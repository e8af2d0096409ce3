package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Exact, Tables}
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** #51: the end-to-end training-data curation pipeline, composed from the
  * individual operators the way a real 100 TB corpus build chains them:
  *
  *   raw documents
  *     → language filter   (lang-ID prediction in the [[KeepLangs]] allow-list)
  *     → quality filter    (heuristic quality score ≥ [[QualityTau]])
  *     → exact dedup       (keep min doc_id per normalized-text hash)
  *     → near-dup removal  (drop any doc with a verified MinHash pair
  *                          partner of smaller id that survived the
  *                          earlier stages)
  *     → per-source accounting (docs surviving each stage, tokens kept)
  *
  * This is the "funnel report" every corpus pipeline emits: one row per
  * source with the attrition at each stage — the artifact you review
  * before committing a multi-day training run to the data.
  *
  * Scale shape: stages 1–3 are one pass over documents (lang prediction
  * is the only aggregation, keyed by doc_id) plus one hash-groupBy for
  * exact dedup; near-dup reuses the banded MinHash pair graph (shuffle
  * keyed on (band, bucket) only — see [[Dedup.minhashPairs]]); the final
  * accounting is a single per-source aggregation. No cross-document
  * join touches raw text after shingling.
  */
object CorpusClean {

  /** Language allow-list: documents whose PREDICTED language falls
    * outside it are dropped (the usual multilingual-corpus gate).
    */
  val KeepLangs = Seq("de", "en", "es")

  /** Minimum heuristic quality score. */
  val QualityTau = 0.7

  // `staged` feeds both the near-dup drop list and the final report; it
  // is persisted per (session, dir) — a slim flags frame (no text), and
  // exactly the intermediate a 100 TB pipeline materializes between the
  // per-doc stages and the pair-graph stage. Without it the whole
  // lang-ID + quality + exact-dedup subtree computes twice.
  private val stagedCache = new graft.core.DfCache[(SparkSession, String)]

  private def stagedFlags(spark: SparkSession, dir: String): DataFrame =
    stagedCache.getOrElseUpdate((spark, dir)) {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          md5(lower(trim(col("text")))).as("text_hash"))

      // stage flags from the component operators (each already oracle-checked)
      val pred = TextAnalysis.langId(spark, dir).select("doc_id", "pred_lang")
      val qual = TextAnalysis.qualityScore(spark, dir)
        .select(col("doc_id"), col("n_words"), col("quality"))

      val flags = docs
        .join(pred, Seq("doc_id"), "left")
        .join(qual, Seq("doc_id"), "left")
        .withColumn("lang_ok",
          coalesce(col("pred_lang").isInCollection(KeepLangs), lit(false)))
        .withColumn("qual_ok",
          col("lang_ok") && coalesce(col("quality") >= QualityTau, lit(false)))

      // exact dedup among quality survivors: keep min doc_id per hash —
      // a window over `flags`, not a join to an aggregate of it, so the
      // docs ⋈ langId ⋈ qualityScore subtree runs once
      flags
        .withColumn("keep_id", min(when(col("qual_ok"), col("doc_id")))
          .over(Window.partitionBy("text_hash")))
        .withColumn("uniq_ok", col("qual_ok") && col("doc_id") === col("keep_id"))
    }

  /** Per-document stage flags through the clean funnel — the frame the
    * #51 report aggregates, exposed so the end-to-end pipeline (#332,
    * [[Pipeline]]) can compose on the SAME per-doc verdicts instead of
    * re-deriving them: (doc_id, source, n_words, quality, lang_ok,
    * qual_ok, uniq_ok, kept).
    */
  private[pipeline] def keptFlags(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedFlags(spark, dir)

    // near-dup removal: drop a doc when a verified pair partner with a
    // SMALLER id survived stages 1-3 (vpairs always has d1 < d2)
    val s3 = staged.filter(col("uniq_ok")).select("doc_id")
    val dropNear = Dedup.minhashPairs(spark, dir)
      .join(s3.withColumnRenamed("doc_id", "d1"), "d1")
      .select(col("d2").as("doc_id")).distinct()
      .withColumn("near_dropped", lit(true))
    staged.join(dropNear, Seq("doc_id"), "left")
      .withColumn("kept",
        col("uniq_ok") && coalesce(!col("near_dropped"), lit(true)))
  }

  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    val all = keptFlags(spark, dir)
    def cnt(c: org.apache.spark.sql.Column) = sum(c.cast("long"))
    all.groupBy("source").agg(
      count(lit(1)).as("n_raw"),
      cnt(col("lang_ok")).as("n_lang_ok"),
      cnt(col("qual_ok")).as("n_qual_ok"),
      cnt(col("uniq_ok")).as("n_unique"),
      cnt(col("kept")).as("n_kept"),
      sum(when(col("kept"), col("n_words")).otherwise(lit(0L))).as("tokens_kept"),
      Exact.decSum(when(col("kept"), col("quality")).otherwise(lit(0.0)))
        .as("sum_quality_kept"))
  }

  /** The clean-funnel CTE chain `lw … alls` (per-doc `kept` verdicts;
    * requires the MinHash CTEs — `vpairs` — already in scope). Shared
    * by the #51 oracle and the #332 end-to-end pipeline oracle.
    */
  private[pipeline] val cleanCtes: String = {
    // lang-ID + quality fragments mirror TextAnalysis SQL; the MinHash
    // CTE chain is shared verbatim with the dedup oracles.
    val duckWords = "regexp_split_to_array(trim(text), '\\s+')"
    val keepList = KeepLangs.map(l => s"'$l'").mkString("(", ", ", ")")
    s"""lw AS (
       |  SELECT doc_id,
       |    ['de','en','es','fr','zh'][CAST(${graft.core.PortableHash.duck("w")} % 5 AS INT) + 1] AS pred_lang
       |  FROM (SELECT doc_id, unnest($duckWords) AS w FROM documents)
       |), lc AS (
       |  SELECT doc_id, pred_lang, COUNT(*) AS cnt FROM lw GROUP BY 1, 2
       |), pred AS (
       |  SELECT doc_id, pred_lang FROM lc
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, pred_lang ASC) = 1
       |), q AS (
       |  SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    ${graft.text.TextAnalysis.duckQuality} AS quality
       |  FROM (SELECT doc_id, n_chars, $duckWords AS ws FROM documents)
       |), flags AS (
       |  SELECT d.doc_id, d.source, md5(lower(trim(d.text))) AS text_hash,
       |    q.n_words, q.quality,
       |    COALESCE(p.pred_lang IN $keepList, FALSE) AS lang_ok,
       |    COALESCE(p.pred_lang IN $keepList, FALSE)
       |      AND COALESCE(q.quality >= $QualityTau, FALSE) AS qual_ok
       |  FROM documents d
       |  LEFT JOIN pred p USING (doc_id) LEFT JOIN q USING (doc_id)
       |), keepers AS (
       |  SELECT text_hash, MIN(doc_id) AS keep_id FROM flags
       |  WHERE qual_ok GROUP BY 1
       |), staged AS (
       |  SELECT f.*, f.qual_ok AND f.doc_id = k.keep_id AS uniq_ok
       |  FROM flags f LEFT JOIN keepers k USING (text_hash)
       |), drop_near AS (
       |  SELECT DISTINCT v.d2 AS doc_id
       |  FROM vpairs v JOIN staged s ON s.doc_id = v.d1 AND s.uniq_ok
       |), alls AS (
       |  SELECT s.*, COALESCE(s.uniq_ok, FALSE)
       |    AND dn.doc_id IS NULL AS kept
       |  FROM staged s LEFT JOIN drop_near dn USING (doc_id)
       |)""".stripMargin
  }

  val corpusCleanSql: String = {
    s"""WITH ${Dedup.minhashCtes},
       |$cleanCtes
       |SELECT source,
       |  COUNT(*) AS n_raw,
       |  CAST(SUM(CAST(lang_ok AS BIGINT)) AS BIGINT) AS n_lang_ok,
       |  CAST(SUM(CAST(qual_ok AS BIGINT)) AS BIGINT) AS n_qual_ok,
       |  CAST(SUM(CAST(COALESCE(uniq_ok, FALSE) AS BIGINT)) AS BIGINT) AS n_unique,
       |  CAST(SUM(CAST(kept AS BIGINT)) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN kept THEN n_words ELSE 0 END) AS BIGINT) AS tokens_kept,
       |  ${Exact.duckSum("CASE WHEN kept THEN quality ELSE 0.0 END")} AS sum_quality_kept
       |FROM alls GROUP BY source""".stripMargin
  }
}
