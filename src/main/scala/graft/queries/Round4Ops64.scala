package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal

/** Round-4 batch 64: the modality mix card and deterministic
  * inspection samples.
  */
object Round4Ops64 {

  /** Modality mix card: assets / bytes / mean frame counts per
    * modality over the multimodal table — the storage-planning view of
    * a mixed corpus.
    */
  val mm_modality_mix = OpQuery(
    "mm_modality_mix",
    """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |       CAST(COUNT(*) AS BIGINT) AS assets,
      |       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS payload_bytes,
      |       CAST(SUM(doc_id % 50 + 1) AS BIGINT) AS total_frames
      |FROM documents
      |GROUP BY 1
      |ORDER BY modality""".stripMargin) { (spark, dir) =>
    Multimodal.syntheticMedia(Tables.load(spark, dir, "documents"))
      .groupBy(col("modality"))
      .agg(
        count(lit(1)).cast("long").as("assets"),
        sum(length(col("payload"))).cast("long").as("payload_bytes"),
        sum(col("meta.n_frames")).cast("long").as("total_frames"))
      .orderBy("modality")
  }

  /** Deterministic inspection sample: the md5-first 3 documents per
    * language with truncated previews — the stable "eyeball set" a
    * data-quality review looks at every week (same docs every run, on
    * any cluster, until the data itself changes).
    */
  val dq_sample_inspection = OpQuery.sql("dq_sample_inspection", "documents")(
    """WITH ranked AS (
      |  SELECT lang, doc_id, substr(text, 1, 40) AS preview,
      |         ROW_NUMBER() OVER (PARTITION BY lang
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT lang, CAST(rn AS INT) AS rn, doc_id, preview
      |FROM ranked WHERE rn <= 3
      |ORDER BY lang, rn""".stripMargin,
    "substr(" -> "substring(",
    "VARCHAR" -> "STRING")

  val all: Seq[OpQuery] = Seq(mm_modality_mix, dq_sample_inspection)
}
