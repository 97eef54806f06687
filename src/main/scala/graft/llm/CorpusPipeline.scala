package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.TextOps.{hash48Sql, ToksSql}

/** The corpus-prep pipeline, composed end-to-end as ONE declared query —
  * the flow a training-data team actually ships: quality-filter the raw
  * corpus, drop exact duplicates (keep the lowest doc_id per content
  * hash), chunk survivors into overlapping context windows, and stamp
  * each document's chunks with a leakage-safe train/val/test split.
  *
  * Composition is the point: every stage is an already-oracled operator
  * (d_quality_filter, dedup_exact, d_chunk, o5's hash split) and the
  * composed output is STILL exactly DuckDB-reproducible — the oracle
  * nests the same four stages. Stage order matters and is the
  * production order: filter before dedup (why hash garbage), dedup
  * before chunk (why chunk copies), split assigned at the DOCUMENT
  * level so all chunks of a doc share a split (chunk-level splitting
  * leaks near-identical overlapping windows across the boundary).
  *
  * Scale shape: quality metrics are map-side; dedup is one shuffle on
  * the content hash; chunking is map-side fanout; the split stamp is a
  * pure function. Two exchanges total beyond the scan (pinned in
  * PlanShapeSpec).
  */
object CorpusPipeline {

  type Q = (SparkSession, String) => DataFrame

  private val pipe: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val kept = TextOps.qualityFilterOf(docs)
      .filter($"keep" === 1).select($"doc_id")
    val k = docs.join(kept, "doc_id")
    val canon = k.groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("doc_id"))
    val uniq = k.join(canon.select($"doc_id"), "doc_id")
    TextOps.chunksOf(uniq)
      .withColumn("split", TextOps.hashSplit($"doc_id"))
  }

  val queries: Map[String, Q] = Map("pipe_corpus_prep" -> pipe)

  val oracles: Map[String, String] = Map(
    "pipe_corpus_prep" -> {
      val stops = TextOps.Stopwords.map(s => s"'$s'").mkString(",")
      s"""WITH t AS (SELECT doc_id, text, $ToksSql AS w FROM documents),
         |m AS (SELECT doc_id,
         |  len(w) AS n_tokens,
         |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS uniq_ratio,
         |  CAST(len(list_filter(w, x -> x IN ($stops))) AS DOUBLE)
         |    / len(w) AS stop_ratio,
         |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |    / len(w) AS avg_token_len
         |  FROM t),
         |keepd AS (
         |  SELECT t.doc_id, t.text FROM t JOIN m USING (doc_id)
         |  WHERE m.n_tokens BETWEEN 20 AND 1000
         |    AND m.uniq_ratio >= 0.2 AND m.stop_ratio <= 0.5
         |    AND m.avg_token_len BETWEEN 3.0 AND 12.0),
         |canon AS (SELECT MIN(doc_id) AS doc_id
         |          FROM keepd GROUP BY md5(text)),
         |uniq AS (SELECT k.doc_id, k.text
         |         FROM keepd k JOIN canon USING (doc_id)),
         |u2 AS (SELECT doc_id,
         |  list_filter(${ToksSql}, x -> length(x) > 0) AS w FROM uniq),
         |s AS (SELECT doc_id, w,
         |  unnest(generate_series(1, greatest(len(w), 1), 16)) AS start
         |  FROM u2)
         |SELECT doc_id,
         |  CAST((start - 1) // 16 AS BIGINT) AS chunk_id,
         |  CAST(len(list_slice(w, start, least(start + 31, len(w))))
         |    AS BIGINT) AS n_toks,
         |  array_to_string(list_slice(w, start, least(start + 31, len(w))),
         |    ' ') AS chunk_text,
         |  CASE WHEN ${hash48Sql("CAST(doc_id AS VARCHAR)")} % 100 < 80
         |         THEN 'train'
         |       WHEN ${hash48Sql("CAST(doc_id AS VARCHAR)")} % 100 < 90
         |         THEN 'val'
         |       ELSE 'test' END AS split
         |FROM s""".stripMargin
    })
}
