package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-gate corpus builder: `runMain graft.ScaleUp <srcSf> <outDir>
  * [factor]` writes a factor× copy of a testdata sf directory with
  * HONEST growth semantics — the sf1-equivalent the 10× gate runs on
  * (SURVEY §9).
  *
  * Growth model (the regimes [[ScaleProbes]] measures on this output):
  *  - every copy is a disjoint key universe: all primary/foreign keys
  *    offset by copy × (max(key)+1), so join structure replicates
  *    exactly (10 shards of sf0.1, the realistic "more customers, more
  *    orders" regime — per-key densities unchanged);
  *  - region/nation stay 1×: TPC-H dims are fixed-size at every sf;
  *  - part names and document tokens get the per-copy "~kkk" vocabulary
  *    salt (digit tripled: copies stay ≥ 3 edits apart, so near-dup /
  *    fuzzy-match structure replicates ~linearly instead of exploding
  *    quadratically on clone pairs — a 10× clone corpus would measure a
  *    duplication artifact, not scale). BM25's homogeneous-growth twin
  *    (query-term postings ×10) is built from the 1× tables by
  *    `ScaleProbes bm25`;
  *  - embeddings are cyclically shifted per copy (within-copy cosine
  *    structure preserved exactly, cross-copy decorrelated);
  *  - event timestamps are unchanged: more users, same per-user history.
  */
object ScaleUp {
  /** Copy offset for `key`, from the data rather than a constant: a fixed
    * stride silently collides ids on any base table whose keys reach it. */
  def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  /** `df` as copy 0 plus `remap(i)` for copies 1 until factor. */
  def copies(df: DataFrame, factor: Int)(remap: Int => DataFrame): DataFrame =
    (0 until factor).map(i => if (i == 0) df else remap(i)).reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local("graft-scaleup")

    val customer = Tables.load(spark, src, "customer")
    val supplier = Tables.load(spark, src, "supplier")
    val part     = Tables.load(spark, src, "part")
    val orders   = Tables.load(spark, src, "orders")
    val lineitem = Tables.load(spark, src, "lineitem")
    val events   = Tables.load(spark, src, "events")
    val docs     = Tables.load(spark, src, "documents")
    val emb      = Tables.load(spark, src, "embeddings")

    val (cS, sS, pS, oS, eS, dS, vS) = (
      stride(customer, "c_custkey"), stride(supplier, "s_suppkey"),
      stride(part, "p_partkey"), stride(orders, "o_orderkey"),
      stride(events, "event_id"), stride(docs, "doc_id"),
      stride(emb, "vec_id"))

    def shift(c: String, s: Long, i: Int) = (col(c) + lit(i * s)).as(c)
    def keep(df: DataFrame, shifted: Map[String, Int => org.apache.spark.sql.Column],
             i: Int): DataFrame =
      df.select(df.columns.toSeq.map(c =>
        shifted.get(c).map(_(i)).getOrElse(col(c))): _*)

    val outTables: Seq[(String, DataFrame)] = Seq(
      "region" -> Tables.load(spark, src, "region"),
      "nation" -> Tables.load(spark, src, "nation"),
      "customer" -> copies(customer, factor)(i =>
        keep(customer, Map("c_custkey" -> ((k: Int) => shift("c_custkey", cS, k))), i)),
      "supplier" -> copies(supplier, factor)(i =>
        keep(supplier, Map("s_suppkey" -> ((k: Int) => shift("s_suppkey", sS, k))), i)),
      "part" -> copies(part, factor)(i =>
        keep(part, Map(
          "p_partkey" -> ((k: Int) => shift("p_partkey", pS, k)),
          "p_name" -> ((k: Int) => regexp_replace(col("p_name"), "(\\S+)", s"$$1~$k$k$k")
            .as("p_name"))), i)),
      "orders" -> copies(orders, factor)(i =>
        keep(orders, Map(
          "o_orderkey" -> ((k: Int) => shift("o_orderkey", oS, k)),
          "o_custkey" -> ((k: Int) => shift("o_custkey", cS, k))), i)),
      "lineitem" -> copies(lineitem, factor)(i =>
        keep(lineitem, Map(
          "l_orderkey" -> ((k: Int) => shift("l_orderkey", oS, k)),
          "l_partkey" -> ((k: Int) => shift("l_partkey", pS, k)),
          "l_suppkey" -> ((k: Int) => shift("l_suppkey", sS, k))), i)),
      "events" -> copies(events, factor)(i =>
        keep(events, Map(
          "event_id" -> ((k: Int) => shift("event_id", eS, k)),
          "user_id" -> ((k: Int) => shift("user_id", cS, k))), i)),
      "documents" -> copies(docs, factor)(i =>
        keep(docs, Map(
          "doc_id" -> ((k: Int) => shift("doc_id", dS, k)),
          "text" -> ((k: Int) => regexp_replace(col("text"), "(\\S+)", s"$$1~$k$k$k")
            .as("text")),
          // keep the derived column consistent with the salted text
          "n_chars" -> ((k: Int) => length(regexp_replace(col("text"), "(\\S+)",
            s"$$1~$k$k$k")).cast("long").as("n_chars"))), i)),
      "embeddings" -> copies(emb, factor)(i =>
        keep(emb, Map(
          "vec_id" -> ((k: Int) => shift("vec_id", vS, k)),
          "embedding" -> { k =>
            val dims = 64
            val s = (k * 7) % dims
            concat(slice(col("embedding"), s + 1, dims - s),
              slice(col("embedding"), 1, s)).as("embedding")
          }), i)))

    outTables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${Tables.parquet(spark, s"$out/$name.parquet").count()} rows")
    }
    spark.stop()
  }
}
