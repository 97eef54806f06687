package graft.io

import java.nio.file.Files
import java.util.Properties

import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Cols._
import graft.llm.TextOps.hash48Sql

/** Remaining source/sink operators (SURVEY §2.1/2.2): S2 CSV scan,
  * K1 saveAsTable, K2 model persist, K3 JDBC, K7 text dump, F11 sigmoid.
  * Each is exercised as a ROUND-TRIP inside its declared query — write to
  * the sink, read back through the matching source, emit the read-back
  * rows — so the oracle checks the whole path, not just that a write
  * didn't throw.
  */
object Sinks {

  type Q = (SparkSession, String) => DataFrame

  /** Per-query scratch dir — see [[graft.util.Scratch]] for the
    * process-isolation + cleanup contract. */
  private def scratchDir(name: String): String =
    graft.util.Scratch.dir(name)

  /** S2: CSV with header + inferSchema + na.drop
    * (GBDT/spark/churn_xgb4j_spark.scala:19). Parquet→CSV→parquet
    * round-trip: inference must recover bigint/double/string. */
  private val s2: Q = (spark, dir) => {
    import spark.implicits._
    val src = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        to_date($"o_orderdate").as("order_date"), $"o_orderpriority")
    val tmp = scratchDir("csv")
    src.write.mode("overwrite").option("header", "true").csv(s"$tmp/orders_csv")
    spark.read
      .options(Map("header" -> "true", "inferSchema" -> "true"))
      .csv(s"$tmp/orders_csv")
      .na.drop()
      // inferSchema narrows int-valued keys to INT at small SF (and would
      // flip to BIGINT once keys pass 2^31) — pin the widths explicitly
      .select($"o_orderkey".cast("long").as("o_orderkey"),
        $"o_custkey".cast("long").as("o_custkey"), $"o_totalprice",
        to_date($"order_date").as("order_date"), $"o_orderpriority")
  }

  /** S10 (extension): JSON-lines sink + source round-trip — the ingest
    * format half the world's event feeds arrive in. The read passes an
    * EXPLICIT schema: schema inference on JSON is a full extra pass over
    * the data (fatal at 100 TB) and silently widens types on dirty rows;
    * a declared schema makes the scan single-pass and deterministic.
    * Timestamps round-trip as ISO-8601 strings (written then re-cast) so
    * the comparison is timezone-stable. */
  /** s13: ORC round-trip — the third columnar interchange format after
    * parquet and JSON-lines (warehouses that standardized on Hive
    * commonly hand ORC over). Same contract as s10: write the typed
    * projection to ORC in scratch, read it back with an explicit
    * schema, and the declared output must equal the parquet-sourced
    * oracle row-for-row — which fails if the codec drops precision
    * (timestamps via the ISO string, the s10 lesson), reorders fields,
    * or loses nullability. Spark-native ORC, zero extra dependencies;
    * the write+read is per-partition parallel at any scale. */
  private val s13: Q = (spark, dir) => {
    import spark.implicits._
    val src = Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_iso"))
    val tmp = scratchDir("orc")
    src.write.mode("overwrite").orc(s"$tmp/events_orc")
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, ts_iso STRING")
      .orc(s"$tmp/events_orc")
  }

  private val s10: Q = (spark, dir) => {
    import spark.implicits._
    val src = Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_iso"))
    val tmp = scratchDir("json")
    src.write.mode("overwrite").json(s"$tmp/events_json")
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, ts_iso STRING")
      .json(s"$tmp/events_json")
  }

  /** S11: schema-evolution read — the warehouse reality every long-lived
    * pipeline hits: files written before a column existed must coexist
    * with files written after. Half the orders (hash-split, engine-free)
    * are written under the V1 schema, half under V2 which ADDS
    * rev_cents; `mergeSchema` unifies the footers and V1 rows surface
    * the new column as NULL. The aggregate proves both the unified
    * schema and the null semantics (count + null-count + sum per
    * status). Scale note: mergeSchema reconciles FOOTERS (file
    * metadata), not data — cost is per-file not per-row; at warehouse
    * scale the same contract comes from the table format's schema
    * registry (Hive/Delta/Iceberg), and the read path here is exactly
    * what those formats hand Spark. */
  private val s11: Q = (spark, dir) => {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        (graft.llm.TextOps.hash48($"o_orderkey".cast("string")) % 2 === 0)
          .as("is_v1"))
    val tmp = scratchDir("evolve")
    o.filter($"is_v1")
      .select($"o_orderkey", $"o_orderstatus")
      .write.mode("overwrite").parquet(s"$tmp/t/v=1")
    o.filter(!$"is_v1")
      .select($"o_orderkey", $"o_orderstatus",
        (dec2($"o_totalprice") * 100).cast("long").as("rev_cents"))
      .write.mode("overwrite").parquet(s"$tmp/t/v=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$tmp/t")
    // Tiny-corpus guard: if the hash split left one side empty its file
    // never contributes rev_cents to the merged footer schema.
    val withV2 =
      if (merged.columns.contains("rev_cents")) merged
      else merged.withColumn("rev_cents", lit(null).cast("long"))
    withV2
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(when($"rev_cents".isNull, 1L).otherwise(0L)).as("n_legacy"),
        (sum(coalesce($"rev_cents", lit(0L))) / 100.0).as("sum_v2_price"))
  }

  /** K1: saveAsTable in ORC — the reference's exact spelling (RF:225
    * writes its feature table as an ORC hive table) — + read back via
    * the catalog. */
  private val k1: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite").format("orc").saveAsTable("k1_orders_agg")
    spark.table("k1_orders_agg")
  }

  /** K2: ML writer/reader round-trip as its own declared op (the
    * trainEval queries also do this for full PipelineModels): persist a
    * fitted StringIndexerModel, reload, emit its dictionary. Oracle =
    * the same frequencyDesc row_number SQL as m1. */
  private val k2: Q = (spark, dir) => {
    import spark.implicits._
    val df = Tables.load(spark, dir, "orders").select($"o_orderpriority")
    val model = new StringIndexer()
      .setInputCol("o_orderpriority").setOutputCol("idx")
      .setStringOrderType("frequencyDesc").fit(df)
    val path = scratchDir("sidx") + "/model"
    model.write.overwrite().save(path)
    val loaded = org.apache.spark.ml.feature.StringIndexerModel.load(path)
    loaded.labelsArray(0).zipWithIndex.toSeq.toDF("value", "idx")
      .select($"value", $"idx".cast("long").as("idx"))
  }

  /** K3: JDBC write + read back (GBDT/spark/utils.scala:109-116 —
    * postgres there; embedded Derby here, same DataFrameWriter.jdbc
    * surface and the jar Spark already ships). */
  private val k3: Q = (spark, dir) => {
    import spark.implicits._
    val url = s"jdbc:derby:${scratchDir("derby")}/db;create=true"
    val props = new Properties()
    val out = Tables.load(spark, dir, "region")
      .select($"r_regionkey".cast("long").as("r_regionkey"), $"r_name")
    out.write.mode("overwrite").jdbc(url, "region_sink", props)
    spark.read.jdbc(url, "region_sink", props)
      .select($"r_regionkey", $"r_name")
  }

  /** K4's semantic twin (GBDT/spark/utils.scala:141-156, hashMD5 at
    * :125-132): the HBase put itself is out of scope (no cluster), but
    * the KV-row PRODUCTION is plain SQL — rowkey = first 5 md5 hex chars
    * + "_" + key (the salt prefix that spreads sequential keys across
    * region servers), value = the array column rendered "[a,b,c]"
    * (mkString("[", ",", "]") in the reference). Here: per customer, the
    * sorted list of their order keys, round-tripped through a parquet
    * sink. Any KV store (HBase/Cassandra/Redis) consumes these rows
    * as-is. */
  private val k4: Q = (spark, dir) => {
    import spark.implicits._
    val kv = Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sort_array(collect_list($"o_orderkey".cast("string"))).as("items"))
      .select(
        concat(substring(md5($"o_custkey".cast("string")), 1, 5), lit("_"),
          $"o_custkey".cast("string")).as("rowkey"),
        concat(lit("["), concat_ws(",", $"items"), lit("]")).as("recommend"))
    val tmp = scratchDir("k4")
    kv.write.mode("overwrite").parquet(s"$tmp/kv")
    Tables.parquet(spark, s"$tmp/kv")
  }

  /** K7 + F11: sigmoid scores dumped as text lines
    * (FM/fm_csv/fm_churn_csv.py:178-180; LR/model.py:81), read back and
    * re-emitted. Fixed-format %.9f keeps the text form engine-portable. */
  private val k7: Q = (spark, dir) => {
    import spark.implicits._
    val scored = Tables.load(spark, dir, "orders")
      .select($"o_orderkey",
        expr("1.0 / (1.0 + exp(-( (o_orderkey % 13) - 6 )))").as("prob")) // F11
      .select(concat($"o_orderkey".cast("string"), lit(","),
        format_string("%.9f", $"prob")).as("value"))
    val tmp = scratchDir("k7")
    scored.write.mode("overwrite").text(s"$tmp/preds")
    spark.read.text(s"$tmp/preds")
  }

  /** S9 (extension): Hive-style partitioned layout round-trip — write
    * orders partitioned by status, read back through a partition filter.
    * The scan must PRUNE: only the o_orderstatus=F directory is listed
    * and read (PartitionFilters in the scan node, asserted in
    * BucketingSpec) — at 100 TB this is the difference between scanning
    * one partition and scanning the warehouse. The oracle checks the
    * round-trip: partition values are carried by directory name, not
    * data pages, and must survive bit-identically. */
  private val s9: Q = (spark, dir) => {
    import spark.implicits._
    val tmp = scratchDir("part")
    Tables.load(spark, dir, "orders").write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(s"$tmp/orders_by_status")
    spark.read.parquet(s"$tmp/orders_by_status")
      .filter($"o_orderstatus" === "F")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
  }

  /** J4: co-bucketed fact join — the production layout for the biggest
    * join at warehouse scale. Both fact tables are written
    * `bucketBy(8, orderkey).sortBy(orderkey)` (K1's saveAsTable path),
    * then joined through the catalog: with matching bucket counts the
    * join reads co-located buckets and plans ZERO exchanges on its
    * inputs (asserted in BucketingSpec) — at 100 TB this deletes the
    * two largest shuffles of the pipeline. The oracle checks the
    * round-trip end-to-end: bucketed write → catalog read → join → agg
    * must equal the plain parquet join. */
  private val j4: Q = (spark, dir) => {
    import spark.implicits._
    // Bucket-write only the columns the join + agg read. The bucketed
    // layout, catalog round-trip, and exchange-free join are what J4
    // declares; writing the other 5/12 columns of each fact was pure
    // write+sort ballast (orders 9 cols → 2, lineitem
    // 16 → 2; measured 4.6 → 3.4 s at sf0.1). At warehouse scale the
    // bucket table IS the projection a repeated join consumes.
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority")
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("j4_orders_bkt")
    Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity")
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("j4_lineitem_bkt")
    spark.table("j4_orders_bkt")
      .join(spark.table("j4_lineitem_bkt"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
  }

  /** F11 standalone: sigmoid as a native expression over a column. */
  private val f11: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey",
        (($"o_orderkey" % 13) - 6).cast("double").as("x"))
      .withColumn("sigmoid", expr("1.0 / (1.0 + exp(-x))"))
  }

  /** S14: CSV with the three fields that break naive parsers — an
    * embedded delimiter, an embedded DOUBLED quote, and an embedded
    * NEWLINE inside one quoted value — written and read back through
    * Spark's csv source in RFC-4180 mode (escape = quote, so quotes
    * double instead of backslash-escaping — what every non-Spark
    * consumer expects to parse) with multiLine read enabled (a quoted
    * newline otherwise splits the record and shears the file). The
    * oracle recomputes the projection from the original parquet: the
    * round trip must be byte-identical, which fails if the writer
    * mis-escapes or the reader splits on the embedded newline. Scale
    * note: multiLine=true makes a csv FILE unsplittable (a record can
    * straddle any byte offset) — per-file parallelism, the honest cost
    * of quoted newlines; files-per-partition sizing is the knob. */
  private val s14: Q = (spark, dir) => {
    import spark.implicits._
    val src = Tables.load(spark, dir, "orders")
      .select($"o_orderkey",
        concat($"o_orderpriority", lit(", \"q\"\n"), $"o_orderstatus")
          .as("note"))
    val tmp = scratchDir("csvq")
    src.write.mode("overwrite")
      .options(Map("header" -> "true", "quoteAll" -> "true", "escape" -> "\""))
      .csv(s"$tmp/quirks")
    spark.read
      .options(Map("header" -> "true", "multiLine" -> "true", "escape" -> "\""))
      .schema("o_orderkey BIGINT, note STRING")
      .csv(s"$tmp/quirks")
  }

  /** K9: small-file COMPACTION — the table-maintenance op (OPTIMIZE /
    * rewrite) every long-lived warehouse table needs: a fragmented
    * table (64 shuffle-written part files) is rewritten to
    * ⌈rows/20k⌉ right-sized files, and the audit row proves rows and
    * content survived bit-exactly while the file count collapsed. File
    * counts are MEASURED from input_file_name() on each read-back (not
    * from partition counts — Spark bin-packs small files into shared
    * scan partitions, so partition count under-reports fragmentation).
    * The sizing rule is row-count-based so the audit is engine-
    * independent and oracle-checkable; a production rewrite sizes by
    * bytes — same plan shape, different constant. Precondition
    * rows ≥ 64 keeps round-robin from leaving empty writers. */
  private val k9: Q = (spark, dir) => {
    import spark.implicits._
    val tmp = scratchDir("compact")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey", (dec2($"o_totalprice") * 100).cast("long").as("cents"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$tmp/small")
    val small = Tables.parquet(spark, s"$tmp/small")
    // ONE pre-compaction scan for both stats (input_file_name() is
    // non-deterministic to Catalyst — project it to a column BEFORE
    // aggregating over it)
    val pre = small.select(input_file_name().as("f"))
      .agg(countDistinct($"f").as("nf"), count(lit(1)).as("n")).head()
    val (nFilesBefore, n) = (pre.getLong(0), pre.getLong(1))
    val target = math.max(1L, (n + 19999L) / 20000L)
    small.repartition(target.toInt).write.mode("overwrite")
      .parquet(s"$tmp/compacted")
    val back = Tables.parquet(spark, s"$tmp/compacted")
      .withColumn("f", input_file_name())
    // per-FILE grain first, then a file-count-sized reduce: one
    // distinct per aggregate level — two countDistincts in one agg
    // plan an Expand that triples the read-back (caught by the plan
    // pin). n_keys = Σ per-file distincts, equal to the global
    // distinct exactly when no key was duplicated across files — the
    // audit deviation a corrupted rewrite should surface.
    back.groupBy($"f")
      .agg(count(lit(1)).as("nr"), sum($"cents").as("cs"),
        countDistinct($"o_orderkey").as("nk"))
      .agg(sum($"nr").as("n_rows"), sum($"cs").as("sum_cents"),
        sum($"nk").as("n_keys"), count(lit(1)).as("n_files_after"))
      .select($"n_rows", $"sum_cents", $"n_keys",
        lit(nFilesBefore).as("n_files_before"), $"n_files_after")
  }

  /** k10: DYNAMIC partition overwrite — the warehouse restatement
    * primitive (re-land ONE partition's corrected rows without touching
    * its siblings; Hive INSERT OVERWRITE ... PARTITION semantics). The
    * full table is written partitioned by status, then a restatement
    * batch of only the 'F' rows (amounts halved — a deterministic
    * "correction") is overwrite-written under
    * partitionOverwriteMode=dynamic: Spark deletes and replaces ONLY
    * the partitions present in the incoming data. The declared output
    * aggregates the read-back table per status, so the oracle catches
    * BOTH failure modes: static-mode semantics would drop the O/P
    * partitions entirely (missing groups), and append semantics would
    * double the F counts. The mode rides a per-WRITE DataFrameWriter
    * option (overrides the session conf — no save/restore, no race
    * window for concurrent writes). Scale shape: partition-parallel
    * write/read; the
    * restatement touches |F| rows regardless of table size — exactly
    * why dynamic overwrite exists at 100 TB (a full-table rewrite per
    * restatement is the alternative). halving uses shiftright (exact
    * integer floor), never a double divide. */
  private val k10: Q = (spark, dir) => {
    import spark.implicits._
    val base = s"${scratchDir("dynpart")}/orders_by_status"
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        (dec2($"o_totalprice") * 100).cast("long").as("cents"),
        $"o_orderstatus")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(base)
    // per-WRITE option, not the session conf: the writer option takes
    // precedence over spark.sql.sources.partitionOverwriteMode, so no
    // save/restore dance and no race window in which a concurrent write
    // on the same session silently inherits dynamic semantics
    o.filter($"o_orderstatus" === "F")
      .withColumn("cents", shiftright($"cents", 1))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(base)
    spark.read.parquet(base)
      .groupBy($"o_orderstatus".cast("string").as("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
  }

  /** j16: DYNAMIC PARTITION PRUNING — the partition-layout twin of
    * j12's manual runtime filter, using Spark's OWN machinery: the fact
    * is laid out partitioned by status, the dimension carries a
    * selective non-partition predicate, and at planning time Catalyst
    * injects a dynamicpruningexpression subquery into the fact scan's
    * PartitionFilters — the fact's non-matching partitions are never
    * LISTED, let alone read (with a broadcast build side the pruning
    * filter is the reused broadcast, so it is free). At 100 TB this is
    * the difference between scanning one day's partition and scanning
    * the table; PlanShapeSpec pins the dynamicpruning expression ON THE
    * SCAN so a layout or join-shape refactor that silently kills DPP
    * fails the suite, not the cluster bill. The declared output is the
    * joined aggregate (one surviving partition), which also catches a
    * wrong-pruning bug as missing/extra rows. */
  private val j16: Q = (spark, dir) => {
    import spark.implicits._
    val base = s"${scratchDir("dpp")}/orders_part"
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey",
        (dec2($"o_totalprice") * 100).cast("long").as("cents"),
        $"o_orderstatus")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(base)
    // the dim must be a SOURCE with a surviving Filter node — over a
    // local literal frame ConvertToLocalRelation folds the predicate
    // away and the DPP rule sees no selective predicate to propagate
    val dimPath = s"${scratchDir("dpp")}/status_dim"
    Seq(("F", "closed"), ("O", "open"), ("P", "pending"))
      .toDF("status", "phase")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(base)
      .join(broadcast(Tables.parquet(spark, dimPath)
        .filter($"phase" === "closed")),
        $"o_orderstatus" === $"status")
      .groupBy($"o_orderstatus".cast("string").as("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
  }

  /** s15: PERMISSIVE corrupt-record QUARANTINE — the ingest-gate
    * reality check every JSON feed needs: a deterministic 1-in-13 of
    * the written records is truncated mid-object (invalid JSON), the
    * read runs PERMISSIVE with a _corrupt_record column, and the
    * declared aggregate proves the contract: corrupt rows are COUNTED
    * (never silently dropped — that's DROPMALFORMED's failure mode at
    * 100 TB: data loss with no signal) and their value columns stay
    * out of the good-rows sum. Only null-tested/corrupt-gated
    * aggregates are emitted: PERMISSIVE's partial-parse behavior for
    * fields BEFORE the truncation point is version-dependent, so the
    * query never reads a data field off a quarantined row. */
  private val s15: Q = (spark, dir) => {
    import spark.implicits._
    val tmp = scratchDir("quarantine")
    val lines = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", (dec2($"o_totalprice") * 100).cast("long")
        .as("cents"))
      .select(when($"o_orderkey" % 13 === 0,
          concat(lit("{\"o_orderkey\": "), $"o_orderkey",
            lit(", \"cents\": ")))
        .otherwise(concat(lit("{\"o_orderkey\": "), $"o_orderkey",
          lit(", \"cents\": "), $"cents", lit("}"))).as("value"))
    lines.write.mode("overwrite").text(s"$tmp/orders_json")
    spark.read
      .schema("o_orderkey BIGINT, cents BIGINT, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$tmp/orders_json")
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"_corrupt_record".isNotNull, 1L).otherwise(0L))
          .as("n_quarantined"),
        sum(when($"_corrupt_record".isNull, $"cents").otherwise(0L))
          .as("sum_good_cents"))
  }

  val queries: Map[String, Q] = Map(
    "s15_json_quarantine"   -> s15,
    "j16_dpp"               -> j16,
    "k10_dynamic_overwrite" -> k10,
    "s14_csv_quirks"   -> s14,
    "k9_compaction"    -> k9,
    "s2_csv_scan"      -> s2,
    "s10_json_roundtrip" -> s10,
    "s13_orc_roundtrip"  -> s13,
    "s11_schema_merge" -> s11,
    "k1_save_as_table" -> k1,
    "k2_model_persist" -> k2,
    "k3_jdbc_roundtrip"-> k3,
    "k4_kv_rows"       -> k4,
    "j4_bucketed_join" -> j4,
    "s9_partition_pruning" -> s9,
    "k7_text_dump"     -> k7,
    "f11_sigmoid"      -> f11)

  val oracles: Map[String, String] = Map(
    // replays the 1-in-13 corruption rule directly
    "s15_json_quarantine" ->
      """SELECT COUNT(*) AS n_rows,
        |       CAST(SUM(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_quarantined,
        |       CAST(SUM(CASE WHEN o_orderkey % 13 = 0 THEN 0
        |                ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                  AS BIGINT) END) AS BIGINT) AS sum_good_cents
        |FROM orders""".stripMargin,

    // only the dimension-surviving partition contributes
    "j16_dpp" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY 1""".stripMargin,

    // the post-restatement table: F rows halved (floor — cents are
    // non-negative so // is the shiftright twin), siblings untouched
    "k10_dynamic_overwrite" ->
      """WITH o AS (
        |  SELECT o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN cents // 2
        |                ELSE cents END) AS BIGINT) AS sum_cents
        |FROM o GROUP BY 1""".stripMargin,

    "s14_csv_quirks" ->
      """SELECT o_orderkey,
        |       o_orderpriority || ', "q"' || chr(10) || o_orderstatus AS note
        |FROM orders""".stripMargin,

    // the audit row recomputed from the source table; the file counts
    // follow from the declared sizing rule (64 round-robin writers with
    // rows >= 64; ceil(rows/20k) compacted files)
    "k9_compaction" ->
      """SELECT COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS sum_cents,
        |       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |       CAST(64 AS BIGINT) AS n_files_before,
        |       CAST((COUNT(*) + 19999) // 20000 AS BIGINT) AS n_files_after
        |FROM orders""".stripMargin,

    "s2_csv_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
        |FROM orders""".stripMargin,
    "s11_schema_merge" ->
      s"""WITH o AS (
         |  SELECT o_orderstatus,
         |         ${hash48Sql("CAST(o_orderkey AS VARCHAR)")} % 2 = 0 AS is_v1,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS rev_cents
         |  FROM orders)
         |SELECT o_orderstatus, COUNT(*) AS n,
         |       CAST(SUM(CASE WHEN is_v1 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
         |       SUM(CASE WHEN is_v1 THEN 0 ELSE rev_cents END) / 100.0 AS sum_v2_price
         |FROM o GROUP BY 1""".stripMargin,

    "s10_json_roundtrip" ->
      """SELECT event_id, user_id, event_type, value,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')
        |         AS ts_iso
        |FROM events""".stripMargin,
    "s13_orc_roundtrip" ->
      """SELECT event_id, user_id, event_type, value,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')
        |         AS ts_iso
        |FROM events""".stripMargin,
    "k1_save_as_table" ->
      "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus",
    "k2_model_persist" ->
      """SELECT o_orderpriority AS value,
        |       row_number() OVER (ORDER BY count(*) DESC, o_orderpriority) - 1 AS idx
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "k3_jdbc_roundtrip" ->
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region",
    "k4_kv_rows" ->
      """SELECT substr(md5(CAST(o_custkey AS VARCHAR)), 1, 5) || '_' ||
        |         CAST(o_custkey AS VARCHAR) AS rowkey,
        |       '[' || array_to_string(
        |         list_sort(list(CAST(o_orderkey AS VARCHAR))), ',') || ']'
        |         AS recommend
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "j4_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "s9_partition_pruning" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "k7_text_dump" ->
      """SELECT CAST(o_orderkey AS VARCHAR) || ',' ||
        |       printf('%.9f', 1.0 / (1.0 + exp(-CAST((o_orderkey % 13) - 6 AS DOUBLE))))
        |       AS value
        |FROM orders""".stripMargin,
    "f11_sigmoid" ->
      """SELECT o_orderkey, CAST((o_orderkey % 13) - 6 AS DOUBLE) AS x,
        |       1.0 / (1.0 + exp(-CAST((o_orderkey % 13) - 6 AS DOUBLE))) AS sigmoid
        |FROM orders""".stripMargin)
}
