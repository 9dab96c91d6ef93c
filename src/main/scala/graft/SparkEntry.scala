package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  *
  * `queries` is the engine's registered operator inventory: one entry per
  * implemented operator from SURVEY.md §2 (reference parity) plus the
  * extension surface (relational breadth, dedup, similarity, text analysis,
  * events/windows). `oracleSql` carries the DuckDB-equivalent SQL for every
  * SQL-expressible query; non-SQL-expressible ops are covered by ScalaTest
  * instead and get the driver's rows-only check.
  */
object SparkEntry {

  /** Flagship query (the reference's only query: word count) on sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.queries("wordcount")(spark, "/root/testdata/sf0.001")

  private val registries: Seq[(Map[String, (SparkSession, String) => DataFrame],
                               Map[String, String])] =
    Seq(
      (CoreQueries.queries, CoreQueries.oracles),
      (RelationalQueries.queries, RelationalQueries.oracles),
      (ExtraRelationalQueries.queries, ExtraRelationalQueries.oracles),
      (TextQueries.queries, TextQueries.oracles),
      (MiscQueries.queries, MiscQueries.oracles),
      (DedupQueries.queries, DedupQueries.oracles),
      (PipelineQueries.queries, PipelineQueries.oracles),
      (CurationQueries.queries, CurationQueries.oracles),
      (CorpusQueries.queries, CorpusQueries.oracles),
      (SimilarityQueries.queries, SimilarityQueries.oracles),
      (graft.multimodal.Multimodal.queries, graft.multimodal.Multimodal.oracles))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.map(_._1).reduce(_ ++ _)

  val oracleSql: Map[String, String] =
    registries.map(_._2).reduce(_ ++ _)

  /** Queries that have NO DuckDB oracle BY DESIGN — genuinely
    * probabilistic or not SQL-expressible — each pinned by a named
    * ScalaTest spec (error bounds, recall vs the exact twin, merge laws)
    * instead of a hash compare. Machine-readable so a correctness report
    * can distinguish "rows-only, deliberate" from "oracle missing".
    * EntrySpec enforces that this set is exactly queries ∖ oracleSql. */
  def rowsOnlyPinnedBy: Map[String, String] = Map(
    "dedup_simhash" -> "DedupSimilaritySpec (xxhash64 hash family; oracle twin dedup_simhash_md5)",
    "sketch_cms_topk" -> "CorpusSpec (xxhash64 hash family; oracle twin sketch_cms_topk_md5)",
    "q57_approx_quantile" -> "ExtraRelationalSpec (KLL sketch, engine-specific)",
    "q37_approx_distinct" -> "MiscSpec (HLL within 5% of exact)",
    "sketch_hll_union" -> "CurationSpec (HLL union merge law)",
    "ta_fingerprint" -> "RobustnessSpec (rolling hash; oracle twin ta_fingerprint_md5)")
}
