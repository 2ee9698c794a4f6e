package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory is assembled from per-domain packs (graft.operators.*);
  * keys are globally unique and every SQL-expressible query has a DuckDB
  * oracle with identical column names and ordering.
  */
object SparkEntry {

  /** The query packs in registration order — private[graft] so the
    * README operator-index generator ([[OpIndexGen]]) enumerates the
    * REAL registry (and can never rot against it). */
  private[graft] def packs: Seq[QueryPack] = Seq(
    operators.Relational,
    operators.Relational2,
    operators.EventOps,
    operators.TextAnalysis,
    operators.Curation,
    operators.Curation2,
    operators.Similarity,
    operators.Dedup,
    operators.Multimodal,
    operators.Retrieval,
    operators.StreamGate,
    operators.WindowDedup,
    operators.Curation3,
    operators.Projection,
    operators.Mining,
    operators.Stats,
    operators.Skew,
    operators.Behavior,
    operators.Evaluation,
    operators.Lakehouse,
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's whole dataflow in batch form: per-record projection +
    * topic routing + time-bucketing (SURVEY.md §7 M0). */
  def entry(spark: SparkSession): DataFrame =
    operators.EventOps.queries("q20_ingest_bucket")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (non-SQL-expressible ops are omitted), for a
    * specific dataset dir — generated oracles (q45's
    * trained-codebook literals) resolve to the codebook captured for THAT
    * dir's run. Verify dumps through this. */
  def oracleSqlFor(dir: String): Map[String, String] =
    packs.flatMap(_.oraclesFor(dir)).toMap
}
