package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take the scale-factor directory at call time so the same
  * plan runs at sf0.001 (smoke), sf0.01 (correctness), sf0.1 (bench) and,
  * by construction, at any path on a real cluster (the reads are plain
  * parquet scans — partition pruning / column pruning / filter pushdown
  * all apply).
  */
object Tables {

  /** `spark.read.parquet` schedules a footer-reading schema-inference
    * job on EVERY call (Spark 4 parallel footer reads) — a driver job
    * per table per query build. The test tables are immutable per
    * (dataset dir), so the resolved DataFrame is memoized per (session,
    * dir, table): each table pays schema resolution once per session and
    * every later query build composes lazily from the cached analyzed
    * relation (PlanSpec asserts build-time job silence). Callers reading
    * MUTABLE paths (ingest outputs, indexes) use `spark.read` directly,
    * never this. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionMemo.getOrElseUpdate[DataFrame](spark, "tables.load", s"$dir/$name")(
      spark.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped under two physical parquet encodings across
    * testdata generations: TIMESTAMP(NANOS) — which Spark 4 rejects at scan
    * ([PARQUET_TYPE_ILLEGAL]) unless read as a raw nanos long via the
    * legacy conf — and plain TIMESTAMP(MICROS), which scans natively as
    * TIMESTAMP_NTZ. Dispatch on the SCANNED type so a driver-side testdata
    * regeneration can never break the events family again (SchemaDriftSpec
    * pins both encodings):
    *   - LongType (nanos-as-long): `ts div 1000` integer division keeps
    *     full precision (a double would lose it: ns-since-2024 ≈ 1.7e18 >
    *     2^53), truncating toward zero exactly like DuckDB's ns→µs cast.
    *   - anything else (NTZ/LTZ): cast to session-local TIMESTAMP — LTZ
    *     semantics are required because downstream queries use
    *     `unix_micros`, which rejects NTZ.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")


  /** Table row count as a DRIVER-SIDE literal, memoized per (session,
    * dataset, table) — the one-time ANALYZE-style stat for the few plan
    * parameters that must be concrete numbers before the plan exists
    * (LSH bits-per-band sizing). Parquet metadata-only (a count over a
    * parquet scan reads footers, not data) and paid once per dataset per
    * session, not once per query build. Caps/df-cuts that merely FEED A
    * FILTER do not use this — they take the lazy broadcast one-row-agg
    * form (see Dedup.capBuckets) so query construction schedules no job
    * at all (PlanSpec asserts it). */
  def rowCount(s: SparkSession, d: String, name: String): Long =
    SessionMemo.getOrElseUpdate[Long](s, "tables.rowcount", s"$d/$name")(
      load(s, d, name).count())
}

/** A named bundle of queries plus (where SQL-expressible) DuckDB oracle SQL.
  * SparkEntry unions the packs; keys must be globally unique.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  /** Subset of `queries` keys → equivalent ANSI SQL for DuckDB on the same
    * parquet tables. Queries absent here get a weaker rows-only check.
    *
    * An oracle composes the shared fragments instead of re-inlining them:
    * the 3-shingle set `TextExprs.duckShingleSet`, the q130 flag block
    * `Curation.flagBlockCtes`, the IVF-PQ encode CTEs
    * `Similarity.ivfPqEncodeCtes` and the q73 clusters
    * `Dedup.q73ClustersOracleSql`; OpIndexSpec fails on a second copy.
    * The DuckDB regex `\s+` is written `'\s+'` in a raw `"""` string and
    * `'\\s+'` in an `s"""` string (both give the same runtime SQL; `\s`
    * does not compile inside `s`). After an oracle edit,
    * `tools/oracle_diff.py` compares the old and new oracle_sql.json
    * dumps key by key. */
  def oracles: Map[String, String]
  /** Oracles for a SPECIFIC dataset dir — the hook for generated oracles
    * whose literals depend on what the query computed over that dataset
    * (q45 embeds the codebook trained on it). Defaults to the static map;
    * Verify always dumps through this so several datasets in one JVM each
    * get the oracle matching their own run. */
  def oraclesFor(@annotation.unused dir: String): Map[String, String] = oracles
}
