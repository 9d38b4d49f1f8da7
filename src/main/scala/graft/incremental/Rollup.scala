package graft.incremental

import graft.engine.{AtomicDir, Compactor}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the analytics-plane extension
  * of the reference's incremental-backup contract: just as each
  * session exports only (last end_time, now−60 s] of the payload
  * (docs/Proposed_HBase_Backup_using_HBASE-1684.txt:40-58), a
  * maintained rollup absorbs only each session's DELTA instead of
  * re-scanning the full history.
  *
  * The trick is to persist MERGEABLE partial-aggregate state, not
  * final answers: (n, decimal sum, min, max) per group commute and
  * associate, so
  *   summarize(A ∪ B) == merge(summarize(A), summarize(B))
  * exactly (decimal sums are order-insensitive; count/min/max
  * trivially so). That identity is oracle-checked (e12) — the merged
  * two-half summary must hash-match DuckDB's direct full-scan
  * aggregate.
  *
  * Scale shape: maintenance cost is O(|delta| + |summary|), never
  * O(history). The delta aggregates map-side before its (tiny,
  * group-cardinality-bounded) shuffle; the merge is a union of two
  * summaries re-aggregated on the same keys — at 1000 sessions of a
  * 100 TB table the summary stays one small parquet dir while the
  * alternative (recompute) re-reads everything. Publishing goes
  * through [[graft.engine.AtomicDir.replace]], so readers never see a
  * half-merged summary and a crashed merge is recoverable.
  */
object Rollup {

  /** Mergeable summary of `df`: per `keyCols` group — row count,
    * decimal-exact sum, min and max of `valueCol`. The sum stays
    * decimal until [[finish]] so repeated merges never re-round.
    */
  def summarize(df: DataFrame, keyCols: Seq[String],
                valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "summarize needs grouping keys")
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(38,2)")).as("sum_dec"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))
  }

  /** Merge summaries produced by [[summarize]] over disjoint row
    * sets: union + re-aggregate of the partial states.
    */
  def merge(keyCols: Seq[String], summaries: DataFrame*): DataFrame = {
    require(summaries.nonEmpty, "merge needs at least one summary")
    summaries.reduce(_ unionByName _)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sum(col("sum_dec")).as("sum_dec"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
  }

  /** Surface a summary for consumption: decimal state → double sum
    * (the same CAST(SUM(decimal) AS DOUBLE) contract as
    * queries.dsum). `sum(n)` in [[merge]] widens count's long — pin
    * it back.
    */
  def finish(summary: DataFrame): DataFrame =
    summary.select(
      summary.columns.toIndexedSeq.filterNot(
        Set("n", "sum_dec", "min_v", "max_v")).map(col) ++ Seq(
        col("n").cast("long").as("n"),
        col("sum_dec").cast("double").as("sum_v"),
        col("min_v"), col("max_v")): _*)

  /** Maintain an on-disk summary: read the current state (if any),
    * merge the delta's summary in, publish via [[AtomicDir.replace]].
    * Returns the post-merge group count.
    */
  def maintain(spark: SparkSession, dir: String, delta: DataFrame,
               keyCols: Seq[String], valueCol: String): Long = {
    val f = Compactor.fs(spark, dir)
    AtomicDir.recover(f, dir)
    val deltaSum = summarize(delta, keyCols, valueCol)
    val merged =
      if (f.exists(new Path(dir)))
        merge(keyCols, spark.read.parquet(dir), deltaSum)
      else deltaSum
    // group-cardinality output: coalesce(1) keeps the summary a
    // single file until it genuinely outgrows one (callers can
    // Compactor.compact it if a huge key domain ever makes it big)
    AtomicDir.replace(f, dir) { stage =>
      merged.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
    }
    spark.read.parquet(dir).count()
  }
}
