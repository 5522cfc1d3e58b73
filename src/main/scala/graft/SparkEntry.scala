package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Ann, Cluster, Dedup, Embed, Events, Invariants, Media, Pinned, Q, Relational, SetOps, Text, Tokenizer, Train, Views}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All gate-checked queries, one per SURVEY.md §2 inventory row. */
  def allQ: Seq[Q] =
    Relational.all ++ Events.all ++ SetOps.all ++ Views.all ++ Dedup.all ++ Ann.all ++ Cluster.all ++ Embed.all ++ Text.all ++ Tokenizer.all ++ Train.all ++ Media.all ++ Invariants.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQ.map(q => q.name -> q.run).toMap

  /** Release every frame that the DataFrames returned by [[queries]]
    * pinned: the checkpointed slivers and persisted corpus frames their
    * plans read lazily, which a query cannot release itself. Call it
    * once the action that consumed a query's result has finished;
    * without it each run keeps the blocks of every earlier run for the
    * rest of the session.
    *
    * Contract: after this call a DataFrame that embedded a pinned frame
    * must not be executed again (a local checkpoint has no lineage to
    * recompute from); build the query's plan afresh instead. Safe to
    * call repeatedly, and with nothing pinned.
    */
  def releasePinned(): Unit = Pinned.drain()

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQ.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
