package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftFunctions
import graft.operators.{Analytics, Core, Curation, Dedup, Extensions, Graph, Multimodal, Pipeline, Portfolio, Similarity, Stats, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`: one entry per implemented operator from SURVEY.md §2, each a
  * pure `(SparkSession, sfDir) => DataFrame` with deterministic multiset
  * output. `oracleSql`: the DuckDB-equivalent ANSI SQL over the same parquet
  * tables; column names/aliases match the Spark result exactly (the driver
  * sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's flagship is the denormalization join feeding
    * employees_by_dept (reference README.md:892-985) → q09. */
  def entry(spark: SparkSession): DataFrame =
    Core.q09DenormJoin(spark, "/root/testdata/sf0.001")

  /** Every builder registers the native functions on the session it is
    * given first (once per session; a repeat is a lookup per name) — the
    * one registration point for sessions built without GraftExtensions. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    (Core.queries ++ Extensions.queries ++ Dedup.queries ++
      Similarity.queries ++ TextOps.queries ++ Multimodal.queries ++
      Pipeline.queries ++ Graph.queries ++ Analytics.queries ++
      Stats.queries ++ Portfolio.queries ++ Curation.queries ++
      graft.streaming.EventStream.queries).map { case (name, build) =>
      name -> { (s: SparkSession, dir: String) =>
        GraftFunctions.registerAll(s)
        build(s, dir)
      }
    }

  def oracleSql: Map[String, String] =
    Core.oracleSql ++ Extensions.oracleSql ++ Dedup.oracleSql ++
      Similarity.oracleSql ++ TextOps.oracleSql ++ Multimodal.oracleSql ++
      Pipeline.oracleSql ++ Graph.oracleSql ++ Analytics.oracleSql ++
      Stats.oracleSql ++ Portfolio.oracleSql ++ Curation.oracleSql ++
      graft.streaming.EventStream.oracleSql
}
