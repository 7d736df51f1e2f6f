package org.apache.spark.sql.graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** The one bridge into private Spark SQL API (LogicalRDD, Dataset.ofRows
  * and SQLExecution are private[sql]), for the two capabilities the public
  * API lacks. BridgeSpec pins the checkpoint; CoreSpec and TablesSpec pin
  * the nullability rewrite — a Spark upgrade that changes these internals
  * fails there by name. */
object SqlBridge {

  /** Eager localCheckpoint that also RETURNS the row count from the same
    * materialization job. `Dataset.localCheckpoint(eager = true)` throws
    * the count away, so a loop that needs the cardinality for its
    * convergence check would pay a second count job — a full driver
    * scheduling round-trip — per round. This replays what
    * Dataset.localCheckpoint does (copy the internal rows, mark the RDD
    * for local checkpointing, materialize it, wrap it back into a
    * LogicalRDD scan), inside a SQL execution named "localCheckpoint" as
    * Dataset.localCheckpoint runs its own, while keeping the count. */
  def localCheckpointWithCount(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    val (rdd, cnt) =
      SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
        val rdd = qe.executedPlan.execute().map(_.copy())
        rdd.localCheckpoint()
        (rdd, rdd.count())
      }
    // fromDataset carries the source plan's partitioning, ordering,
    // stats and constraints into the scan node, exactly like
    // Dataset.localCheckpoint — without it the wrapped RDD defaults to
    // defaultSizeInBytes and the planner downgrades downstream
    // broadcast joins to sort-merge
    val out = Dataset.ofRows(ds.sparkSession.asInstanceOf[ClassicSession],
      LogicalRDD.fromDataset(rdd, ds, isStreaming = false).newInstance())
    (out.toDF(), cnt)
  }

  /** `df` with the named source columns marked `nullable = false`
    * (case-insensitive; applies to every file/JDBC relation leaf in the
    * plan). A JDBC relation infers `nullable = false` from database
    * metadata (reference README.md:480-493 shows Oracle NOT NULL columns
    * arriving non-nullable); parquet footers carry no such constraint.
    * `Dataset.to` refuses to narrow nullability, and an RDD round-trip
    * would destroy the pushdown-capable scan — the correct seam is the
    * relation's output attributes, exactly where the JDBC source records
    * the inference. The plan stays declarative (pushdown, pruning and
    * codegen still see a plain file relation), and null-propagation can
    * delete IsNotNull(key) filters and null branches in join codegen.
    *
    * Like the JDBC inference it mirrors, this is a TRUST assertion: if a
    * marked column does contain nulls, downstream null-elision is
    * undefined — callers must only mark true key columns. */
  def withNonNullableColumns(df: DataFrame, cols: Set[String]): DataFrame = {
    val lower = cols.map(_.toLowerCase(Locale.ROOT))
    val plan: LogicalPlan = df.queryExecution.analyzed.transformUp {
      case lr: LogicalRelation =>
        lr.copy(output = lr.output.map(a =>
          if (lower(a.name.toLowerCase(Locale.ROOT))) a.withNullability(false)
          else a))
    }
    Dataset.ofRows(df.sparkSession.asInstanceOf[ClassicSession], plan)
  }
}
