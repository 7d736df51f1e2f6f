package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan fingerprint ledger: a normalized shape signature per
  * declared query — shuffle / broadcast-exchange / join-strategy / sort /
  * scan / codegen-stage counts over the STATIC physical plan — committed
  * as `plans_ledger.json` and diffed by PlanLedgerSpec every CI run.
  *
  * Why this exists: the bench's 2× wall band catches plan regressions
  * only when they cost wall time AT THE BENCH SF. A lost broadcast (dim
  * grew past the threshold, a hint dropped in a refactor) or a new
  * exchange (an accidental repartition, a window that stopped sharing
  * its sort) can hide inside the noise band at sf0.1 and still be a
  * 100×-scale disaster. Node counts are the cheap invariant that moves
  * the moment the plan shape moves, independent of wall-clock noise.
  *
  * Normalization choices:
  *  - AQE OFF for fingerprinting: the static plan is what the OPTIMIZER
  *    chose from the code + stats; AQE's runtime re-plan (local shuffle
  *    readers, skew splits) varies with actual partition bytes and would
  *    make counts flaky. A lost broadcast is visible statically.
  *  - sf0.001 fixtures: smallest stats, fastest planning; size-based
  *    broadcast decisions at KB scale sit far from the 10 MB threshold,
  *    so footer-size jitter across testdata regenerations can't flip a
  *    count. (If a regeneration DOES flip one, the spec fails by name
  *    and the ledger row is re-adjudicated — that's the tool working.)
  *  - counts include subquery plans (scalar subqueries carry their own
  *    exchanges; a broadcast lost inside one is still lost).
  *
  * Regenerate after any intended plan change:
  * {{{ sbt "runMain graft.PlanLedger" && git diff plans_ledger.json }}}
  * — the git diff IS the plan-review artifact; commit it with the change.
  */
object PlanLedger {

  /** The counted node classes. Simple names, exact-matched: substring
    * matching would conflate SortExec with SortMergeJoinExec. */
  private val Counted: Seq[(String, String)] = Seq(
    "sh" -> "ShuffleExchangeExec",
    "bc" -> "BroadcastExchangeExec",
    "smj" -> "SortMergeJoinExec",
    "bhj" -> "BroadcastHashJoinExec",
    "shj" -> "ShuffledHashJoinExec",
    "bnl" -> "BroadcastNestedLoopJoinExec",
    "cart" -> "CartesianProductExec",
    "sort" -> "SortExec",
    "scan" -> "FileSourceScanExec",
    "wsc" -> "WholeStageCodegenExec")

  /** Every node in the plan tree, descending into subquery plans. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ p.subqueries).flatMap(allNodes)

  def fingerprint(plan: SparkPlan): String = {
    val names = allNodes(plan).map(_.getClass.getSimpleName)
    Counted.map { case (tag, cls) =>
      s"$tag=${names.count(_ == cls)}"
    }.mkString(" ")
  }

  /** The settings the ledger is DEFINED at — 8 shuffle partitions, AQE
    * off — applied to a session's runtime conf. Main and spec both apply
    * them, so ledger and check can't drift on config. */
  def ledgerSettings(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  def fingerprintOf(s: SparkSession, name: String, sfDir: String): String =
    try fingerprint(
      SparkEntry.queries(name)(s, sfDir).queryExecution.executedPlan)
    catch { case e: Throwable =>
      if (sys.env.contains("SPARK_GRAFT_PLANS_DEBUG")) e.printStackTrace()
      s"err:${e.getClass.getSimpleName}"
    }

  val DefaultSfDir = "/root/testdata/sf0.001"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    val spark = ledgerSettings(GraftSession(8))
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val rows = names.map { n =>
      val fp = fingerprintOf(spark, n, sfDir)
      println(s"[plans] $n -> $fp")
      // cached subframes (LSH banded corpora etc.) would otherwise pile up
      spark.catalog.clearCache()
      s"""  "$n": "$fp""""
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "plans_ledger.json")),
      rows.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
