package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI gate for the committed physical-plan fingerprint ledger
  * (plans_ledger.json): recomputes every declared query's normalized
  * plan-shape signature — shuffle/broadcast/join-strategy/sort/scan/
  * codegen counts, AQE off, sf0.001 — and diffs it against the ledger.
  *
  * This is the check the bench band can't do: a lost broadcast or an
  * extra exchange that costs nothing at sf0.1 still flips a count here
  * and fails BY QUERY NAME. Intended workflow on an intended plan
  * change: `sbt "runMain graft.PlanLedger"`, review the git diff of
  * plans_ledger.json (that diff IS the plan review), commit both.
  *
  * Runs in its own AQE-off session (PlanLedger.ledgerSettings on a
  * newSession) — separate from TestSpark's shared AQE-on session —
  * because the ledger is defined against static plans. Planning-only: nothing here executes beyond
  * the construction-time jobs some iterative queries run at sf0.001.
  */
class PlanLedgerSpec extends AnyFunSuite {

  private lazy val ledger: Map[String, String] = {
    val s = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("plans_ledger.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    """"(q\w+)":\s*"([^"]*)"""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  test("plans_ledger.json covers exactly the declared keys") {
    val declared = SparkEntry.queries.keySet
    val missing = declared -- ledger.keySet
    val stale = ledger.keySet -- declared
    assert(missing.isEmpty && stale.isEmpty,
      s"regenerate plans_ledger.json (sbt 'runMain graft.PlanLedger') — " +
        s"missing=${missing.toSeq.sorted.take(10)} " +
        s"stale=${stale.toSeq.sorted.take(10)}")
  }

  test("no declared query errors at plan time in the ledger") {
    val errs = ledger.filter(_._2.startsWith("err:")).keys.toSeq.sorted
    assert(errs.isEmpty, s"queries that failed to plan: $errs")
  }

  test("every declared query's static plan shape matches the ledger") {
    // A dedicated AQE-off session: getOrCreate would reuse TestSpark's
    // AQE-on session and poison every count, so fork a session with its
    // own conf over the shared context (newSession keeps the context,
    // and runtime conf is per-session).
    val s = PlanLedger.ledgerSettings(TestSpark.spark.newSession())
    val diffs = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val got = PlanLedger.fingerprintOf(s, name, PlanLedger.DefaultSfDir)
      s.catalog.clearCache()
      val want = ledger.getOrElse(name, "<absent>")
      if (got != want) Some(s"$name: ledger=[$want] now=[$got]") else None
    }
    assert(diffs.isEmpty,
      "plan shapes drifted from plans_ledger.json — if intended, " +
        "regenerate the ledger and review its git diff:\n" +
        diffs.mkString("\n"))
  }
}
