package graft

import org.scalatest.funsuite.AnyFunSuite

/** Meta-test (round-12 verdict ask #7): no suite may register a raw
  * SparkListener. sbt runs suites in parallel threads inside one forked
  * JVM, so a listener on the shared SparkContext observes EVERY suite's
  * stages — the round-10 SkewStressSpec flake class. All task-metrics
  * collection must go through [[ScopedStageListener]], which owns the
  * job-group attribution + bus-drain defenses (and documents the
  * residual InheritableThreadLocal leak callers must floor against).
  *
  * A grep, not a compile-time rule, because the API is a plain method
  * on SparkContext — but a grep the build runs on every `sbt test`. */
class ListenerHygieneSpec extends AnyFunSuite {

  test("addSparkListener appears only inside ScopedStageListener") {
    // the CALL shape, not the bare name (this very test talks about the
    // name in strings); concatenated so this file can never self-match
    val call = ".addSpark" + "Listener("
    val offenders =
      SourceTree.offenders(_.contains(call), exempt = Set("ScopedStageListener.scala"))
    assert(offenders.isEmpty,
      s"raw addSparkListener outside ScopedStageListener: $offenders — " +
        "use ScopedStageListener.measure, which owns the cross-suite " +
        "attribution defenses")
  }
}
