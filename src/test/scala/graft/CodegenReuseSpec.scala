package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Sessions share generated code (SCALE.md, "Sessions share generated
  * code"): once the JVM has compiled a stage, running it again on a new
  * `newSession()` is a hit in Spark's generated-code cache. Three confs
  * in [[Tables.requiredConfs]] make it so: artifact isolation off (else
  * each session compiles under its own class loader, and the cache is
  * keyed by the loader), classes not named after their AQE-assigned stage
  * id (else a stage renumbered by a re-plan is new code), and a cache
  * larger than one pass's working set. The compile count is deterministic,
  * so losing the reuse fails here even on a noisy host, where the
  * wall-clock gain it buys could not be seen. */
class CodegenReuseSpec extends AnyFunSuite {
  private val d = TestSpark.sf0001
  /** One query of each benchmark workload: `curation` (eager operators)
    * and `ingest` (a CSV stream sink drained and read back). */
  private val queries = Seq("q_x_basket_lift", "q_st_csv_sink")

  /** Janino compiles so far in this JVM: each is a cache miss. */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `queries` on a new session: (their rows, compiles it took). */
  private def pass(): (Seq[Seq[String]], Long) = {
    val s = TestSpark.spark.newSession()
    val before = compiles()
    val rows = queries.map { q =>
      try SparkEntry.queries(q)(s, d).collect().map(_.toString).toSeq
      finally operators.Lifecycle.releaseAll()
    }
    (rows, compiles() - before)
  }

  test("a second newSession() compiles no generated code") {
    val (first, _) = pass()
    val (second, n) = pass()
    assert(second == first, "the second session's results differ from the first's")
    assert(n == 0, s"the second session compiled $n classes the JVM had already " +
      "compiled: sessions no longer share the generated-code cache " +
      "(artifact isolation on, stage ids in class names, or the cache too small)")
  }
}
