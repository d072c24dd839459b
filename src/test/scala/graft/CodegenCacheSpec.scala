package graft

/** The codegen cache holds the working set one registry pass cycles
  * through, so a repeat pass reuses its compiled classes.
  *
  * The four queries are feederbench's `registry_hot` pass: one pass
  * generates about 230 distinct classes at sf0.001. At Spark's default
  * of 100 cache entries the LRU evicts each class before its next use
  * and every pass recompiles them all; at GraftSession's 1024 a second
  * pass finds them cached. Asserted as behaviour, not as the conf string:
  * Spark sizes the cache once per JVM, at the first codegen, so a spec
  * that generated a projection before TestSpark existed would leave the
  * whole test JVM at 100 entries while the conf still read 1024.
  */
class CodegenCacheSpec extends GraftSuite {
  private val dir = "/root/testdata/sf0.001"
  private val keys = Seq("q_hyperanf", "q_canonical_pick", "q_corpus_build", "q_gearys_c")

  test("a repeat pass over the registry_hot queries compiles at most 30 classes") {
    val runner = new QueryRunner(dir, () => spark)
    def pass(): Seq[QueryRunner.Run[Unit]] = keys.map { k =>
      val r = runner.run(k)(QueryRunner.noop)
      assert(r.result.isRight, s"$k failed: ${r.result}")
      r
    }
    def counts(runs: Seq[QueryRunner.Run[Unit]]) =
      runs.map(r => s"${r.key}=${r.compiles}").mkString(", ")
    val first = pass()
    val second = pass()
    info(s"first pass compiled ${counts(first)}; second ${counts(second)}")
    // Not 0: a few hash-aggregate stages of q_corpus_build, q_gearys_c
    // and q_canonical_pick generate code in a repeat pass that the first
    // did not, each class compiled twice: 4–12 compiles over 13 fresh
    // JVMs. At 100 entries the second pass compiles ~228.
    assert(second.map(_.compiles).sum <= 30, s"second pass compiled ${counts(second)}")
  }
}
