package graft

import org.scalatest.funsuite.AnyFunSuite

/** A seeded slice of [[FuzzCampaign]] in the test suite: 2000 mutated cases
  * per branch, each of which must end as extracted text or a clean error
  * row within the per-row wall budget (and, on HTML rows, with every span
  * inside its coordinate stream). The full campaign stays runnable as
  * `sbt "Test/runMain graft.FuzzCampaign 20000 [--html]"`. */
class FuzzSliceSpec extends AnyFunSuite {

  private val Cases = 2000

  for ((branch, htmlMode) <- Seq("pdf" -> false, "html" -> true))
    test(s"fuzz slice: $Cases seeded $branch-branch cases, 0 violations") {
      val (ok, err, violations) = FuzzCampaign.run(Cases, htmlMode)
      assert(ok + err == Cases)
      assert(violations == 0, s"$violations contract violations (printed above)")
    }
}
