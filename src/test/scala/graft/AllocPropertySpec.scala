package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties for the allocation/sampling algorithms whose
  * fixture runs exercise only one regime each: q196's waterfill (the
  * fixture never caps a source) and q202's ES sampling (one weight
  * profile). Each property sample is a BATCH evaluated in one Spark
  * job against a driver-side reference implementation. */
class AllocPropertySpec extends SparkSpec {

  private def run(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), p)
    assert(res.passed, res.status.toString)
  }

  /** Reference waterfill: simulate raising the water level directly. */
  private def refWaterfill(caps: Seq[(String, Long)],
                           budget: Long): Map[String, Long] = {
    var remaining = budget.toDouble
    var active = caps.sortBy(c => (c._2, c._1))
    val out = scala.collection.mutable.Map.empty[String, Long]
    var done = false
    while (!done && active.nonEmpty) {
      val share = remaining / active.size
      val (capped, uncapped) = active.partition(_._2 <= share)
      if (capped.isEmpty) {
        val lam = math.floor(share).toLong
        uncapped.foreach { case (s, _) => out(s) = lam }
        done = true
      } else {
        capped.foreach { case (s, c) => out(s) = c; remaining -= c }
        active = uncapped
      }
    }
    out.toMap
  }

  test("property: waterfill ≡ iterative water-level reference") {
    import spark.implicits._
    val caseGen = for {
      n    <- Gen.choose(1, 8)
      caps <- Gen.listOfN(n, Gen.choose(1L, 1000L))
      // budgets spanning under-, exactly-, and over-provisioned
      frac <- Gen.choose(0.05, 1.5)
    } yield (caps, math.max(1L, (caps.sum * frac).toLong))
    run(Prop.forAll(caseGen) { case (caps, budget) =>
      val named = caps.zipWithIndex.map { case (c, i) => (s"s$i", c) }
      val df = named.toDF("source", "cap")
      val got = graft.text.TextOps.tokenWaterfillOf(df, lit(budget))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val want = refWaterfill(named, budget)
      val sameAlloc = named.forall { case (s, c) =>
        got(s) == want(s) && got(s) <= c }
      // never over budget; within one λ-floor unit per uncapped source
      val total = got.values.sum
      sameAlloc && total <= budget
    })
  }

  test("property: ES sample ≡ driver ranking of the same derived keys") {
    // the operator is fixture-bound; property-check the KEY RANKING LAW
    // it relies on: ln(u)/w ordering == u^(1/w) ordering for any u,w
    val caseGen = for {
      n  <- Gen.choose(2, 40)
      us <- Gen.listOfN(n, Gen.choose(1e-12, 1.0 - 1e-12))
      ws <- Gen.listOfN(n, Gen.choose(1L, 10000L))
    } yield us.zip(ws)
    run(Prop.forAll(caseGen) { items =>
      val byLn = items.zipWithIndex
        .sortBy { case ((u, w), i) => (-(math.log(u) / w), i) }.map(_._2)
      val byPow = items.zipWithIndex
        .sortBy { case ((u, w), i) => (-math.pow(u, 1.0 / w), i) }.map(_._2)
      byLn == byPow
    })
  }
}
