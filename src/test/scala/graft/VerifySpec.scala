package graft

import java.nio.file.{Files, Paths}

/** `Verify.dump` never leaves a stale result for the oracle compare: a query
  * that throws while its plan is built loses its previous dump and is
  * reported as failed. */
class VerifySpec extends SparkSpecBase {
  import spark.implicits._

  test("a throwing query deletes its stale dump and is reported failed") {
    val out = Files.createTempDirectory("graft_verify").toString
    // a previous run's result for the query that now throws
    Seq(1L, 2L).toDF("x").write.parquet(s"$out/bad")
    val failed = Verify.dump(spark, sf, out, Seq(
      "bad" -> ((_, _) => throw new IllegalStateException("plan failed")),
      "good" -> ((s, _) => s.range(3).toDF("x"))))
    assert(failed == Seq("bad"))
    assert(!Files.exists(Paths.get(out, "bad")))
    assert(spark.read.parquet(s"$out/good").count() == 3)
  }
}
