package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The at-scale gate harness at the spec scale: the six driver replays
  * pass through the same run the main uses, and a mismatching or
  * throwing gate fails without stopping the rest or leaking its cache.
  */
class CheckSpec extends SparkSpec {

  private def ids(n: Long)(s: SparkSession, sf: String): DataFrame = s.range(n).toDF("id")

  test("gate names are unique") {
    val names = Check.gates.map(_.name)
    assert(names.distinct === names)
    assert(names.size === 19)
  }

  test("an unknown gate name is rejected before any session is built") {
    val e = intercept[IllegalArgumentException](Check.main(Array(sf, "knn_mis,nope")))
    assert(e.getMessage.contains("unknown gate 'nope'"))
    assert(Check.select(Some("pq, card")).map(_.name) === Seq("pq", "card"))
    assert(Check.select(None) === Check.gates)
  }

  test("the six replay gates pass at the spec scale") {
    val replays = "knn_mis,card,semdedup,components,pq,triangle"
    assert(Check.runAll(spark, sf, Check.select(Some(replays))).isEmpty)
  }

  test("a gate whose sides differ by one row fails") {
    val g = Check.compare("off_by_one", Seq("id"), "equal", ids(10), ids(9))
    assert(Check.runAll(spark, sf, Seq(g)) === Seq("off_by_one"))
  }

  test("a throwing side fails its gate, leaves nothing cached, and the next gate runs") {
    val thrown = Check.compare("throws", Seq("id"), "equal", ids(11),
      (_, _) => throw new IllegalStateException("reference side broke"))
    val ok = Check.compare("ok", Seq("id"), "equal", ids(7), ids(7))
    assert(Check.runAll(spark, sf, Seq(thrown, ok)) === Seq("throws"))
    assert(ids(11)(spark, sf).select(col("id")).storageLevel === StorageLevel.NONE)
  }
}
