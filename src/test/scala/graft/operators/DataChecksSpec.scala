package graft.operators

import graft.SparkSpec

class DataChecksSpec extends SparkSpec {
  import spark.implicits._

  test("uniqueViolations reports duplicate keys with counts") {
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("id", "x")
    val v = DataChecks.uniqueViolations(df, Seq("id")).as[(String, Long)].collect()
    assert(v.toSeq == Seq(("a", 2L)))
    assert(DataChecks.uniqueViolations(df.dropDuplicates("id"), Seq("id")).isEmpty)
  }

  test("notNullViolations reports rows with null keys") {
    val df = Seq((Some("a"), 1), (None, 2)).toDF("id", "x")
    val v = DataChecks.notNullViolations(df, Seq("id")).as[(Option[String], Int)].collect()
    assert(v.toSeq == Seq((None, 2)))
  }

  test("require* gate: throws on violation, passes on clean data") {
    val clean = Seq(("a", 1), ("b", 2)).toDF("id", "x")
    DataChecks.requireUnique(clean, Seq("id"))
    DataChecks.requireNotNull(clean, Seq("id"))
    val dup = Seq(("a", 1), ("a", 2)).toDF("id", "x")
    intercept[IllegalArgumentException](DataChecks.requireUnique(dup, Seq("id")))
  }

  test("observed collects null/row/min-max metrics during the caller's one action") {
    val df = Seq((Some(1L), "a"), (None, "b"), (Some(5L), "c"), (Some(3L), null))
      .toDF("k", "s")
    val (framed, obs) = DataChecks.observed(df, nullCols = Seq("k", "s"), minMaxCols = Seq("k"))
    val out = java.nio.file.Files.createTempDirectory("obs").toString + "/t"
    framed.write.parquet(out) // the ONLY job: metrics ride the write
    val m = obs.get
    assert(m("n_rows") == 4L)
    assert(m("nulls_k") == 1L && m("nulls_s") == 1L)
    assert(m("min_k") == 1L && m("max_k") == 5L)
    // and the written data is untouched by the observation
    assert(spark.read.parquet(out).count() == 4L)
  }

  test("requireNoObservedNulls gates on the observed action's own null counts") {
    val df = Seq((Some(1L), "a"), (None, "b")).toDF("k", "s")
    val (framed, obs) = DataChecks.observed(df, nullCols = Seq("k", "s"))
    assert(framed.count() == 2L)
    DataChecks.requireNoObservedNulls(obs, Seq("s"))
    val e = intercept[IllegalArgumentException](DataChecks.requireNoObservedNulls(obs, Seq("k", "s")))
    assert(e.getMessage.contains("not_null check failed on k,s: 1 NULL k"))
    // an empty frame's NULL sum is NULL, which reads as no violation
    val (empty, eobs) = DataChecks.observed(df.filter($"k" > 5L), Seq("k"))
    assert(empty.count() == 0L)
    DataChecks.requireNoObservedNulls(eobs, Seq("k"))
  }
}
