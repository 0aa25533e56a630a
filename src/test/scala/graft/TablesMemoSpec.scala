package graft

/** Pins the Tables.load relation-memo contract (util.CorpusMemo): within
  * one session the analyzed DataFrame is resolved ONCE per (dir, table) —
  * the ~400 load() calls of a full bench draw must not re-pay parquet
  * footer/listing resolution — while a NEW session must re-resolve (the
  * memo keys on the session object, so a restarted session can never
  * serve plans bound to a dead session's state), and so must an in-place
  * rewrite of the dir. */
class TablesMemoSpec extends SparkSpec {

  test("same session: load() returns the memoized DataFrame instance " +
    "(one resolution per (session, dir, table))") {
    val a = Tables.load(spark, Sf0001, "nation")
    val b = Tables.load(spark, Sf0001, "nation")
    assert(a eq b, "second load() of the same (session, dir, table) must hit the memo")
    // distinct dir or table are distinct memo entries, not collisions
    val c = Tables.load(spark, Sf001, "nation")
    val d = Tables.load(spark, Sf0001, "region")
    assert(!(a eq c) && !(a eq d))
    // the memoized plan still computes from parquet (it is a plan, not data)
    assert(a.count() === b.count())
  }

  test("new session: load() re-resolves (memo keyed on the session object)") {
    val s2 = spark.newSession()
    try {
      val a = Tables.load(spark, Sf0001, "nation")
      val b = Tables.load(s2, Sf0001, "nation")
      assert(!(a eq b), "a different session must not be served another session's relation")
      assert(a.count() === b.count())
    } finally {
      // nothing to stop: newSession shares the SparkContext
    }
  }

  test("in-place rewrite: load() resolves the table again") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toFile
    try {
      val path = new java.io.File(dir, "t.parquet").toString
      Seq(1L, 2L).toDF("v").write.parquet(path)
      assert(Tables.load(spark, dir.toString, "t").count() === 2)
      Seq(3L, 4L, 5L).toDF("v").write.mode("overwrite").parquet(path)
      assert(Tables.load(spark, dir.toString, "t").as[Long].collect().sorted.toSeq === Seq(3L, 4L, 5L),
        "a stale relation lists the replaced files")
    } finally {
      val s = java.nio.file.Files.walk(dir.toPath)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }
}
