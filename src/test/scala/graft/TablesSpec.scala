package graft

/** Opening a corpus table: the schema is inferred once per file. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a second open of a corpus table submits no Spark job and has the " +
      "schema of a fresh read; a rewritten table is inferred again") {
    val dir = tmpDir("tables-open")
    val path = s"$dir/docs.parquet"
    Seq((1L, "a", 0.5), (2L, null, 1.5)).toDF("doc_id", "text", "score")
      .write.parquet(path)
    Tables(spark, dir, "docs")
    val (again, jobs) = withJobCount(Tables(spark, dir, "docs"))
    assert(jobs === 0, s"a second open submitted $jobs Spark jobs")
    assert(again.schema === spark.read.parquet(path).schema)
    assert(again.count() === 2)
    // the corpus' own shape: one parquet FILE named <table>.parquet
    val one = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(one, java.nio.file.Paths.get(s"$dir/one.parquet"))
    Tables(spark, dir, "one")
    val (file, fileJobs) = withJobCount(Tables(spark, dir, "one"))
    assert(fileJobs === 0, s"a second file open submitted $fileJobs jobs")
    assert(file.schema === spark.read.parquet(s"$dir/one.parquet").schema)
    // rewritten under the same path with another schema
    Seq((7, "x")).toDF("id", "tag").write.mode("overwrite").parquet(path)
    val rewritten = Tables(spark, dir, "docs")
    assert(rewritten.schema === spark.read.parquet(path).schema)
    assert(rewritten.as[(Int, String)].collect() === Array((7, "x")))
  }

  test("a schema inferred with nanosAsLong off is reused with it on; one " +
      "inferred with it on is inferred again with it off") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    val dir = tmpDir("tables-nanos")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/off.parquet")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$dir/on.parquet")
    def jobsToOpen(name: String, nanosAsLong: Boolean): Int = {
      spark.conf.set(key, nanosAsLong.toString)
      withJobCount(Tables(spark, dir, name))._2
    }
    try {
      jobsToOpen("off", nanosAsLong = false)
      assert(jobsToOpen("off", nanosAsLong = true) === 0)
      jobsToOpen("on", nanosAsLong = true)
      assert(jobsToOpen("on", nanosAsLong = false) > 0)
      assert(jobsToOpen("on", nanosAsLong = false) === 0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
