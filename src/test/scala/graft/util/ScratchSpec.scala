package graft.util

import graft.SparkSpec

/** Pins the scratch-zone contract: the conf dial routes the parquet
  * zone, the stored relation round-trips, and concurrent stores never
  * collide. The per-query plan pins (PostingsSpec, PlanAuditSpec)
  * prove consumers actually read the zone. */
class ScratchSpec extends SparkSpec {

  test("store round-trips and lands under graft.scratch.dir when set") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("scratch-spec").toString
    spark.conf.set(Scratch.DirKey, dir)
    try {
      val got = Scratch.store(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "unit")
      assert(got.orderBy("id").collect().map(_.getString(1)).toSeq ==
        Seq("a", "b"))
      // zones live under <root>/<appId>/<name>-<n>
      val appDir = new java.io.File(dir).listFiles()
      assert(appDir != null && appDir.length == 1, s"expected app dir in $dir")
      val stored = appDir(0).listFiles()
      assert(stored != null && stored.exists(_.getName.startsWith("unit-")),
        s"expected a unit-* zone under ${appDir(0)}")
    } finally spark.conf.unset(Scratch.DirKey)
  }

  test("unique store paths: same name twice never collides") {
    import spark.implicits._
    val a = Scratch.store(Seq(1L).toDF("x"), "twice")
    val b = Scratch.store(Seq(2L).toDF("x"), "twice")
    assert(a.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(b.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("memo: one derivation per key; the by-name relation never builds on a hit") {
    import spark.implicits._
    var builds = 0
    def derive() = { builds += 1; Seq((1L, "x")).toDF("id", "v") }
    val k = s"memo-spec-${System.identityHashCode(this)}"
    val a = Scratch.memo(spark, "memo-unit", k)(derive())
    val b = Scratch.memo(spark, "memo-unit", k)(derive())
    assert(builds == 1, s"memo hit rebuilt the relation ($builds builds)")
    assert(a.collect().toSeq == b.collect().toSeq)
    // distinct keys stay distinct relations
    val c = Scratch.memo(spark, "memo-unit", k + ":other")(
      Seq((2L, "y")).toDF("id", "v"))
    assert(c.head().getLong(0) == 2L && builds == 1)
  }

  test("memo hit: no Spark job, and the schema a plain read of the zone infers") {
    import org.apache.spark.sql.functions._
    val k = s"memo-jobs-${System.identityHashCode(this)}"
    // non-nullable columns on the write side: the re-read must still
    // report the nullable schema a parquet scan has
    def derive() = spark.range(3).select(col("id"), lit("x").as("v"),
      struct(col("id").as("n")).as("s"))
    Scratch.memo(spark, "memo-jobs", k)(derive())
    val (hit, jobs) = jobsOf(Scratch.memo(spark, "memo-jobs", k)(derive()))
    assert(jobs == 0, s"a memo hit submitted $jobs Spark jobs")
    val zone = new org.apache.hadoop.fs.Path(hit.inputFiles.head)
      .getParent.toString
    val plain = spark.read.parquet(zone)
    assert(hit.schema == plain.schema)
    assert(hit.schema.fields.forall(_.nullable))
    assert(hit.collect().toSet == plain.collect().toSet)
  }
}
// NOTE: Scratch.clear() is deliberately untested here — suites share
// one JVM-wide session and run in parallel, and a global clear would
// delete zones a concurrent suite is scanning. Its memo-map reset is
// two lines audited by eye; calling it belongs to batch boundaries,
// not to a shared-session test run.
