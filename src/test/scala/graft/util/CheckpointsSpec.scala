package graft.util

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup
import graft.sim.Spectral

/** The durability dial: with `graft.checkpoint.dir` set, iterative
  * loops must root each round on RELIABLE checkpoints (files in the
  * configured dir — what survives executor loss on a preemptible
  * cluster), free superseded rounds' files, and produce the same
  * answers as local mode. */
class CheckpointsSpec extends SparkSpec {
  import CheckpointsSpec.rddDirs

  test("root() writes reliable checkpoint files when the dir is set") {
    val dir = Files.createTempDirectory("graft-ckpt")
    spark.conf.set(Checkpoints.DirKey, dir.toString)
    try {
      val rooted = Checkpoints.root(
        spark.range(100).toDF("a").withColumn("b", col("a") + 1))
      assert(rooted.count() == 100)
      assert(rddDirs(dir).nonEmpty,
        "reliable mode must materialize rdd-* checkpoint dirs")
      // freeing a superseded checkpoint deletes its files
      Checkpoints.free(rooted)
      assert(rddDirs(dir).isEmpty,
        "free() must delete the reliable checkpoint files")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("re-pointing the dir takes effect even when it is a substring") {
    // regression: a substring containment test ignored a re-point
    // from .../ckpt to .../ck (the new dir is a substring of the old)
    val base = Files.createTempDirectory("graft-repoint")
    val oldDir = base.resolve("ckpt"); val newDir = base.resolve("ck")
    Files.createDirectories(oldDir); Files.createDirectories(newDir)
    try {
      spark.conf.set(Checkpoints.DirKey, oldDir.toString)
      Checkpoints.free(Checkpoints.root(spark.range(5).toDF("a")))
      spark.conf.set(Checkpoints.DirKey, newDir.toString)
      val rooted = Checkpoints.root(spark.range(5).toDF("a"))
      assert(rooted.count() == 5)
      assert(rddDirs(newDir).nonEmpty,
        "checkpoints must land in the re-pointed dir, not the old one")
      Checkpoints.free(rooted)
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("root() stays executor-local when the dir is unset") {
    spark.conf.unset(Checkpoints.DirKey)
    val rooted = Checkpoints.root(spark.range(10).toDF("a"))
    assert(rooted.count() == 10)
    assert(rooted.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    Checkpoints.free(rooted)
  }

  test("connected components under the reliable dial: same labels, bounded files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ckpt-cc")
    spark.conf.set(Checkpoints.DirKey, dir.toString)
    try {
      val rnd = new scala.util.Random(7)
      val ids = rnd.shuffle((0L until 200L).toVector)
      val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
      val labels = Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == 200 && labels.values.forall(_ == 0L),
        "reliable mode must not change the fixpoint")
      // every superseded round's files were freed — only the live
      // final edge set may keep its checkpoint on disk
      assert(rddDirs(dir).sizeIs <= 1,
        s"superseded rounds must be freed, found ${rddDirs(dir)}")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  /** Run `f` once in local mode and once under the reliable dial;
    * return both answers and the rdd-* dirs left after the dial run. */
  private def localVsReliable[T](f: => T): (T, T, Seq[Path]) = {
    spark.conf.unset(Checkpoints.DirKey)
    val local = f
    val dir = Files.createTempDirectory("graft-ckpt-loop")
    spark.conf.set(Checkpoints.DirKey, dir.toString)
    try {
      val reliable = f
      (local, reliable, rddDirs(dir))
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("k-core under the reliable dial: same core, only the live round's files") {
    val (local, reliable, left) = localVsReliable(
      Spectral.kCore(spark, sf()).collect().toSeq)
    assert(reliable == local, "reliable mode must not change the core")
    assert(left.size == 1,
      s"the loop must checkpoint reliably and free superseded rounds: $left")
  }

  test("label propagation under the reliable dial: same labels, only the live round's files") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val und = (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")
    val nodes = (0L until 40L).toDF("id")
    val (local, reliable, left) = localVsReliable(
      Spectral.labelPropIterate(nodes, und).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(reliable == local, "reliable mode must not change the labels")
    assert(left.size == 1,
      s"the loop must checkpoint reliably and free superseded rounds: $left")
  }
}

object CheckpointsSpec {
  /** The reliable checkpoint dirs (one per checkpointed RDD) under root. */
  def rddDirs(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-"))
      .toSeq
}
