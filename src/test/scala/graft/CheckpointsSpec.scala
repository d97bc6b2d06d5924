package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.Checkpoints

/** The cluster-safe materialization chokepoint: default mode cuts lineage
  * via localCheckpoint; reliable mode writes re-readable DFS checkpoints
  * (the cluster-deployment switch documented in SURVEY §9). */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("default mode materializes and cuts lineage") {
    import spark.implicits._
    val df = Checkpoints.stable((1 to 100).toDF("n").filter($"n" % 2 === 0))
    assert(df.count() === 50)
    // lineage cut: the stable plan re-reads blocks, no upstream scan left
    assert(!df.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
  }

  test("a frame that already reads a checkpoint is returned as is, certificate kept") {
    import spark.implicits._
    val first = Checkpoints.stable(spark.range(3).toDF("n"))
    // renames and dropped columns over the checkpoint: no second copy,
    // and the audit still sees the first checkpoint's row bound
    val renamed = first.select($"n".as("m"))
    assert(Checkpoints.stable(renamed) eq renamed)
    assert(graft.tools.HintAudit.constantBounded(
      Checkpoints.stable(renamed).queryExecution.analyzed))
    // a computed column is new data: that frame is materialized
    val computed = first.select(($"n" + 1).as("m"))
    assert(!(Checkpoints.stable(computed) eq computed))
  }

  test("reliable mode writes a filesystem checkpoint and reads it back") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft_ckpt").toString
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val df = Checkpoints.stable((1 to 10).toDF("n"))
      assert(df.count() === 10)
      // the checkpoint landed in the configured DFS dir
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      assert(files(new java.io.File(dir)).nonEmpty,
        "no reliable checkpoint files written")
    } finally {
      spark.conf.set("spark.graft.checkpoint.reliable", "false")
    }
  }

  test("reliable mode without a dir fails fast with a clear message") {
    import spark.implicits._
    // fresh contexts remember setCheckpointDir, so only assert when unset
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set("spark.graft.checkpoint.reliable", "true")
      spark.conf.unset("spark.graft.checkpoint.dir")
      try {
        val e = intercept[IllegalStateException](
          Checkpoints.stable((1 to 3).toDF("n")))
        assert(e.getMessage.contains("spark.graft.checkpoint.dir"))
      } finally spark.conf.set("spark.graft.checkpoint.reliable", "false")
    }
  }
}
