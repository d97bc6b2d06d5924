package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD

/** Single chokepoint for every "materialize this shared investment once"
  * site in the engine (graph edge lists, near-dup pair tables, k-means
  * centroids, BPE vocab rounds, …).
  *
  * Local mode / iterative hot loops use `localCheckpoint(eager = true)`:
  * blocks live on executors, lineage is cut, no filesystem round-trip.
  * That trade is WRONG on a multi-executor cluster for long-lived shared
  * tables — losing one executor makes every downstream stage that read its
  * blocks unrecoverable (no lineage left to recompute from). For cluster
  * deployments set
  *
  *   spark.graft.checkpoint.reliable = true
  *   spark.graft.checkpoint.dir      = hdfs://…/checkpoints   (or any DFS)
  *
  * and the same call sites write reliable checkpoints instead: re-readable
  * after executor loss, at the cost of a DFS write. The default stays
  * local so `local[…]` test/bench runs keep the fast path.
  */
object Checkpoints {

  /** The last dir THIS chokepoint applied via `setCheckpointDir`, so a
    * changed `spark.graft.checkpoint.dir` conf is honored for the rest of
    * the SparkContext's life instead of silently ignored (the context
    * API itself has no "read back the conf" notion of staleness — it
    * returns a resolved URI, not what the caller passed). */
  private val appliedDir = new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Materialize `df` eagerly and return a plan that re-reads the
    * materialized blocks (lineage cut). Mode per the session confs above.
    * A frame that already reads a checkpoint is returned as is. */
  def stable(df: DataFrame): DataFrame =
    if (readsCheckpoint(df)) df
    else {
      val out = stable0(df)
      // attach a boundedness certificate to the checkpoint's RDD so the
      // broadcast-hint audit (graft.tools.HintAudit) can still prove what
      // was provable about the pre-checkpoint plan after lineage is cut —
      // without this, every memoized k-row centroid/codebook table would
      // look like an opaque corpus-sized leaf.
      graft.tools.HintAudit.certifyStable(df, out)
      out
    }

  private def reliable(df: DataFrame): Boolean = df.sparkSession.conf
    .getOption("spark.graft.checkpoint.reliable").exists(_.toBoolean)

  /** `df` already reads one checkpoint of the session's mode, at most
    * renaming or dropping its columns (e.g. a label table a kernel
    * returns checkpointed, which a memo store stabilizes again). A second
    * checkpoint would copy the same rows with another job, and
    * certifying it from the cut lineage would prove less than the
    * certificate the first one carries. */
  private def readsCheckpoint(df: DataFrame): Boolean = {
    val mode = reliable(df)
    def reads(p: LogicalPlan): Boolean = p match {
      case r: LogicalRDD =>
        r.rdd.isCheckpointed && r.rdd.getCheckpointFile.isDefined == mode
      case Project(list, child) =>
        list.forall {
          case _: Attribute | Alias(_: Attribute, _) => true
          case _ => false
        } && reads(child)
      case _ => false
    }
    reads(df.queryExecution.analyzed)
  }

  private def stable0(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (reliable(df)) {
      val sc = spark.sparkContext
      spark.conf.getOption("spark.graft.checkpoint.dir") match {
        case Some(dir) =>
          // apply on first use AND whenever the conf changed since we
          // last applied it; a dir set externally on the context (conf
          // never set) is left alone
          if (sc.getCheckpointDir.isEmpty || appliedDir.get() != dir) {
            sc.setCheckpointDir(dir)
            appliedDir.set(dir)
          }
        case None if sc.getCheckpointDir.isEmpty =>
          throw new IllegalStateException(
            "spark.graft.checkpoint.reliable=true requires " +
              "spark.graft.checkpoint.dir (a DFS path) to be set")
        case None => // context already has a dir the user set directly
      }
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)
  }

  /** `df.stable` postfix form of [[stable]] for call-site readability. */
  implicit class StableOps(private val df: DataFrame) extends AnyVal {
    def stable: DataFrame = Checkpoints.stable(df)
  }
}
