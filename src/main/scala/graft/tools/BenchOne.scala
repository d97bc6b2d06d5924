package graft.tools
import org.apache.spark.sql.SparkSession
/** Dev tool: per-query timing with live output (Bench prints only at end).
  * runMain graft.tools.BenchOne <sfDir> [query ...]
  * A name already timed in the current pass starts a new pass, and each
  * pass after the first starts with `CorpusMemo.invalidate(spark, sfDir)`
  * as perfbench's passes do: `q1 q2 q1 q2` times two passes that each
  * build their memos, so a memo build's cost shows in every pass. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = if (args.length > 1) args.drop(1).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    // honors SPARK_GRAFT_CPUS (round 18) so the ScaleProbe corpus can be
    // timed at 8 vs 32 cores with the same tool; default stays 32
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // session confs for probes and isolation experiments, ';'-separated
    // so list-valued confs keep their commas, e.g. the persisted stores
    // (spark.graft.graph.memoPath, spark.graft.zonemap.manifestPath, …):
    // GRAFT_SQL_CONF="spark.graft.graph.memoPath=/tmp/gm;spark.a=1,2"
    sys.env.get("GRAFT_SQL_CONF").foreach(_.split(";").map(_.trim)
      .filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k.trim, v.trim)
          case _ => sys.error(s"GRAFT_SQL_CONF entry without '=': $kv")
        }
      })
    // Force with the noop sink, matching graft.Bench (count() lets
    // Catalyst prune measure columns — timings then under-measure).
    val pass = scala.collection.mutable.Set.empty[String]
    names.foreach { n =>
      if (!pass.add(n)) {
        graft.util.CorpusMemo.invalidate(spark, sfDir)
        pass.clear(); pass += n
      }
      val t0 = System.nanoTime()
      val ok = try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        df.write.mode("overwrite").format("noop").save()
        true
      } catch { case e: Throwable => println(s"TIMING $n FAILED ${e.getMessage}"); false }
      if (ok) println(f"TIMING $n%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    spark.stop()
  }
}
