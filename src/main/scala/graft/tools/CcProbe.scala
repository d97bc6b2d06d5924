package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
/** Dev tool: time the connected-components kernel on the basket graph
  * in isolation (edge table pre-materialized so only the loop is timed).
  * runMain graft.tools.CcProbe <sfDir> */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val edges = graft.util.Checkpoints.stable(
      graft.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (a, i) =>
            transform(slice(col("ps"), i + 2, size(col("ps"))),
              b => struct(a.as("a"), b.as("b")))))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b")).distinct())
    println(s"edges: ${edges.count()}")
    for (i <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = graft.operators.Pipeline.minLabelComponents(edges).count()
      println(f"pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n vertices")
    }
    spark.stop()
  }
}
