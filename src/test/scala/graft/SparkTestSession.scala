package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[threads, maxFailures=2]: lets the failure-injection spec
      // (MapReduceJobSpec) exercise Spark's task retry — the §2a rows 9-10
      // fault-tolerance path — instead of failing the job on first throw
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // before any spec generates code, or whichever spec compiles first
    // fixes this JVM's generated-class cache at Spark's default size
    Engine.sizeCodegenCache(s)
    s
  }
  val Sf = "/root/testdata/sf0.001"
}
